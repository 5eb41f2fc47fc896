package graft.sinks

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod, struct, xxhash64}

import graft.config.LoadDef
import graft.operators.Ops

/** Sinks (SURVEY §2.10, W1-W9).
  *
  * Two regimes, chosen by `LoadDef.singleFile`:
  *  - distributed (the 100 TB path): every format written by the
  *    DataFrameWriter straight to the target directory — no driver
  *    bytes, no coalesce, any Hadoop scheme (file://, s3a://, hdfs://).
  *  - single-file + optional ZIP (reference parity, W6): each format is
  *    rendered in ONE Spark job — every task turns its partition into a
  *    text chunk, the driver concatenates the chunks in partition order
  *    — and written (or packed into `<name>.zip` via java.util.zip)
  *    through the Hadoop FileSystem API. Single-file semantics are
  *    inherently driver-side (SURVEY §2.10 W6) and meant for small
  *    exports: the whole file is held in driver memory, bounded by the
  *    row cap and `spark.driver.maxResultSize`.
  */
object Sinks {

  /** Write `df` (and the optional intermediate branch) in every
    * configured format; returns the output location written. */
  def write(
      spark: SparkSession,
      df: DataFrame,
      intermediate: Option[DataFrame],
      load: LoadDef,
      pipelineName: String,
      executionId: String): String =
    writeCounted(spark, df, intermediate, load, pipelineName, executionId).location

  /** What a sink write produced: the output location and, when the sink
    * rendered `df` on the driver (single-file or ZIP), its row count. */
  final case class Written(location: String, rows: Option[Long])

  /** [[write]], also returning the row count a single-file/ZIP render
    * already knows, so the caller need not run a count job for it. */
  def writeCounted(
      spark: SparkSession,
      df: DataFrame,
      intermediate: Option[DataFrame],
      load: LoadDef,
      pipelineName: String,
      executionId: String): Written = {
    val baseName = graft.config.Templates.substFilename(
      load.filenamePattern, pipelineName, executionId)
    if (load.zip) writeZip(spark, df, intermediate, load, baseName, pipelineName, executionId)
    else if (load.singleFile) {
      val rows = load.formats.map { fmt =>
        val target = s"${load.outputPath}/${fileName(load, fmt, baseName)}"
        val r = render(df, fmt, load.singleFileMaxRows)
        writeBytes(spark, target, r.bytes)
        r.rows
      }
      Written(load.outputPath, rows.headOption)
    } else {
      load.formats.foreach { fmt =>
        writeDistributed(df, fmt, s"${load.outputPath}/${baseName}_$fmt",
          load.partitionBy, load.mode, load.maxRecordsPerFile)
      }
      Written(load.outputPath, None)
    }
  }

  /** W1/W2/W3 distributed: CSV with RFC-4180 quoting, TSV with X5
    * sanitization and no quoting, JSON as NDJSON, parquet native.
    * Optional Hive-style partition layout for directory pruning.
    * `mode` "overwrite" | "append" | "overwrite_partitions" (dynamic —
    * only partitions present in `df` are replaced; per-write OPTION,
    * not session conf, so concurrent writes are unaffected).
    * `maxRecordsPerFile` > 0 caps rows per output file. */
  def writeDistributed(
      df: DataFrame, format: String, path: String,
      partitionBy: Seq[String] = Nil,
      mode: String = "overwrite",
      maxRecordsPerFile: Long = 0L): Unit = {
    def base(d: DataFrame) = {
      var w = d.write.mode(
        if (mode == "append") SaveMode.Append else SaveMode.Overwrite)
      if (mode == "overwrite_partitions")
        w = w.option("partitionOverwriteMode", "dynamic")
      if (maxRecordsPerFile > 0)
        w = w.option("maxRecordsPerFile", maxRecordsPerFile)
      if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w
    }
    format match {
      case "csv" =>
        base(df)
          .option("header", "true").option("quote", "\"").option("escape", "\"")
          .csv(path)
      case "tsv" =>
        base(Ops.sanitizeTsv(df))
          .option("header", "true").option("sep", "\t").option("quote", "\u0000")
          .csv(path)
      case "json" => base(df).json(path)
      case "parquet" => base(df).parquet(path)
      case "orc" => base(df).orc(path)
      case other => throw new IllegalArgumentException(s"unknown format $other")
    }
  }

  final case class SingleFileTooLarge(rows: Long, cap: Long)
      extends RuntimeException(
        s"single-file render exceeded $cap rows (saw at least $rows); " +
          "use the distributed sink (singleFile = false) for large outputs")

  /** A single-file render: the rows it holds and the file's bytes. */
  private final case class Rendered(rows: Long, bytes: Array[Byte])

  /** Render a DataFrame to one in-memory text blob (reference parity:
    * the reference pre-renders CSV/TSV strings, contextual_pipeline.rs:
    * 1016-1061; JSON is a pretty array, :1179-1183). One Spark job per
    * call (see [[renderChunks]]); hard-fails past `maxRows` — the
    * 100 TB path is writeDistributed. */
  def renderSingle(df: DataFrame, format: String, maxRows: Long = 1000000L): Array[Byte] =
    render(df, format, maxRows).bytes

  private def render(df: DataFrame, format: String, maxRows: Long): Rendered =
    format match {
      case "csv" => renderSep(df, ",", quote = true, maxRows)
      case "tsv" => renderSep(Ops.sanitizeTsv(df), "\t", quote = false, maxRows)
      case "json" => renderChunks(df.toJSON, maxRows, "[\n", ",\n", "\n]")(identity)
      case other => throw new IllegalArgumentException(s"unknown single-file format $other")
    }

  /** X4 — RFC-4180 escaping: quote fields containing sep/quote/newline,
    * double inner quotes; null → empty (reference contextual_pipeline.rs:
    * 1017-1041). */
  private def renderSep(
      df: DataFrame, sep: String, quote: Boolean, maxRows: Long): Rendered = {
    val cols = df.columns
    renderChunks(df, maxRows, cols.mkString(sep) + "\n", "", "") { row =>
      val cells = cols.indices.map { i =>
        val v = row.get(i)
        val s = if (v == null) "" else String.valueOf(v)
        if (quote && (s.contains(sep) || s.contains("\"") || s.contains("\n")))
          "\"" + s.replace("\"", "\"\"") + "\""
        else s
      }
      cells.mkString(sep) + "\n"
    }
  }

  /** Render `ds` in ONE Spark job: each task joins at most `maxRows + 1`
    * of its rows (`line` each, `sep` between) into one UTF-8 chunk; the
    * driver collects (rows, chunk) in partition order — a sorted frame
    * keeps its order — and writes `head`, the non-empty chunks joined by
    * `sep`, then `tail`. The cap is checked here on the summed rows, so
    * [[SingleFileTooLarge]] is thrown directly, not wrapped in a task
    * failure. Driver memory holds the collected chunks: at most `maxRows`
    * rows on success, and never more than `spark.driver.maxResultSize`. */
  private def renderChunks[T](
      ds: Dataset[T], maxRows: Long, head: String, sep: String, tail: String)(
      line: T => String): Rendered = {
    val parts = ds.mapPartitions { it =>
      val sb = new java.lang.StringBuilder
      var n = 0L
      while (n <= maxRows && it.hasNext) {
        if (n > 0) sb.append(sep)
        sb.append(line(it.next()))
        n += 1
      }
      Iterator(n -> sb.toString.getBytes(StandardCharsets.UTF_8))
    }(Encoders.tuple(Encoders.scalaLong, Encoders.BINARY)).collect()
    val rows = parts.map(_._1).sum
    if (rows > maxRows) throw SingleFileTooLarge(rows, maxRows)
    val out = new ByteArrayOutputStream()
    out.write(utf8(head))
    parts.map(_._2).filter(_.nonEmpty).zipWithIndex.foreach { case (chunk, i) =>
      if (i > 0) out.write(utf8(sep))
      out.write(chunk)
    }
    out.write(utf8(tail))
    Rendered(rows, out.toByteArray)
  }

  private def utf8(s: String): Array[Byte] = s.getBytes(StandardCharsets.UTF_8)

  /** W6 — ZIP packaging: all formats + optional intermediate.json (W4,
    * only when non-empty) + metadata.json (W5) into one archive. */
  private def writeZip(
      spark: SparkSession,
      df: DataFrame,
      intermediate: Option[DataFrame],
      load: LoadDef,
      baseName: String,
      pipelineName: String,
      executionId: String): Written = {
    val buf = new ByteArrayOutputStream()
    val zip = new ZipOutputStream(buf)
    def entry(name: String, bytes: Array[Byte]): Unit = {
      zip.putNextEntry(new ZipEntry(name))
      zip.write(bytes)
      zip.closeEntry()
    }
    val rows = load.formats.map { fmt =>
      val r = render(df, fmt, load.singleFileMaxRows)
      entry(fileName(load, fmt, "output"), r.bytes)
      r.rows
    }
    intermediate.map(render(_, "json", load.singleFileMaxRows)).filter(_.rows > 0)
      .foreach(r => entry("intermediate.json", r.bytes))
    if (load.includeMetadata) {
      val ts = java.time.format.DateTimeFormatter.ISO_INSTANT
        .format(java.time.Instant.now())
      val meta =
        s"""{"pipeline_name":"$pipelineName","execution_id":"$executionId","timestamp":"$ts"}"""
      entry("metadata.json", meta.getBytes(StandardCharsets.UTF_8))
    }
    zip.close()
    val target = s"${load.outputPath}/$baseName.zip"
    writeBytes(spark, target, buf.toByteArray)
    Written(target, rows.headOption)
  }

  /** W9 — per-format filenames (hardcoded names in the reference). */
  private def fileName(load: LoadDef, fmt: String, base: String): String =
    load.filenames.getOrElse(fmt, s"$base.${ext(fmt)}")

  private def ext(fmt: String) = if (fmt == "tsv") "tsv" else fmt

  /** Bucketed table write: pre-shuffles on `bucketCols` into `buckets`
    * files per partition so later equi joins/aggregations on those
    * columns read co-located data and skip the shuffle entirely (both
    * sides bucketed the same way → SortMergeJoin with NO Exchange).
    * The big-table join strategy at 100 TB: pay the shuffle once at
    * write time, amortize it over every downstream join. Bucketing
    * requires the table catalog (saveAsTable), not a bare path. */
  def writeBucketed(
      df: DataFrame,
      table: String,
      bucketCols: Seq[String],
      buckets: Int,
      sortCols: Seq[String] = Nil,
      format: String = "parquet"): Unit = {
    val w = df.write.mode(SaveMode.Overwrite).format(format)
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }

  /** Z-order clustered write: range-partition and sort the frame by the
    * Morton code of `zCols` (see Ops.zorderValue — columns must be
    * non-negative integer buckets), then drop the code before writing.
    * Files carry tight min/max ranges in EVERY z dimension, so a
    * multi-dimensional box filter reads a few files instead of the
    * table; within files the sort tightens parquet row-group stats the
    * same way. Pays ONE range shuffle at write time — the same trade as
    * writeBucketed, aimed at range predicates instead of equi joins. */
  def writeZOrdered(
      df: DataFrame, path: String, zCols: Seq[Column], files: Int,
      bits: Int = 16, format: String = "parquet"): Unit = {
    df.withColumn("__z", Ops.zorderValue(zCols, bits))
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode(SaveMode.Overwrite).format(format).save(path)
  }

  /** Compact the small files of a Hive-partitioned parquet table — the
    * maintenance pass every incremental sink needs: repeated
    * [[graft.streaming.Streams.upsertBatch]] / append batches fragment
    * partitions into per-batch files, and at 100 TB the resulting
    * listing + open-per-file cost dominates reads long before data
    * volume does. Rewrites each selected partition's rows into
    * ~`maxRecordsPerFile`-row files.
    *
    * Scale shape: the compacted data is written to a STAGING directory
    * first and each partition directory is then swapped into place —
    * the table's data never has to fit in executor/block-manager
    * memory (no localCheckpoint of the whole table), and a crash
    * before the swap leaves the live table intact. One shuffle on
    * (partition, salt): `parallelism` spreads a hot partition across
    * that many writer tasks — per-value single-writer is the classic
    * compactor bottleneck. Scope daily runs with `partitionValues`
    * (only those partitions are read, pruned at the scan).
    *
    * Crash contract (rerun-to-finish): each partition swap is
    * rename-aside → rename-in → drop-aside, so at every instant either
    * the live directory or the aside copy holds a complete copy of the
    * partition, and the staged copy is never the only one that a later
    * cleanup could delete. A crash mid-pass leaves a mix of compacted
    * and not-yet-compacted partitions — content-identical to the live
    * table either way — plus staging/aside leftovers; the next
    * [[compactPartitions]] call first runs [[recoverCompaction]],
    * which finishes a committed pass (staging marker present),
    * restores any partition whose only copy is the aside dir, and
    * only then discards leftovers. Single compactor per table path
    * assumed (concurrent passes would race on the same staging dir). */
  def compactPartitions(
      spark: SparkSession,
      tablePath: String,
      partitionCol: String,
      maxRecordsPerFile: Long,
      parallelism: Int = 4,
      partitionValues: Option[Seq[Any]] = None): Unit = {
    require(maxRecordsPerFile > 0 && parallelism > 0,
      "compaction needs positive file size and parallelism")
    val table = new Path(tablePath)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new Path(tablePath + StagingSuffix)
    val aside = new Path(tablePath + AsideSuffix)
    recoverCompaction(spark, tablePath)
    val all = spark.read.parquet(tablePath)
    val scoped = partitionValues
      .map(vs => all.filter(col(partitionCol).isin(vs: _*)))
      .getOrElse(all)
    val salt = pmod(xxhash64(struct(scoped.columns.toIndexedSeq.map(col): _*)),
      lit(parallelism.toLong))
    scoped
      .repartition(col(partitionCol), salt)
      .write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partitionCol)
      .parquet(staging.toString)
    // Commit point: once the marker exists, the staged pass is complete
    // and MUST be swapped in (by this run or a recovery rerun).
    fs.create(new Path(staging, StagedMarker), true).close()
    swapStagedPartitions(fs, table, staging, aside)
    fs.delete(staging, true)
    fs.delete(aside, true)
  }

  private val StagingSuffix = "__graft_compact_staging"
  private val AsideSuffix = "__graft_compact_old"
  private val StagedMarker = "_GRAFT_STAGED"

  /** Swap every staged partition directory into the live table.
    * Per partition: live → aside (keeps the old copy), staged → live,
    * drop aside. Idempotent over a partial pass: partitions already
    * swapped have no staged dir left and are skipped. */
  private def swapStagedPartitions(
      fs: org.apache.hadoop.fs.FileSystem,
      table: Path, staging: Path, aside: Path): Unit = {
    fs.mkdirs(aside)
    fs.listStatus(staging)
      .filter(st => st.isDirectory && st.getPath.getName.contains("="))
      .foreach { st =>
        val dest = new Path(table, st.getPath.getName)
        val old = new Path(aside, st.getPath.getName)
        if (fs.exists(dest) && !fs.rename(dest, old))
          throw new java.io.IOException(
            s"compaction aside-rename failed for $dest -> $old")
        if (!fs.rename(st.getPath, dest))
          throw new java.io.IOException(
            s"compaction swap failed for ${st.getPath} -> $dest")
        fs.delete(old, true)
      }
  }

  /** Bring a table back to a consistent state after a compaction pass
    * crashed mid-swap. Safe to call any time (no-op on a clean table):
    *  1. an aside dir whose live partition is missing is the ONLY copy
    *     (crash between rename-aside and rename-in) → restored;
    *     an aside dir whose live partition exists is a superseded copy
    *     (crash before drop-aside) → dropped;
    *  2. a staging dir with the commit marker is a complete compacted
    *     pass → the remaining swaps are finished; without the marker
    *     the staged write never completed and the live table was never
    *     touched → discarded. */
  def recoverCompaction(spark: SparkSession, tablePath: String): Unit = {
    val table = new Path(tablePath)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new Path(tablePath + StagingSuffix)
    val aside = new Path(tablePath + AsideSuffix)
    if (fs.exists(aside)) {
      fs.listStatus(aside)
        .filter(st => st.isDirectory && st.getPath.getName.contains("="))
        .foreach { st =>
          val dest = new Path(table, st.getPath.getName)
          if (!fs.exists(dest)) {
            if (!fs.rename(st.getPath, dest))
              throw new java.io.IOException(
                s"compaction recovery restore failed for ${st.getPath} -> $dest")
          } else fs.delete(st.getPath, true)
        }
    }
    if (fs.exists(staging)) {
      if (fs.exists(new Path(staging, StagedMarker)))
        swapStagedPartitions(fs, table, staging, aside)
      fs.delete(staging, true)
    }
    fs.delete(aside, true)
  }

  /** Driver byte write through the Hadoop FileSystem API so local and
    * object-store URIs take the same path (W8: unlike the reference,
    * write errors propagate — documented fix of the swallow at
    * lambda.rs:210-244). */
  def writeBytes(spark: SparkSession, target: String, bytes: Array[Byte]): Unit = {
    val path = new Path(target)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(path, true)
    try out.write(bytes) finally out.close()
  }

  /** Read bytes back (Storage.read_file parity, ports.rs:5-12). */
  def readBytes(spark: SparkSession, target: String): Array[Byte] = {
    val path = new Path(target)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(path)
    try in.readAllBytes() finally in.close()
  }
}
