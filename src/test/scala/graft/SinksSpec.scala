package graft

import java.io.ByteArrayInputStream
import java.nio.charset.StandardCharsets
import java.util.zip.ZipInputStream

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.config.LoadDef
import graft.sinks.Sinks

/** W1-W9 sink goldens — mirrors the reference's ZIP/CSV content
  * assertions (src/core/pipeline.rs:86-502) and the X4 escaping table
  * (contextual_pipeline.rs:1017-1041). */
class SinksSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft_sinks").toString

  private lazy val df = Seq(
    (1, "plain", 10.5),
    (2, "has,comma", 20.0),
    (3, "has\"quote", 30.25),
    (4, "has\nnewline\tand tab", 40.0)
  ).toDF("id", "name", "value")

  // ----- incremental sink modes ---------------------------------------
  test("overwrite_partitions replaces only the incoming partitions; " +
    "append accumulates; full overwrite would drop history") {
    val dir = tmpDir()
    val full = Seq((1L, "a", "d1"), (2L, "b", "d1"), (3L, "c", "d2"))
      .toDF("id", "v", "day")
    Sinks.writeDistributed(full, "parquet", s"$dir/t", Seq("day"))
    // refresh ONLY day=d2 — the incremental daily-partition pattern
    val d2new = Seq((9L, "z", "d2")).toDF("id", "v", "day")
    Sinks.writeDistributed(d2new, "parquet", s"$dir/t", Seq("day"),
      mode = "overwrite_partitions")
    val ids = spark.read.parquet(s"$dir/t")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids === Set(1L, 2L, 9L), "d1 history intact, d2 replaced")

    Sinks.writeDistributed(d2new, "parquet", s"$dir/ap", Seq("day"), mode = "append")
    Sinks.writeDistributed(d2new, "parquet", s"$dir/ap", Seq("day"), mode = "append")
    assert(spark.read.parquet(s"$dir/ap").count() === 2)
  }

  test("max_records_per_file splits oversized tasks into bounded part files") {
    val dir = tmpDir()
    Sinks.writeDistributed(spark.range(100).toDF("id"), "parquet",
      s"$dir/mrf", maxRecordsPerFile = 10L)
    val parts = new java.io.File(s"$dir/mrf")
      .listFiles().count(_.getName.startsWith("part-"))
    assert(parts >= 10, s"100 rows / cap 10 must yield >= 10 files, got $parts")
  }

  test("load.mode validation: bad mode, unpartitioned dynamic overwrite, " +
    "and non-distributed modes are rejected") {
    import graft.config._
    import graft.engine.Orchestrator
    def seqWith(l: LoadDef) = SequenceDef("s", Seq("p"), Seq(
      PipelineDef("p", FileSource("/x"), load = Some(l))))
    intercept[Orchestrator.ValidationException](Orchestrator.validate(
      seqWith(LoadDef("/out", mode = "merge"))))
    intercept[Orchestrator.ValidationException](Orchestrator.validate(
      seqWith(LoadDef("/out", mode = "overwrite_partitions"))))
    intercept[Orchestrator.ValidationException](Orchestrator.validate(
      seqWith(LoadDef("/out", mode = "append", singleFile = true))))
    Orchestrator.validate(seqWith(LoadDef("/out",
      mode = "overwrite_partitions", partitionBy = Seq("day"))))
  }

  // ----- X4 fuzz: escaping survives arbitrary nasty content ----------
  test("X4 fuzz: 200 generated strings with quotes/newlines/tabs/unicode " +
    "roundtrip through the CSV renderer byte-exactly") {
    val rnd = new scala.util.Random(42) // deterministic corpus
    // chars only — a surrogate PAIR goes in whole below (picking half a
    // pair would build an invalid string, which no renderer can save)
    val alphabet =
      "abcXYZ012 ,\"'\n\t;|\\é世界".toCharArray
    def nasty(): String = {
      val base = Iterator.fill(rnd.nextInt(30))(alphabet(rnd.nextInt(alphabet.length)))
        .mkString
      if (rnd.nextBoolean()) base + "😀" else base // full emoji pair
    }
    val rows = Seq.tabulate(200)(i => (i.toLong, nasty()))
    val src = rows.toDF("id", "payload")
    val out = tmpDir()
    Sinks.writeBytes(spark, s"$out/fuzz.csv", Sinks.renderSingle(src, "csv"))
    val back = spark.read
      .option("header", "true").option("multiLine", "true").option("escape", "\"")
      .schema("id LONG, payload STRING")
      .csv(s"$out/fuzz.csv")
      .collect().map(r => r.getLong(0) -> Option(r.getString(1)).getOrElse("")).toMap
    val bad = rows.filter { case (id, s) => back(id) != s }
    bad.take(5).foreach { case (id, s) =>
      def hex(x: String) = x.getBytes(StandardCharsets.UTF_8).map("%02x".format(_)).mkString(" ")
      info(s"row $id want=[${hex(s)}] got=[${hex(back(id))}]")
    }
    assert(bad.isEmpty, s"${bad.size} rows corrupted by CSV roundtrip")
  }

  // ----- X4: RFC-4180 CSV escaping golden -----------------------------
  test("X4: single-file CSV quotes separators/quotes/newlines and doubles inner quotes") {
    val bytes = Sinks.renderSingle(df.orderBy("id"), "csv")
    val text = new String(bytes, StandardCharsets.UTF_8)
    val lines = text.split("\n", -1)
    assert(lines(0) === "id,name,value")
    assert(lines(1) === "1,plain,10.5")
    assert(lines(2) === "2,\"has,comma\",20.0")
    assert(lines(3) === "3,\"has\"\"quote\",30.25")
    // the newline-bearing field is quoted, so row 4 spans two physical lines
    assert(lines(4) === "4,\"has")
    assert(lines(5) === "newline\tand tab\",40.0")
  }

  // ----- X5: TSV sanitization golden ----------------------------------
  test("X5: single-file TSV replaces tabs/newlines with spaces, no quoting") {
    val bytes = Sinks.renderSingle(df.orderBy("id"), "tsv")
    val lines = new String(bytes, StandardCharsets.UTF_8).split("\n", -1)
    assert(lines(0) === "id\tname\tvalue")
    assert(lines(2) === "2\thas,comma\t20.0")
    assert(lines(4) === "4\thas newline and tab\t40.0")
  }

  // ----- W3: JSON array single-file -----------------------------------
  test("W3: single-file JSON is a pretty array of records") {
    val bytes = Sinks.renderSingle(df.filter($"id" <= 2).orderBy("id"), "json")
    val text = new String(bytes, StandardCharsets.UTF_8)
    assert(text.startsWith("[\n") && text.endsWith("\n]"))
    assert(text.contains(""""name":"plain""""))
    assert(text.split(",\n").length === 2)
  }

  // ----- single-file cap ----------------------------------------------
  test("single-file render hard-fails past the row cap instead of buffering") {
    val big = spark.range(100).select($"id")
    intercept[Sinks.SingleFileTooLarge] {
      Sinks.renderSingle(big, "csv", maxRows = 10)
    }
    intercept[Sinks.SingleFileTooLarge] {
      Sinks.renderSingle(big, "json", maxRows = 10)
    }
  }

  // ----- one job per format: layout-independent bytes -----------------
  /** A frame sorted by id, spread over `parts` ordered partitions; the
    * filter leaves some of them empty. Columns: long, double (NaN too),
    * nullable long, string with quotes/separators/newlines/unicode, and
    * a timestamp. */
  private def typedFrame(parts: Int) = spark.range(0, 64, 1, parts)
    .filter($"id" % 5 === 0)
    .select(
      $"id",
      when($"id" === 10, lit(Double.NaN)).otherwise($"id" / 4.0).as("dbl"),
      when($"id" % 3 === 0, lit(null)).otherwise($"id" * -7).as("maybe"),
      when($"id" === 20, lit(null).cast("string"))
        .otherwise(concat(lit("q\"uote,"), $"id", lit("\nline\ttab é世界😀"))).as("text"),
      timestamp_seconds(lit(1700000000.25) + $"id" * 3600).as("ts"))

  test("single-file bytes do not depend on the partition layout " +
    "(one partition vs many, some empty)") {
    val one = typedFrame(1)
    val many = typedFrame(16)
    val sizes = many.mapPartitions(it => Iterator(it.size)).collect()
    assert(sizes.length === 16 && sizes.count(_ == 0) >= 3,
      s"the spread layout must have empty partitions: ${sizes.mkString(",")}")
    Seq("csv", "tsv", "json").foreach { fmt =>
      val a = Sinks.renderSingle(one, fmt)
      val b = Sinks.renderSingle(many, fmt)
      assert(a.sameElements(b), s"$fmt bytes moved with the layout")
    }
    val csv = new String(Sinks.renderSingle(many, "csv"), StandardCharsets.UTF_8)
    assert(csv.startsWith("id,dbl,maybe,text,ts\n0,0.0,,\"q\"\"uote,0\nline\ttab é世界😀\","))
    assert(csv.contains("\n10,NaN,-70,"))
    assert(csv.contains("\n20,5.0,-140,,"))
    val json = new String(Sinks.renderSingle(many, "json"), StandardCharsets.UTF_8)
    assert(json.split(",\n\\{").length === 13 && json.endsWith("}\n]"))
  }

  test("an empty frame renders a header-only CSV/TSV and an empty JSON array") {
    val empty = spark.range(0, 64, 1, 4).filter($"id" < 0).select($"id", $"id".as("v"))
    def text(fmt: String) = new String(Sinks.renderSingle(empty, fmt), StandardCharsets.UTF_8)
    assert(text("csv") === "id,v\n")
    assert(text("tsv") === "id\tv\n")
    assert(text("json") === "[\n\n]")
  }

  test("single-file cap holds across partitions that are each under it") {
    val spread = spark.range(0, 100, 1, 20).toDF("id") // 5 rows per partition
    Seq("csv", "tsv", "json").foreach { fmt =>
      val e = intercept[Sinks.SingleFileTooLarge](Sinks.renderSingle(spread, fmt, maxRows = 10))
      assert(e.cap === 10L && e.rows > 10L)
      intercept[Sinks.SingleFileTooLarge](
        Sinks.renderSingle(spark.range(0, 11, 1, 5).toDF("id"), fmt, maxRows = 10))
    }
    val exact = spark.range(0, 10, 1, 5).toDF("id")
    val lines = new String(Sinks.renderSingle(exact, "csv", maxRows = 10),
      StandardCharsets.UTF_8).split("\n")
    assert(lines.toSeq === "id" +: (0 until 10).map(_.toString))
    val json = new String(Sinks.renderSingle(exact, "json", maxRows = 10), StandardCharsets.UTF_8)
    assert(json === (0 until 10).map(i => s"""{"id":$i}""").mkString("[\n", ",\n", "\n]"))
  }

  test("a single-file render is one Spark job, whatever the partition count") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val wide = spark.range(0, 1000, 1, 32).toDF("id")
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(groups.add)
    }
    val sc = spark.sparkContext
    val formats = Seq("csv", "tsv", "json")
    sc.addSparkListener(listener)
    try {
      formats.foreach { fmt =>
        sc.setJobGroup(s"render-$fmt", fmt)
        try Sinks.renderSingle(wide, fmt) finally sc.clearJobGroup()
      }
      // listener events post asynchronously: wait for the expected ones,
      // then a little longer so an extra job would be seen too
      val deadline = System.nanoTime() + 10000000000L
      while (groups.size < formats.size && System.nanoTime() < deadline) Thread.sleep(50)
      Thread.sleep(300)
      val perFormat = groups.asScala.toSeq.groupBy(identity).map { case (g, js) => g -> js.size }
      assert(perFormat === formats.map(f => s"render-$f" -> 1).toMap,
        "each format must render in exactly one job over 32 partitions")
    } finally sc.removeSparkListener(listener)
  }

  test("writeCounted reports the rendered row count for single-file and " +
    "ZIP sinks, and none for distributed ones") {
    val dir = tmpDir()
    def counted(l: LoadDef) = Sinks.writeCounted(spark, df, None, l, "p", "e").rows
    assert(counted(LoadDef(outputPath = dir, formats = Seq("csv", "json"),
      filenamePattern = "sf", singleFile = true)) === Some(4L))
    assert(counted(LoadDef(outputPath = dir, formats = Seq("tsv"),
      filenamePattern = "z", zip = true)) === Some(4L))
    assert(counted(LoadDef(outputPath = dir, formats = Seq("parquet"),
      filenamePattern = "d")) === None)
  }

  // ----- W6: ZIP packaging golden -------------------------------------
  test("W6: zip contains per-format outputs, metadata, and intermediate iff non-empty") {
    val dir = tmpDir()
    val load = LoadDef(outputPath = dir, formats = Seq("csv", "json"),
      filenamePattern = "bundle", zip = true, includeMetadata = true)
    val inter = df.filter($"id" === 1)
    val target = Sinks.write(spark, df.orderBy("id"), Some(inter), load, "p1", "exec42")
    assert(target === s"$dir/bundle.zip")

    val zin = new ZipInputStream(
      new ByteArrayInputStream(Sinks.readBytes(spark, target)))
    val entries = Iterator.continually(zin.getNextEntry).takeWhile(_ != null)
      .map { e =>
        val bytes = zin.readAllBytes()
        e.getName -> new String(bytes, StandardCharsets.UTF_8)
      }.toMap
    assert(entries.keySet === Set("output.csv", "output.json",
      "intermediate.json", "metadata.json"))
    assert(entries("output.csv").startsWith("id,name,value\n1,plain,10.5"))
    assert(entries("metadata.json").contains(""""pipeline_name":"p1""""))
    assert(entries("metadata.json").contains(""""execution_id":"exec42""""))
    assert(entries("intermediate.json").contains(""""id":1"""))
  }

  test("W6: empty intermediate branch writes no intermediate.json") {
    val dir = tmpDir()
    val load = LoadDef(outputPath = dir, formats = Seq("csv"),
      filenamePattern = "b2", zip = true)
    val target = Sinks.write(spark, df, Some(df.filter($"id" > 999)), load, "p", "e")
    val zin = new ZipInputStream(
      new ByteArrayInputStream(Sinks.readBytes(spark, target)))
    val names = Iterator.continually(zin.getNextEntry).takeWhile(_ != null)
      .map(_.getName).toSet
    assert(names === Set("output.csv"))
  }

  // ----- W9: per-format filename override -----------------------------
  test("W9: filenames map overrides the derived name per format") {
    val dir = tmpDir()
    val load = LoadDef(outputPath = dir, formats = Seq("csv"), zip = true,
      filenames = Map("csv" -> "custom_name.csv"))
    val target = Sinks.write(spark, df.limit(1), None, load, "p", "e")
    val zin = new ZipInputStream(
      new ByteArrayInputStream(Sinks.readBytes(spark, target)))
    assert(zin.getNextEntry.getName === "custom_name.csv")
  }

  // ----- distributed default ------------------------------------------
  test("distributed write (the default) produces a readable multi-part directory") {
    val dir = tmpDir()
    val load = LoadDef(outputPath = dir, formats = Seq("csv", "parquet"),
      filenamePattern = "out")
    assert(!load.singleFile, "distributed must be the default")
    Sinks.write(spark, df, None, load, "p", "e")
    // multiLine: one value legitimately contains a quoted newline
    val back = spark.read.option("header", "true")
      .option("multiLine", "true").option("escape", "\"")
      .csv(s"$dir/out_csv")
    assert(back.count() === 4)
    assert(spark.read.parquet(s"$dir/out_parquet").count() === 4)
  }

  test("zorderValue interleaves bits: known Morton codes, dimension order") {
    val out = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (3L, 5L))
      .toDF("x", "y")
      .select(graft.operators.Ops.zorderValue(Seq($"x", $"y"), bits = 4).as("z"))
      .collect().map(_.getLong(0)).toSeq
    // bit i of x → z bit 2i; bit i of y → z bit 2i+1
    // (3,5) = x bits {0,1}, y bits {0,2} → z bits {0,2} ∪ {1,5} = 100111b
    assert(out === Seq(0L, 1L, 2L, 3L, 39L))
    intercept[IllegalArgumentException] {
      graft.operators.Ops.zorderValue(Seq($"x", $"y"), bits = 32) // 64 > 62
    }
  }

  test("z-order clustered write: a 2-d box filter touches a small " +
    "fraction of the files") {
    val n = 100000L
    val df = spark.range(n).select(
      (col("id") % 1000).as("x"),
      ((col("id") * 7919) % 1000).as("y"),
      col("id").as("payload"))
    val dir = tmpDir()
    Sinks.writeZOrdered(df, s"$dir/z", Seq(col("x"), col("y")),
      files = 16, bits = 10)
    val back = spark.read.parquet(s"$dir/z")
    assert(back.count() === n, "clustering must not lose rows")
    assert(back.columns.toSeq.sorted === Seq("payload", "x", "y"),
      "the internal z column must not leak into the written schema")
    def filesTouched(cond: org.apache.spark.sql.Column): Long =
      back.filter(cond).select(input_file_name()).distinct().count()
    assert(filesTouched(lit(true)) === 16L, "expected 16 written files")
    val box = filesTouched(col("x") < 100 && col("y") < 100)
    assert(box <= 4,
      s"z-ordered box query should prune most files, touched $box of 16")
  }

  test("compactPartitions: fragmented partition collapses to few files, " +
    "rows byte-identical, unscoped partition left untouched") {
    val dir = tmpDir()
    val table = s"$dir/frag"
    // 8 writer tasks per partition → 8 small files in each of p=a, p=b
    spark.range(400).select(
      (col("id") % 2 === 0).cast("string").as("p"),
      col("id").as("v"))
      .withColumn("p", when(col("p") === "true", "a").otherwise("b"))
      .repartition(8)
      .write.partitionBy("p").parquet(table)
    def partFiles(p: String): Long =
      spark.read.parquet(table).filter(col("p") === p)
        .select(input_file_name()).distinct().count()
    val before = spark.read.parquet(table).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(partFiles("a") === 8L && partFiles("b") === 8L)
    Sinks.compactPartitions(spark, table, "p",
      maxRecordsPerFile = 1000000L, parallelism = 2,
      partitionValues = Some(Seq("a")))
    assert(partFiles("a") <= 2L,
      s"compacted partition should have <= parallelism files, got ${partFiles("a")}")
    assert(partFiles("b") === 8L, "unscoped partition must be untouched")
    val after = spark.read.parquet(table).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(after === before, "compaction must not change the data")
    // full-table compaction sweeps the rest
    Sinks.compactPartitions(spark, table, "p",
      maxRecordsPerFile = 1000000L, parallelism = 1)
    assert(partFiles("b") === 1L)
    assert(spark.read.parquet(table).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet === before)
  }

  test("compactPartitions crash recovery: a partition whose ONLY copy " +
    "is the aside dir is restored, a committed staging pass is finished, " +
    "and the rerun completes the compaction") {
    import org.apache.hadoop.fs.Path
    val dir = tmpDir()
    val table = s"$dir/crash"
    spark.range(100).select(
      when(col("id") % 2 === 0, "a").otherwise("b").as("p"),
      col("id").as("v"))
      .repartition(4)
      .write.partitionBy("p").parquet(table)
    val before = spark.read.parquet(table).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val fs = new Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Build the worst crash state by hand: a full pass was staged and
    // committed (marker present); for p=a the crash hit between
    // rename-aside and rename-in, so the live p=a is GONE and the old
    // copy sits in the aside dir; p=b was never swapped.
    val staging = new Path(table + "__graft_compact_staging")
    val aside = new Path(table + "__graft_compact_old")
    spark.read.parquet(table)
      .repartition(col("p"))
      .write.partitionBy("p").parquet(staging.toString)
    fs.create(new Path(staging, "_GRAFT_STAGED"), true).close()
    fs.mkdirs(aside)
    assert(fs.rename(new Path(table, "p=a"), new Path(aside, "p=a")))
    // The old code's first move (`fs.delete(staging, true)`) would have
    // destroyed the only durable copy of p=a here. The rerun must
    // instead finish the committed pass and keep every row.
    Sinks.compactPartitions(spark, table, "p",
      maxRecordsPerFile = 1000000L, parallelism = 1)
    val after = spark.read.parquet(table).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(after === before, "recovery must not lose or duplicate rows")
    assert(!fs.exists(staging) && !fs.exists(aside),
      "recovery must clean up staging and aside dirs")
  }

  test("compactPartitions crash recovery: uncommitted staging garbage " +
    "is discarded and aside-only partitions restored, table intact") {
    import org.apache.hadoop.fs.Path
    val dir = tmpDir()
    val table = s"$dir/crash2"
    spark.range(60).select(
      when(col("id") % 3 === 0, "a").otherwise("b").as("p"),
      col("id").as("v"))
      .write.partitionBy("p").parquet(table)
    val before = spark.read.parquet(table).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val fs = new Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Crash mid-write: staging exists but has NO commit marker (and
    // holds a half-written, garbage partition) — must be discarded,
    // never swapped in.
    val staging = new Path(table + "__graft_compact_staging")
    fs.mkdirs(new Path(staging, "p=a"))
    fs.create(new Path(staging, "p=a/part-00000.parquet"), true).close()
    // Separately, a leftover aside copy whose live partition vanished
    // (simulates a crash in an earlier pass) must come back.
    val aside = new Path(table + "__graft_compact_old")
    fs.mkdirs(aside)
    assert(fs.rename(new Path(table, "p=b"), new Path(aside, "p=b")))
    Sinks.recoverCompaction(spark, table)
    val after = spark.read.parquet(table).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(after === before,
      "uncommitted staging must be dropped, aside-only partition restored")
    assert(!fs.exists(staging) && !fs.exists(aside))
  }
}
