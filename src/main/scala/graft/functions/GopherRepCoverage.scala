package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native per-document kernel for the Gopher repetition battery
  * ([[graft.operators.TextOps.gopherRepetition]]'s core): every
  * grouping in that battery is WITHIN one document — (doc, n, gram)
  * counts, then per-(doc, n) top/dup coverage — so none of it needs a
  * shuffle at all. The r20 sf10 stage probe
  * (`bench_r20_gopher_rep_stages_sf10.json`) put the relational form's
  * cost in exactly that machinery: explode to ~9 gram rows per word
  * (230M rows at sf10) + the (doc, chars, n, gramhash) hash
  * aggregation = 43 s of the 51.6 s query, vs 3.7 s for the window the
  * r19 verdict suspected. This kernel computes, in ONE compiled pass
  * per document, for each requested n:
  *
  *   top_n = max over distinct n-grams of count·len
  *   dup_n = Σ over n-grams with count ≥ 2 of count·len
  *
  * with EXACTLY the relational form's key and length semantics:
  *  - gram key = the left fold `acc = (acc·31 + PolyHash(word)) mod p`
  *    over the window's word hashes (p = 1e9+7) — the key the DuckDB
  *    oracle replays; a within-doc hash collision merges two gram
  *    counts identically in both forms;
  *  - len = Σ word lengths (code points, Spark `length()`) + (n−1),
  *    and per distinct gram the MAX over its occurrences' lens (only
  *    differs under a key collision — `max(__l0)` in the old agg);
  *  - a gram window containing a NULL word element contributes
  *    nothing (the relational form's null-keyed groups had NULL
  *    coverage, which `max`/`sum` aggregation skipped). `split()`
  *    arrays never contain nulls, so this path is defensive only.
  *
  * Returns `struct(top_<n>.. BIGINT, dup_<n>.. BIGINT)` (zeros when
  * the doc has no n-gram — the old left-join + `na.fill(0)` rendering);
  * NULL words array → NULL struct (null-intolerant unary), which the
  * operator coalesces to 0 exactly as the old join path filled it.
  * Evaluated once per row however many fields are read
  * ([[EvalOncePerRow]]). */
case class GopherRepCoverage(
    child: Expression, topNs: Seq[Int], dupNs: Seq[Int])
  extends UnaryExpression with EvalOncePerRow {
  private val allNs = (topNs ++ dupNs).distinct.sorted
  require(allNs.nonEmpty && allNs.min >= 2 && allNs.max < 64,
    s"n-gram sizes must be in [2, 64): $allNs")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_gopher_rep_coverage requires ARRAY<STRING> input, got ${other.catalogString}")
  }
  override def dataType: DataType = StructType(
    topNs.sorted.map(n => StructField(s"top_$n", LongType, nullable = false)) ++
      dupNs.sorted.map(n => StructField(s"dup_$n", LongType, nullable = false)))
  override def prettyName: String = "graft_gopher_rep_coverage"

  @transient private lazy val kernel =
    new GopherRepCoverage.Kernel(topNs.sorted.toArray, dupNs.sorted.toArray)

  override protected def nullSafeEval(input: Any): Any =
    kernel.cover(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("gopherCovKernel", kernel,
      classOf[GopherRepCoverage.Kernel].getName)
    defineCodeGen(ctx, ev, c => s"$ref.cover($c)")
  }

  override protected def withNewChildInternal(
      newChild: Expression): GopherRepCoverage = copy(child = newChild)
}

object GopherRepCoverage {
  private final val Mod = 1000000007L

  final class Kernel(topNs: Array[Int], dupNs: Array[Int])
      extends Serializable {
    private val allNs: Array[Int] = (topNs ++ dupNs).distinct.sorted
    private val maxN: Int = allNs.max
    // membership mask: isN(n) true iff n is a requested size
    private val isN: Array[Boolean] = {
      val a = new Array[Boolean](maxN + 1)
      allNs.foreach(n => a(n) = true)
      a
    }

    def cover(arr: ArrayData): InternalRow = {
      val len = arr.numElements()
      // per-word hash + code-point length; nullW marks null elements
      val h = new Array[Long](len)
      val l = new Array[Long](len)
      val nullW = new Array[Boolean](len)
      var i = 0
      while (i < len) {
        if (arr.isNullAt(i)) nullW(i) = true
        else {
          val w = arr.getUTF8String(i)
          h(i) = PolyHash.hashUtf8(w)
          l(i) = w.numChars().toLong
        }
        i += 1
      }
      // one map over (gram key · 64 + n): value = [count, maxLen],
      // pre-sized for words × sizes grams (load ≤ 3/4): it never resizes
      val m = new java.util.HashMap[Long, Array[Long]](
        math.min(len.toLong * allNs.length * 4 / 3 + 1, 1L << 30).toInt)
      i = 0
      while (i < len) {
        if (!nullW(i)) {
          var acc = h(i)
          var gl = l(i)
          var n = 1
          var j = i + 1
          var ok = true
          while (ok && n < maxN && j < len) {
            if (nullW(j)) ok = false // null word poisons every longer gram
            else {
              acc = (acc * 31L + h(j)) % Mod
              gl += l(j)
              n += 1
              j += 1
              if (isN(n)) {
                val key = acc * 64L + n
                val cur = m.get(key)
                val glen = gl + (n - 1)
                if (cur == null) m.put(key, Array(1L, glen))
                else {
                  cur(0) += 1L
                  if (glen > cur(1)) cur(1) = glen
                }
              }
            }
          }
        }
        i += 1
      }
      val top = new Array[Long](maxN + 1)
      val dup = new Array[Long](maxN + 1)
      val it = m.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val n = (e.getKey % 64L).toInt
        val v = e.getValue
        val cov = v(0) * v(1)
        if (cov > top(n)) top(n) = cov
        if (v(0) >= 2L) dup(n) += cov
      }
      val out = new Array[Any](topNs.length + dupNs.length)
      var k = 0
      while (k < topNs.length) { out(k) = top(topNs(k)); k += 1 }
      var d = 0
      while (d < dupNs.length) {
        out(topNs.length + d) = dup(dupNs(d)); d += 1
      }
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(out)
    }
  }
}
