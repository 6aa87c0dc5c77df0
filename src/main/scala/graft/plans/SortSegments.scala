package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnShim
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native segment sort — split on a literal separator, optionally drop
  * empty segments, sort the segments bytewise (unsigned UTF-8 byte
  * order, the exact ordering `array_sort`'s default comparator applies
  * to strings), re-join with the same separator. ONE pass over the
  * bytes plus an in-place index sort: the hot use is URL query-param
  * canonicalization (`a=2&b=1` → sorted param order), where the
  * Column formulation `array_join(array_sort(filter(split(q, "&"),
  * x => x =!= "")), "&")` pays `split`'s per-row Pattern.compile
  * (StringSplit recompiles EVERY evaluation — the round-12 hot-scan
  * finding) plus three CodegenFallback HOF nodes and an array
  * round-trip. Equivalence to that exact chain is pinned by
  * SortSegmentsSpec (including a ScalaCheck property over arbitrary
  * separators/content).
  *
  * Sorting is bytewise on the UTF-8 encoding — identical results to
  * `UTF8String.compareTo` (binary), so the native form and the
  * `array_sort` form can never disagree on order; ties (duplicate
  * segments) are byte-identical so stability is unobservable.
  * Map-side scalar work: canonicalizing 100 TB of URLs is pure scan
  * parallelism, no shuffle, no fallback node splitting the
  * WholeStageCodegen span.
  */
case class SortSegments(child: Expression, sep: String, dropEmpty: Boolean,
                        prefix: String)
    extends UnaryExpression {

  require(sep != null && sep.nonEmpty, "sort_segments: empty separator")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"sort_segments requires string, got ${other.simpleString}")
  }
  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "sort_segments"

  @transient private lazy val sepUtf8 = UTF8String.fromString(sep)
  @transient private lazy val prefixBytes = prefix.getBytes("UTF-8")

  override def nullSafeEval(input: Any): Any =
    SortSegments.compute(input.asInstanceOf[UTF8String], sepUtf8, dropEmpty,
      prefixBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val sepRef = ctx.addReferenceObj("sep", sepUtf8,
      classOf[UTF8String].getName)
    val preRef = ctx.addReferenceObj("prefix", prefixBytes, "byte[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.SortSegments.compute($c, $sepRef, $dropEmpty, $preRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): SortSegments =
    copy(child = newChild)
}

object SortSegments {

  /** Shared implementation for eval and codegen (static call — the
    * WinnowFp/BpeIshCount/DedupSegments pattern).
    */
  def compute(s: UTF8String, sep: UTF8String, dropEmpty: Boolean,
              prefix: Array[Byte]): UTF8String = {
    val bytes = s.getBytes
    val sb = sep.getBytes
    val n = bytes.length
    val sl = sb.length
    // boundary scan, split(limit = -1) semantics: k separator hits →
    // k+1 segments, leading/trailing/consecutive separators produce
    // empty segments (then optionally dropped)
    var segCount = 1
    var i = 0
    while (i + sl <= n) {
      if (matchesAt(bytes, i, sb)) { segCount += 1; i += sl }
      else i += 1
    }
    val starts = new Array[Int](segCount)
    val ends = new Array[Int](segCount)
    var c = 0
    var segStart = 0
    i = 0
    while (i + sl <= n) {
      if (matchesAt(bytes, i, sb)) {
        starts(c) = segStart; ends(c) = i; c += 1
        i += sl; segStart = i
      } else i += 1
    }
    starts(c) = segStart; ends(c) = n
    // optionally drop empties by compacting the index arrays
    var m = 0
    var si = 0
    while (si < segCount) {
      if (!dropEmpty || ends(si) > starts(si)) {
        starts(m) = starts(si); ends(m) = ends(si); m += 1
      }
      si += 1
    }
    if (m == 0) return UTF8String.EMPTY_UTF8 // empty result takes NO prefix
    // already sorted (common for short queries / single param)? one
    // comparison pass decides whether any work remains
    var sortedAlready = true
    si = 1
    while (sortedAlready && si < m) {
      if (compareSeg(bytes, starts(si - 1), ends(si - 1),
                     starts(si), ends(si)) > 0) sortedAlready = false
      si += 1
    }
    if (sortedAlready && m == segCount && prefix.length == 0) return s
    if (!sortedAlready) {
      // binary insertion sort over the segment index arrays — m is
      // param-count-sized (a handful); no allocation beyond the two
      // index arrays already built
      si = 1
      while (si < m) {
        val ts = starts(si); val te = ends(si)
        var j = si - 1
        while (j >= 0 && compareSeg(bytes, starts(j), ends(j), ts, te) > 0) {
          starts(j + 1) = starts(j); ends(j + 1) = ends(j)
          j -= 1
        }
        starts(j + 1) = ts; ends(j + 1) = te
        si += 1
      }
    }
    var outLen = (m - 1) * sl + prefix.length
    si = 0
    while (si < m) { outLen += ends(si) - starts(si); si += 1 }
    val out = new Array[Byte](outLen)
    System.arraycopy(prefix, 0, out, 0, prefix.length)
    var pos = prefix.length
    si = 0
    while (si < m) {
      if (si > 0) { System.arraycopy(sb, 0, out, pos, sl); pos += sl }
      val len = ends(si) - starts(si)
      System.arraycopy(bytes, starts(si), out, pos, len)
      pos += len
      si += 1
    }
    UTF8String.fromBytes(out)
  }

  @inline private def matchesAt(b: Array[Byte], at: Int, pat: Array[Byte]): Boolean = {
    var j = 0
    while (j < pat.length) {
      if (b(at + j) != pat(j)) return false
      j += 1
    }
    true
  }

  /** Unsigned bytewise compare of two segments — the UTF8String binary
    * order `array_sort` applies to strings.
    */
  @inline private def compareSeg(b: Array[Byte], s1: Int, e1: Int,
                                 s2: Int, e2: Int): Int = {
    val l1 = e1 - s1
    val l2 = e2 - s2
    val lim = if (l1 < l2) l1 else l2
    var j = 0
    while (j < lim) {
      val x = b(s1 + j) & 0xFF
      val y = b(s2 + j) & 0xFF
      if (x != y) return x - y
      j += 1
    }
    l1 - l2
  }

  /** Column-level entry: wraps the expression directly (no registry).
    * `prefix` is prepended iff the result is non-empty — it exists so a
    * caller needing `when(sorted =!= "", concat("?", sorted))` can say
    * it as ONE occurrence of the expression: `sorted` appearing twice
    * in a projection re-evaluates its whole child subtree twice
    * (cross-branch subexpression elimination does not reach
    * conditional values — SCALE.md "The codegen that would not JIT").
    */
  def sorted(text: Column, sep: String, dropEmpty: Boolean = true,
             prefix: String = ""): Column =
    GraftColumnShim.column(
      SortSegments(GraftColumnShim.expression(text), sep, dropEmpty, prefix))
}
