package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnShim
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Word n-grams of a token array: every window of `n` consecutive
  * tokens joined with `_`, in array order — the shingling kernel under
  * `TextFunctions.ngrams` / `shingles`, which every exact near-dup
  * screen starts from. The composed form it replaced (two `zip_with`
  * calls and a `filter`, `TextFunctions.ngramsComposed`) is higher-order
  * and so CodegenFallback: every gram of every document ran through an
  * interpreted lambda. This is one loop that sizes each gram, copies
  * its token bytes into one buffer and emits it.
  *
  * Semantics match the composed form exactly: a window holding a null
  * token is a null gram and is dropped (so an array shorter than `n`
  * yields an empty array); with `distinct` only the first occurrence of
  * each gram is kept (`array_distinct`); a null array is null. The
  * element nullability is the composed form's — `zip_with` makes n > 1
  * grams nullable, while n = 1 keeps the child's — so swapping the
  * kernel in leaves every schema unchanged. WordNGramsSpec pins
  * values, schema and eval ≡ codegen against the composed witness.
  */
case class WordNGrams(child: Expression, n: Int, distinct: Boolean)
  extends UnaryExpression {

  require(n >= 1, s"n-gram width must be >= 1, got $n")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"word_ngrams requires array<string>, got ${t.simpleString}")
  }
  override def dataType: DataType = ArrayType(StringType,
    containsNull = n > 1 || (child.dataType match {
      case ArrayType(_, cn) => cn
      case _ => true
    }))
  override def prettyName: String = "word_ngrams"

  override def nullSafeEval(input: Any): Any =
    WordNGrams.grams(input.asInstanceOf[ArrayData], n, distinct)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr =>
      s"${ev.value} = graft.plans.WordNGrams.grams($arr, $n, $distinct);")

  override protected def withNewChildInternal(newChild: Expression): WordNGrams =
    copy(child = newChild)
}

object WordNGrams {
  /** Column-level entry: wraps the expression directly (no registry). */
  def ngrams(tokens: Column, n: Int, distinct: Boolean): Column =
    GraftColumnShim.column(WordNGrams(GraftColumnShim.expression(tokens), n, distinct))

  // one shared implementation for eval and codegen (static call, the
  // BpeIshCount pattern): the JIT compiles this small method once for
  // every stage that shingles, where a loop generated inline would run
  // interpreted again inside each stage's own generated class
  def grams(arr: ArrayData, n: Int, distinct: Boolean): ArrayData = {
    val windows = math.max(arr.numElements() - n + 1, 0)
    val out = new Array[Any](windows)
    val seen = if (distinct) new java.util.HashSet[UTF8String] else null
    var cnt = 0
    var i = 0
    while (i < windows) {
      var bytes = n - 1
      var j = 0
      while (j < n && !arr.isNullAt(i + j)) {
        bytes += arr.getUTF8String(i + j).numBytes
        j += 1
      }
      if (j == n) {
        val buf = new Array[Byte](bytes)
        var off = 0
        j = 0
        while (j < n) {
          if (j > 0) { buf(off) = '_'.toByte; off += 1 }
          val tok = arr.getUTF8String(i + j)
          tok.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + off)
          off += tok.numBytes
          j += 1
        }
        val gram = UTF8String.fromBytes(buf)
        if (seen == null || seen.add(gram)) { out(cnt) = gram; cnt += 1 }
      }
      i += 1
    }
    new GenericArrayData(if (cnt == windows) out else out.take(cnt))
  }
}
