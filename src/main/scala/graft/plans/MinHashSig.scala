package graft.plans

import org.apache.spark.sql.{Column, GraftColumnShim}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native Catalyst expression: k-minima MinHash signature of a string
  * array, in ONE pass over the array with zero shuffles — the
  * whole-row alternative to the explode → groupBy(min×k) formulation,
  * which costs an exchange per corpus. With this expression, signature
  * computation is embarrassingly parallel map work; only the LSH band
  * self-join shuffles, and that operates on one row per document.
  *
  * Hash family: base = XXH64(bytes, seed 42) per element, then
  * h_j = XXH64(base, j) — one string hash + k long hashes per element,
  * identical to the composed-built-ins variant in spirit.
  *
  * Implements `doGenCode` (tight generated loop, no boxed allocation per
  * element) with an interpreted `nullSafeEval` fallback.
  */
case class MinHashSig(child: Expression, k: Int)
  extends UnaryExpression {

  require(k > 0 && k <= 512, "k must be in (0, 512]")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig requires array<string>, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val s = arr.getUTF8String(i)
        val base = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
        var j = 0
        while (j < k) {
          val hj = XXH64.hashLong(base, j)
          if (hj < mins(j)) mins(j) = hj
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val xxh = classOf[XXH64].getName
    val gad = classOf[GenericArrayData].getName
    nullSafeCodeGen(ctx, ev, c => {
      val mins = ctx.freshName("mins")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val base = ctx.freshName("base")
      val hj = ctx.freshName("hj")
      s"""
         |long[] $mins = new long[$k];
         |java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |final int $n = $c.numElements();
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$c.isNullAt($i)) {
         |    UTF8String $s = $c.getUTF8String($i);
         |    long $base = $xxh.hashUnsafeBytes(
         |      $s.getBaseObject(), $s.getBaseOffset(), $s.numBytes(), 42L);
         |    for (int $j = 0; $j < $k; $j++) {
         |      long $hj = $xxh.hashLong($base, (long) $j);
         |      if ($hj < $mins[$j]) $mins[$j] = $hj;
         |    }
         |  }
         |}
         |${ev.value} = new $gad($mins);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {
  /** Column-level entry: wraps the expression directly (no registry). */
  def sig(arr: Column, k: Int): Column =
    GraftColumnShim.column(MinHashSig(GraftColumnShim.expression(arr), k))
}
