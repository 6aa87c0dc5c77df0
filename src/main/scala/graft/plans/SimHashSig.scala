package graft.plans

import org.apache.spark.sql.{Column, GraftColumnShim}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native Catalyst expression: 64-bit SimHash of a string array in one
  * pass — per-bit ±1 votes over XXH64 token hashes, sign of each vote
  * packed into a long. Replaces the explode → groupBy(64 conditional
  * sums) formulation, which costs an exchange carrying 64 partial
  * columns per (partition, doc); here the signature is pure map work.
  */
case class SimHashSig(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash_sig requires array<string>, got ${other.simpleString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_sig"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val votes = new Array[Int](64)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val s = arr.getUTF8String(i)
        val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < 64) { if (votes(j) > 0) sig |= (1L << j); j += 1 }
    java.lang.Long.valueOf(sig)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val xxh = classOf[XXH64].getName
    nullSafeCodeGen(ctx, ev, c => {
      val votes = ctx.freshName("votes")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val h = ctx.freshName("h")
      val sig = ctx.freshName("sig")
      s"""
         |int[] $votes = new int[64];
         |final int $n = $c.numElements();
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$c.isNullAt($i)) {
         |    UTF8String $s = $c.getUTF8String($i);
         |    long $h = $xxh.hashUnsafeBytes(
         |      $s.getBaseObject(), $s.getBaseOffset(), $s.numBytes(), 42L);
         |    for (int $j = 0; $j < 64; $j++) {
         |      if ((($h >>> $j) & 1L) == 1L) $votes[$j]++; else $votes[$j]--;
         |    }
         |  }
         |}
         |long $sig = 0L;
         |for (int $j = 0; $j < 64; $j++) {
         |  if ($votes[$j] > 0) $sig |= (1L << $j);
         |}
         |${ev.value} = $sig;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): SimHashSig =
    copy(child = newChild)
}

object SimHashSig {
  /** Column-level entry: wraps the expression directly (no registry). */
  def sig(arr: Column): Column =
    GraftColumnShim.column(SimHashSig(GraftColumnShim.expression(arr)))
}
