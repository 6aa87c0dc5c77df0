package graft

import graft.operators.TextDedup
import graft.plans.{MinHashSig, SimHashSig}
import org.apache.spark.sql.functions._

/** Native MinHashSig expression: codegen vs interpreted parity, shape,
  * and end-to-end LSH behavior through the expression path.
  */
class MinHashSigSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy cat"),
    (2L, "totally different words appear in this one here"),
    (3L, "the quick brown fox jumps over the lazy dog"),
    (4L, "xy")   // shorter than n words → no signature row
  ).toDF("doc_id", "text")

  test("signature: k longs, identical docs identical sigs, short docs dropped") {
    val sigs = TextDedup.minhashSignatures(docs, "text", "doc_id", n = 3, k = 32)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs.size == 4 && !sigs.contains(4L))
    assert(sigs(0L).length == 32)
    assert(sigs(0L) == sigs(3L))
    assert(sigs(0L) != sigs(2L))
    // near-dup shares most minima
    val agree = sigs(0L).zip(sigs(1L)).count { case (a, b) => a == b }
    assert(agree > 16, s"near-dup sigs agree on only $agree/32 positions")
  }

  test("codegen and interpreted eval agree") {
    val df = docs.select(col("doc_id"),
      MinHashSig.sig(split(col("text"), " "), 8).as("sig"))
    val wholestage = df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val prev = spark.conf.get("spark.sql.codegen.wholeStage")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val interpreted = docs.select(col("doc_id"),
        MinHashSig.sig(split(col("text"), " "), 8).as("sig"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(wholestage == interpreted)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", prev)
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("LSH pairs through the expression path find exact + near dups") {
    val pairs = TextDedup.minhashLshPairs(docs, "text", "doc_id",
      n = 3, k = 32, bands = 8, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.exists(p => p._1 == 0L && p._2 == 3L && p._3 == 1.0))
  }

  test("SimHashSig codegen and interpreted eval agree; no shuffle") {
    val df = docs.select(col("doc_id"),
      SimHashSig.sig(split(col("text"), " ")).as("sig"))
    val codegen = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val interp = docs.select(col("doc_id"),
        SimHashSig.sig(split(col("text"), " ")).as("sig"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(codegen == interp)
    } finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    val plan = graft.operators.TextDedup
      .simhashSignatures(docs, "text", "doc_id")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"))
  }

  test("expression signatures have no shuffle in the plan") {
    val sigs = TextDedup.minhashSignatures(docs, "text", "doc_id")
    val plan = sigs.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"signature computation shuffles:\n$plan")
  }
}
