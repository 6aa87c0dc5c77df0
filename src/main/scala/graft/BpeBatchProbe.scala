package graft

/** Measures batched BPE training at scale: trains a ≥1k-rule merge
  * table with `BpeTrain.learnMergesBatched` over `args(0)`'s documents
  * table, counts the Spark jobs it scheduled (the shuffle-round-trip
  * currency the batching exists to cut), times the SEQUENTIAL trainer
  * on a prefix of the same table for the like-for-like rate, and
  * asserts the two tables agree rule-for-rule on that prefix — the
  * at-scale replay of BpeSpec's equivalence proof.
  *
  * Emits one JSON line (SCALE.md "Batched BPE at sf10").
  */
object BpeBatchProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "testdata-sf10"
    val rules = if (args.length > 1) args(1).toInt else 1000
    val batch = if (args.length > 2) args(2).toInt else 32
    val seqRules = if (args.length > 3) args(3).toInt else 100
    val spark = Engine.session("bpe-batch-probe")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")

    val jobs = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          { jobs.incrementAndGet(): Unit }
      })

    val t0 = System.nanoTime()
    val batched = graft.operators.BpeTrain
      .learnMergesBatched(docs, "text", rules, batchSize = batch)
      .collect()
    val tBatched = (System.nanoTime() - t0) / 1e9
    val jobsBatched = jobs.get

    jobs.set(0)
    val t1 = System.nanoTime()
    val sequential = graft.operators.BpeTrain
      .learnMerges(docs, "text", seqRules)
      .collect()
    val tSeq = (System.nanoTime() - t1) / 1e9
    val jobsSeq = jobs.get

    val prefix = batched.take(seqRules).map(_.toSeq).toSeq
    val seqTab = sequential.map(_.toSeq).toSeq
    require(prefix == seqTab,
      s"batched/sequential divergence within the first $seqRules rules")

    val perRuleSeq = tSeq / seqRules
    println(f"""{"probe":"bpe_batched","sf_dir":"$sfDir","rules":${batched.length},"batch_size":$batch,"batched_sec":$tBatched%.1f,"batched_jobs":$jobsBatched,"seq_rules":$seqRules,"seq_sec":$tSeq%.1f,"seq_jobs":$jobsSeq,"seq_sec_per_rule":$perRuleSeq%.3f,"seq_extrapolated_sec":${perRuleSeq * rules}%.1f,"prefix_equal":true}""")
    spark.stop()
  }
}
