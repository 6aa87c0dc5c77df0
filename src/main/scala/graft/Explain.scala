package graft

/** Plan reader for any `SparkEntry.queries` entry:
  * `runMain graft.Explain <sfDir> <query...>` prints each query's
  * FORMATTED plan (the post-AQE initial physical plan — scans,
  * exchanges, pushed filters, codegen spans). The standing review
  * loop: after an operator is correct, read its plan here and iterate
  * until it is the plan you'd WANT at 100 TB, not the first one that
  * passed (unpushed filters, avoidable exchanges, missing broadcasts,
  * WSCG gaps).
  *
  * Known limit, flagged in the output: operators that materialize
  * eagerly at CONSTRUCTION (pageRank rounds, ccnetBuckets/
  * spearmanRank/domainAnchorText checkpoints) both execute their
  * upstream here and print it as an opaque `Scan ExistingRDD` leaf —
  * the visible plan covers only the post-checkpoint stages. To audit
  * the upstream of such an operator, Explain the feeding query
  * (q_link_graph, q_lm_score, …) or read the stage plans in the Spark
  * UI during a Bench run.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    // Bench's session: the plans printed are the plans it measures
    val spark = Engine.session("graft-explain", dataDir = Some(sfDir))
    for (q <- args.drop(1)) {
      val df = SparkEntry.queries(q)(spark, sfDir)
      println(s"\n=== $q ===")
      val p = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      println(p)
      if (p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"))
        println("[explain] NOTE: plan contains a checkpointed leaf — " +
          "upstream stages ran at construction and are NOT shown above")
    }
    spark.stop()
  }
}
