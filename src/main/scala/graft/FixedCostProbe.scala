package graft

/** Per-query FIXED-cost breakdown (r13 verdict item 4): 86/179 suite
  * queries run <0.5 s at sf0.1, so the bench total is dominated by
  * per-query constants, not data. This probe decomposes that constant
  * for a set of cheap queries the way Bench pays it — a FRESH
  * DataFrame built per pass (`fn(spark, sfDir)`), written through the
  * noop sink — into:
  *
  *   - Catalyst phases from the session's `QueryPlanningTracker`
  *     (analysis / optimization / physical planning, ms) — re-paid on
  *     EVERY pass because the plan tree is rebuilt each time;
  *   - codegen compile count + wall delta (Janino; with the 4096-entry
  *     generated-class cache this should be ~0 after the first pass);
  *   - residual execution wall (job scheduling + tasks + commit).
  *
  * 5 passes per query; pass 1 carries the one-time codegen, passes
  * 2-5 are the steady state the suite's best-of-two reports. The JSON
  * lines go to SCALE.md's fixed-cost section.
  *
  * Usage: `runMain graft.FixedCostProbe <sfDir> [query ...]`
  * (default: a spread of cheap queries across plan shapes).
  */
object FixedCostProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q_o3_top1", "q_p5_rowid", "q_f_orders", "q1_agg", "q_a8_hist",
        "q_lang_id", "q_dedup_exact")
    val spark = Engine.session("graft-fixedcost", dataDir = Some(sfDir))
    spark.sparkContext.setLogLevel("WARN")

    def compiles(): (Long, Long) = {
      val m = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      (m.getCount, m.getSnapshot.getValues.sum)
    }

    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      for (pass <- 1 to 5) {
        val (c0, _) = compiles()
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val qe = df.queryExecution
        // force the full planning pipeline under the tracker, then run
        qe.executedPlan
        val tPlan = (System.nanoTime() - t0) / 1e9
        val phases = qe.tracker.phases.map { case (k, v) =>
          k -> (v.endTimeMs - v.startTimeMs) }
        val t1 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val tExec = (System.nanoTime() - t1) / 1e9
        val (c1, _) = compiles()
        spark.catalog.clearCache()
        val ph = phases.toSeq.sortBy(_._1)
          .map { case (k, ms) => s""""$k":$ms""" }.mkString(",")
        println(
          f"""{"probe":"fixed_cost","query":"$name","pass":$pass,"plan_wall_sec":$tPlan%.3f,"phases_ms":{$ph},"exec_wall_sec":$tExec%.3f,"codegen_compiles":${c1 - c0}}""")
      }
    }
    spark.stop()
  }
}
