package graft

/** Stage-level decomposition of one registered query: runs it once to
  * warm codegen, then once with a stage listener, printing per-stage
  * wall/tasks/records/shuffle — the guide-§7 "map stages back to
  * operators" loop without the UI (disabled in this harness).
  * Usage: runMain graft.QStagesProbe <sf dir> <query> [passes]
  */
object QStagesProbe {
  def main(args: Array[String]): Unit = {
    val sf = args(0); val q = args(1)
    val passes = args.drop(2).headOption.map(_.toInt).getOrElse(1)
    val spark = Engine.session("qstages")
    val fn = SparkEntry.queries(q)
    fn(spark, sf).write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        stages.add(f"stage=${si.stageId}%4d tasks=${si.numTasks}%4d " +
          f"wall=${(si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)) / 1e3}%6.2fs " +
          f"in=${m.inputMetrics.recordsRead}%9d shW=${m.shuffleWriteMetrics.bytesWritten / 1024}%8dKB " +
          f"shR=${m.shuffleReadMetrics.totalBytesRead / 1024}%8dKB " +
          f"exec=${m.executorRunTime / 1e3}%7.2fs cpu=${m.executorCpuTime / 1e9}%7.2fs")
      }
    }
    spark.sparkContext.addSparkListener(l)
    for (p <- 1 to passes) {
      val t0 = System.nanoTime()
      fn(spark, sf).write.format("noop").mode("overwrite").save()
      println(f"[qstages] $q pass=$p t=${(System.nanoTime() - t0) / 1e9}%.2f")
      spark.catalog.clearCache()
    }
    Thread.sleep(500)
    spark.sparkContext.removeSparkListener(l)
    val arr = stages.toArray(Array.empty[String])
    arr.foreach(s => println(s"[qstage] $s"))
    // total wall of listed stages (overlap-blind) for a quick scan
    spark.stop()
  }
}
