package perfbench

import java.io.PrintWriter

/** Per-layer metrics and the span file of a traced run.
  *
  * Per-layer values are means per traced warm pass, except `codegen.*`
  * (totals of the cold pass, the only pass that compiles when the codegen
  * cache holds every plan), `mem.peak_exec_mb` (the maximum) and
  * `engine.session_s` (this JVM's session construction).
  */
object Layers {
  private def union(iv: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { covered += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    covered
  }

  private def clip(iv: (Long, Long), lo: Long, hi: Long): (Long, Long) =
    (math.max(iv._1, lo), math.min(iv._2, hi))

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Per op: the QueryExecution its build returned (whose analysis ran
    * inside the build), then the listener's records whose first phase
    * started inside the op's window, without that same QueryExecution.
    * Datasets a build creates on the way to its result are analysed too,
    * but no public API reports them: that time stays in `entry.build_s`. */
  private def qesOf(t: Tracer, ops: Seq[OpRec]): Map[String, Seq[QeRec]] = {
    val seen = scala.collection.mutable.Map.empty[String, Seq[QeRec]]
    t.qes.foreach { q =>
      ops.find(o => q.startMs >= o.startMs && q.startMs <= o.endMs)
        .foreach(o => seen(o.id) = seen.getOrElse(o.id, Seq.empty) :+ q)
    }
    ops.map { o =>
      val heard = seen.getOrElse(o.id, Seq.empty)
      o.id -> (o.buildQe.toSeq ++ heard.filterNot(q => o.buildQe.exists(_.qe == q.qe)))
    }.toMap
  }

  def apply(t: Tracer, ops: Seq[OpRec], passes: Seq[Map[String, Any]],
            setup: Map[String, Double]): Map[String, Double] = {
    // warm-up passes are never traced: a traced op past the cold pass is warm
    val warm = ops.filter(o => o.traced && o.pass > 0)
    val warmIds = warm.map(_.id).toSet
    val nPass = math.max(1, warm.map(_.pass).distinct.size).toDouble
    val cold = ops.filter(o => o.traced && o.pass == 0)
    val stages = t.stages.filter(s => warmIds(s.op)).toSeq
    val aggs = stages.flatMap(s => t.stageAgg.get((s.stageId, s.attempt)))
    def sumA(f: StageAgg => Long): Double = aggs.map(f).sum.toDouble
    val tasks = sumA(_.tasks)
    val qes = qesOf(t, warm).values.flatten.toSeq
    val passOf = passes.filter(p => p("traced") == true && p("kind") == "warm")
    def passMean(k: String): Double =
      if (passOf.isEmpty) 0.0
      else passOf.map(p => p.get(k).map(_.toString.toDouble).getOrElse(0.0)).sum / passOf.size
    def opTime(pred: String => Boolean): Double =
      warm.filter(o => pred(o.name)).map(o => o.buildS + o.execS).sum / nPass
    val wallOf = (tr: Boolean) => passes.filter(p => p("kind") == "warm" && p("traced") == tr)
      .map(_("wall_s").asInstanceOf[Double])
    val mb = 1048576.0
    Map(
      "engine.session_s" -> setup("session_s"),
      "sources.input_mb" -> sumA(_.inputBytes) / mb / nPass,
      "sources.input_rows" -> sumA(_.inputRows) / nPass,
      "entry.build_s" -> warm.map(_.buildS).sum / nPass,
      "entry.eager_jobs" -> t.jobs.count(j => warmIds(j._2) && j._3 == "build") / nPass,
      "catalyst.analysis_ms" -> qes.map(_.analysisMs).sum / nPass,
      "catalyst.optimization_ms" -> qes.map(_.optimizationMs).sum / nPass,
      "catalyst.planning_ms" -> qes.map(_.planningMs).sum / nPass,
      "codegen.compiles" -> cold.map(_.cg.compiles).sum.toDouble,
      "codegen.compile_ms" -> cold.map(_.cg.compileMs).sum,
      "codegen.source_kb" -> cold.map(_.cg.sourceBytes).sum / 1024,
      "exec.jobs" -> t.jobs.count(j => warmIds(j._2)) / nPass,
      "exec.stages" -> stages.size / nPass,
      "exec.tasks" -> tasks / nPass,
      "exec.task_run_s" -> sumA(_.runMs) / 1e3 / nPass,
      "exec.task_cpu_s" -> sumA(_.cpuNs) / 1e9 / nPass,
      "exec.deser_s" -> sumA(_.deserMs) / 1e3 / nPass,
      "exec.launch_overhead_s" -> sumA(_.launchMs) / 1e3 / nPass,
      "exec.empty_task_frac" -> (if (tasks > 0) sumA(_.emptyTasks) / tasks else 0.0),
      "exec.failed_tasks" -> sumA(_.failedTasks) / nPass,
      "shuffle.write_mb" -> sumA(_.shuffleWriteBytes) / mb / nPass,
      "shuffle.read_mb" -> sumA(_.shuffleReadBytes) / mb / nPass,
      "shuffle.fetch_wait_s" -> sumA(_.fetchWaitMs) / 1e3 / nPass,
      "mem.spill_mb" -> sumA(_.spillMem) / mb / nPass,
      "mem.spill_disk_mb" -> sumA(_.spillDisk) / mb / nPass,
      "mem.peak_exec_mb" -> (if (aggs.isEmpty) 0.0 else aggs.map(_.peakExec).max / mb),
      "jvm.gc_s" -> passMean("gc_s"),
      "sinks.write_s" -> opTime(_.startsWith("sinks.")),
      "sinks.bytes_written" -> passMean("bytes_written"),
      "sinks.files_written" -> passMean("files_written"),
      "store.bootstrap_s" -> opTime(_ == "store.bootstrap"),
      "store.publish_s" -> opTime(_.startsWith("store.publish")),
      "store.compact_s" -> opTime(_ == "store.compact"),
      "store.read_s" -> opTime(_ == "store.read"),
      "trace.overhead_frac" -> (median(wallOf(true)) / median(wallOf(false)) - 1))
  }

  /** One JSON line per span: op → op.build / op.execute → stage. */
  def writeSpans(path: String, t: Tracer, ops: Seq[OpRec]): Unit = {
    val traced = ops.filter(_.traced)
    val qes = qesOf(t, traced)
    val byOp = t.stages.groupBy(_.op)
    val jobsByOp = t.jobs.groupBy(_._2)
    val w = new PrintWriter(path, "UTF-8")
    try traced.foreach { o =>
      val st = byOp.getOrElse(o.id, Seq.empty).toSeq
      val phases = Seq(("build", o.startMs, o.buildEndMs), ("execute", o.buildEndMs, o.execEndMs))
      val phaseOf = (s: StageRec) => if (s.phase == "build") "build" else "execute"
      val aggOf = (s: StageRec) => t.stageAgg.getOrElse((s.stageId, s.attempt), new StageAgg)
      val opMs = o.endMs - o.startMs
      val phaseMs = phases.map { case (_, s, e) => e - s }.sum
      w.println(Runner.json.writeValueAsString(Map(
        "span" -> o.id, "parent" -> null, "name" -> "op", "op" -> o.name, "pass" -> o.pass,
        "start_ms" -> o.startMs, "end_ms" -> o.endMs, "dur_ms" -> opMs,
        "self_ms" -> (opMs - phaseMs), "ok" -> o.ok,
        "jobs" -> jobsByOp.get(o.id).map(_.size).getOrElse(0), "stages" -> st.size,
        "tasks" -> st.map(aggOf(_).tasks).sum,
        "codegen_compiles" -> o.cg.compiles, "codegen_compile_ms" -> o.cg.compileMs,
        "qe" -> qes.getOrElse(o.id, Seq.empty).map(q => Map(
          "build" -> o.buildQe.exists(_.qe == q.qe), "analysis_ms" -> q.analysisMs,
          "optimization_ms" -> q.optimizationMs, "planning_ms" -> q.planningMs, "failed" -> q.failed, "plan_ops" -> q.planOps)))))
      phases.foreach { case (ph, s, e) =>
        val children = st.filter(x => phaseOf(x) == ph)
        val covered = union(children.map(x => clip((x.submitMs, x.endMs), s, e)))
        w.println(Runner.json.writeValueAsString(Map(
          "span" -> s"${o.id}/$ph", "parent" -> o.id, "name" -> s"op.$ph", "op" -> o.name,
          "pass" -> o.pass, "start_ms" -> s, "end_ms" -> e, "dur_ms" -> (e - s),
          "self_ms" -> (e - s - covered),
          "jobs" -> jobsByOp.get(o.id).map(_.count(_._3 == ph)).getOrElse(0),
          "stages" -> children.size)))
      }
      st.foreach { x =>
        val a = aggOf(x)
        w.println(Runner.json.writeValueAsString(Map(
          "span" -> s"${o.id}/stage-${x.stageId}.${x.attempt}", "parent" -> s"${o.id}/${phaseOf(x)}",
          "name" -> "stage", "op" -> o.name, "pass" -> o.pass, "stage_id" -> x.stageId,
          "start_ms" -> x.submitMs, "end_ms" -> x.endMs, "dur_ms" -> (x.endMs - x.submitMs),
          "self_ms" -> (x.endMs - x.submitMs), "failed" -> x.failed,
          "tasks" -> a.tasks, "failed_tasks" -> a.failedTasks, "empty_tasks" -> a.emptyTasks,
          "task_run_ms" -> a.runMs, "task_cpu_ms" -> a.cpuNs / 1000000,
          "deser_ms" -> a.deserMs, "launch_overhead_ms" -> a.launchMs,
          "input_bytes" -> a.inputBytes, "input_rows" -> a.inputRows,
          "shuffle_read_bytes" -> a.shuffleReadBytes, "shuffle_read_rows" -> a.shuffleReadRows,
          "fetch_wait_ms" -> a.fetchWaitMs, "shuffle_write_bytes" -> a.shuffleWriteBytes,
          "spill_mem_bytes" -> a.spillMem, "spill_disk_bytes" -> a.spillDisk,
          "peak_exec_bytes" -> a.peakExec, "output_bytes" -> a.outputBytes)))
      }
    } finally w.close()
  }
}
