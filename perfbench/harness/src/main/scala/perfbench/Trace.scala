package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Task metrics summed over the tasks of one stage. */
final class StageAgg {
  var tasks = 0L; var failedTasks = 0L; var emptyTasks = 0L
  var runMs = 0L; var cpuNs = 0L; var deserMs = 0L; var launchMs = 0L
  var inputBytes = 0L; var inputRows = 0L
  var shuffleReadBytes = 0L; var shuffleReadRows = 0L; var fetchWaitMs = 0L
  var shuffleWriteBytes = 0L
  var spillMem = 0L; var spillDisk = 0L; var peakExec = 0L
  var outputBytes = 0L
}

final case class StageRec(stageId: Int, attempt: Int, op: String, phase: String,
                          submitMs: Long, endMs: Long, failed: Boolean)

/** Catalyst phase times of one QueryExecution. `qe` is its identity hash,
  * so a query seen both after an op's build and by the listener counts once. */
final case class QeRec(qe: Int, startMs: Long, analysisMs: Long,
                       optimizationMs: Long, planningMs: Long,
                       planOps: Map[String, Int], failed: Boolean)

object QeRec {
  def phases(qe: QueryExecution, planOps: Map[String, Int], failed: Boolean): QeRec = {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
    val start = if (ph.isEmpty) System.currentTimeMillis else ph.values.map(_.startTimeMs).min
    QeRec(System.identityHashCode(qe), start, ms("analysis"), ms("optimization"),
      ms("planning"), planOps, failed)
  }
}

/** Listens through public Spark APIs: a [[SparkListener]] for jobs, stages
  * and tasks, and a [[QueryExecutionListener]] for Catalyst phase times
  * and the final physical plan. The harness tags every job it starts with
  * a job group naming the op (`t-…` for traced ops, `u-…` for ops of an
  * untraced pass) and a `perfbench.phase` local property (build or
  * execute); events of untraced ops are dropped on arrival, so the
  * listener's cost lands only on traced ops. The one exception is
  * [[bytesWritten]], the task output bytes of every task (the numerator
  * of the store workload's write amplification): the harness registers
  * the SparkListener side in every run and the QueryExecutionListener
  * side only in traced runs.
  *
  * Events arrive asynchronously on the listener bus; read the records
  * only after [[settle]].
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  private val lock = new Object
  private val stageOp = mutable.Map.empty[(Int, Int), (String, String)]
  val stages = mutable.ArrayBuffer.empty[StageRec]
  val stageAgg = mutable.Map.empty[(Int, Int), StageAgg]
  /** (job id, op, phase) */
  val jobs = mutable.ArrayBuffer.empty[(Int, String, String)]
  val qes = mutable.ArrayBuffer.empty[QeRec]
  val bytesWritten = new java.util.concurrent.atomic.AtomicLong
  @volatile private var events = 0L

  private def tag(props: java.util.Properties): Option[(String, String)] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("t-"))
      .map(op => (op, Option(props.getProperty("perfbench.phase")).getOrElse("")))

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    events += 1
    tag(e.properties).foreach { case (op, ph) => jobs += ((e.jobId, op, ph)) }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock.synchronized {
    events += 1
    val si = e.stageInfo
    tag(e.properties).foreach { t =>
      stageOp((si.stageId, si.attemptNumber())) = t
      stageAgg((si.stageId, si.attemptNumber())) = new StageAgg
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
    events += 1
    val si = e.stageInfo
    stageOp.get((si.stageId, si.attemptNumber())).foreach { case (op, ph) =>
      stages += StageRec(si.stageId, si.attemptNumber(), op, ph,
        si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L),
        si.failureReason.isDefined)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    events += 1
    if (e.taskMetrics != null) bytesWritten.addAndGet(e.taskMetrics.outputMetrics.bytesWritten): Unit
    stageAgg.get((e.stageId, e.stageAttemptId)).foreach { a =>
      a.tasks += 1
      if (!e.taskInfo.successful) a.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        val in = m.inputMetrics; val sr = m.shuffleReadMetrics
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.deserMs += m.executorDeserializeTime
        a.launchMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
        a.inputBytes += in.bytesRead; a.inputRows += in.recordsRead
        a.shuffleReadBytes += sr.totalBytesRead; a.shuffleReadRows += sr.recordsRead
        a.fetchWaitMs += sr.fetchWaitTime
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillMem += m.memoryBytesSpilled; a.spillDisk += m.diskBytesSpilled
        a.peakExec = math.max(a.peakExec, m.peakExecutionMemory)
        a.outputBytes += m.outputMetrics.bytesWritten
        if (in.recordsRead == 0 && sr.recordsRead == 0) a.emptyTasks += 1
      }
    }
  }

  private def record(qe: QueryExecution, failed: Boolean): Unit = {
    val ops = try PlanOps(qe.executedPlan) catch { case _: Throwable => Map.empty[String, Int] }
    val r = QeRec.phases(qe, ops, failed)
    lock.synchronized {
      events += 1
      qes += r
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe, failed = false)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe, failed = true)

  /** Block until no listener event has arrived for three 100 ms ticks. */
  def settle(): Unit = {
    var quiet = 0
    var prev = events
    while (quiet < 3) {
      Thread.sleep(100)
      val cur = events
      if (cur == prev) quiet += 1 else quiet = 0
      prev = cur
    }
  }
}

/** Operator counts of a final (post-AQE) physical plan — the plan side of
  * a (plan, measured cost) record. */
object PlanOps extends AdaptiveSparkPlanHelper {
  def apply(plan: org.apache.spark.sql.execution.SparkPlan): Map[String, Int] =
    collectWithSubqueries(plan) { case p => p.nodeName }
      .groupBy(identity).map { case (k, v) => k -> v.size }
}

/** Process-wide Janino counters (Spark's CodegenMetrics histograms).
  * Counts are exact; sums come from the histogram reservoir, which holds
  * every value while a JVM has compiled at most 1028 classes and a
  * sample after that (then the sum is mean × count).
  */
object Codegen {
  import org.apache.spark.metrics.source.CodegenMetrics
  final case class Snap(compiles: Long, compileMs: Double, sourceBytes: Double)
  private def sum(h: com.codahale.metrics.Histogram): Double = {
    val s = h.getSnapshot
    val n = h.getCount
    if (n <= s.size) s.getValues.map(_.toDouble).sum else s.getMean * n
  }
  def snap(): Snap = Snap(CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    sum(CodegenMetrics.METRIC_COMPILATION_TIME), sum(CodegenMetrics.METRIC_SOURCE_CODE_SIZE))
}
