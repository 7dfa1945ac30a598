package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Traced-run observer. It attaches only through Spark's public hooks
  * (a SparkListener for jobs, stages and tasks; a QueryExecutionListener
  * for each executed plan's QueryPlanningTracker phases) and keeps every
  * record in memory; [[Main]] writes them out once, when the run ends.
  * Jobs and stages are attributed to the operation whose id the Spark driver
  * set as the [[OpKey]] local property when it submitted them; plans are
  * attributed by time in the analysis of the report. */
final class Recorder extends SparkListener with QueryExecutionListener {
  import Recorder._

  val jobs = new ConcurrentLinkedQueue[Rec]()
  val jobEnds = new ConcurrentLinkedQueue[Rec]()
  val stages = new ConcurrentLinkedQueue[Rec]()
  val plans = new ConcurrentLinkedQueue[Rec]()
  private val stageAgg = new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()
  private val events = new AtomicLong()

  /** Listener events seen so far; [[Main]] waits for it to settle. */
  def seen: Long = events.get()
  def openJobs: Int = jobs.size - jobEnds.size

  private def op(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(OpKey))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    events.incrementAndGet()
    jobs.add(Map("job" -> e.jobId, "op" -> op(e.properties), "start" -> e.time,
      "stages" -> e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    events.incrementAndGet()
    jobEnds.add(Map("job" -> e.jobId, "end" -> e.time,
      "ok" -> (e.jobResult == JobSucceeded)))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    events.incrementAndGet()
    stageAgg.putIfAbsent(e.stageInfo.stageId, new Array[Long](Fields.size))
    stages.add(Map("stage" -> e.stageInfo.stageId, "op" -> op(e.properties),
      "submitted" -> e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events.incrementAndGet()
    val a = stageAgg.computeIfAbsent(e.stageId, _ => new Array[Long](Fields.size))
    val m = e.taskMetrics
    a.synchronized {
      a(0) += 1
      if (e.reason != Success) a(1) += 1
      if (m != null) {
        a(2) += m.executorRunTime
        a(3) += m.jvmGCTime
        a(4) += m.shuffleWriteMetrics.bytesWritten
        a(5) += m.shuffleReadMetrics.totalBytesRead
        a(6) += m.diskBytesSpilled
        a(7) += m.inputMetrics.recordsRead
        a(8) += m.inputMetrics.bytesRead
      }
    }
  }

  /** Per-stage task totals, named by [[Fields]]. */
  def stageTotals: Rec = stageAgg.asScala.map { case (sid, a) =>
    sid.toString -> a.synchronized(Fields.zip(a).toMap)
  }.toMap

  private def plan(func: String, qe: QueryExecution, ok: Boolean): Unit = {
    events.incrementAndGet()
    val phases = qe.tracker.phases.map { case (k, p) =>
      k -> Seq(p.startTimeMs, p.endTimeMs) }
    plans.add(Map("func" -> func, "ok" -> ok, "phases" -> phases))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    plan(funcName, qe, ok = true)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    plan(funcName, qe, ok = false)
}

object Recorder {
  type Rec = Map[String, Any]
  /** Local property naming the operation that submits a job. */
  val OpKey = "perfbench.op"
  val Fields = Seq("tasks", "task_failures", "task_busy_ms", "gc_ms",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
    "input_rows", "input_bytes")
}
