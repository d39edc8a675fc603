package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s.JsonAST._
import org.json4s.JsonDSL._

/** In-memory tracing for the traced run: spans around calls into the
  * library, plus the engine's own event stream collected by public
  * listener interfaces. Nothing is aggregated here — the raw records are
  * written out at the end of the run and `perfbench/layers.py` turns them
  * into per-layer metrics.
  *
  * Times are epoch microseconds for spans (nanoTime-resolved, anchored to
  * the wall clock once) and epoch milliseconds for Spark events, which is
  * the resolution the scheduler stamps them with.
  */
object Trace {
  @volatile var enabled = false
  val runId: String = java.util.UUID.randomUUID().toString

  private val anchorUs = System.currentTimeMillis() * 1000L
  private val anchorNs = System.nanoTime()
  def nowUs(): Long = anchorUs + (System.nanoTime() - anchorNs) / 1000L

  final case class Span(id: Int, name: String, parent: Int, start: Long, var end: Long = -1L)
  final case class Job(id: Int, start: Long, var end: Long = -1L, var stages: Int = 0,
      var tasks: Int = 0, var durMs: Long = 0L, var runMs: Long = 0L, var cpuNs: Long = 0L,
      var gcMs: Long = 0L, var shuffleWrite: Long = 0L, var shuffleRead: Long = 0L,
      var spill: Long = 0L, var input: Long = 0L)

  private val spans = ArrayBuffer.empty[Span]
  /** The open span of each thread (set-ups run on their own threads). */
  private val current = new ThreadLocal[Int] { override def initialValue(): Int = -1 }
  private val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, Job]
  private val stageToJob = scala.collection.mutable.HashMap.empty[Int, Int]
  private val queries = ArrayBuffer.empty[JValue]
  private val progress = ArrayBuffer.empty[JValue]

  /** Run `f` inside span `name` when tracing; a plain call otherwise. */
  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val s = spans.synchronized {
        val sp = Span(spans.size, name, current.get, nowUs())
        spans += sp; current.set(sp.id); sp
      }
      try f
      finally spans.synchronized { s.end = nowUs(); current.set(s.parent) }
    }

  /** Engine-side collector: jobs, stages and task metrics from the
    * scheduler, and streaming progress, which the streaming listener bus
    * posts on the same bus for every session (including the child
    * sessions the streaming operators create). */
  final class EngineListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
      jobs(e.jobId) = Job(e.jobId, e.time)
      e.stageIds.foreach(s => stageToJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = jobs.synchronized {
      stageToJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = jobs.synchronized {
      for (jid <- stageToJob.get(e.stageId); j <- jobs.get(jid); m <- Option(e.taskMetrics)) {
        j.tasks += 1
        j.durMs += e.taskInfo.duration
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.input += m.inputMetrics.bytesRead
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: StreamingQueryListener.QueryProgressEvent =>
        val pr = p.progress
        val d = pr.durationMs
        def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
        val rec: JValue = ("ts" -> java.time.Instant.parse(pr.timestamp).toEpochMilli) ~
          ("rows" -> pr.numInputRows) ~ ("trigger_ms" -> ms("triggerExecution")) ~
          ("add_batch_ms" -> ms("addBatch")) ~ ("planning_ms" -> ms("queryPlanning")) ~
          ("commit_ms" -> (ms("walCommit") + ms("commitOffsets"))) ~
          ("state_rows" -> pr.stateOperators.map(_.numRowsTotal).sum)
        progress.synchronized { progress += rec }
      case _ => ()
    }
  }

  private object PlanWalk extends AdaptiveSparkPlanHelper

  /** Per-action planning time and files and bytes written. The
    * listener bus delivers these late, so the record is stamped with the
    * action's own planning start, which lies inside the calling span. */
  private[perfbench] def recordQuery(qe: QueryExecution): Unit = if (enabled) {
    val phases = qe.tracker.phases.values
    val planMs = phases.map(_.durationMs).sum
    val writes = PlanWalk.collect(qe.executedPlan) { case w: DataWritingCommandExec => w }
    def metric(n: String) = writes.flatMap(_.metrics.get(n)).map(_.value).sum
    val ts = if (phases.isEmpty) System.currentTimeMillis() else phases.map(_.startTimeMs).min
    val rec: JValue = ("ts" -> ts) ~ ("plan_ms" -> planMs) ~
      ("files" -> metric("numFiles")) ~ ("bytes" -> metric("numOutputBytes"))
    queries.synchronized { queries += rec }
  }

  /** The raw trace as JSON. */
  def dump(): JValue = {
    val sp = spans.synchronized(spans.toList.map(s =>
      ("id" -> s.id) ~ ("name" -> s.name) ~ ("parent" -> s.parent) ~
        ("start_us" -> s.start) ~ ("end_us" -> s.end)))
    val js = jobs.synchronized(jobs.values.toList.map(j =>
      ("id" -> j.id) ~ ("start" -> j.start) ~ ("end" -> j.end) ~ ("stages" -> j.stages) ~
        ("tasks" -> j.tasks) ~ ("dur_ms" -> j.durMs) ~ ("run_ms" -> j.runMs) ~
        ("cpu_ns" -> j.cpuNs) ~ ("gc_ms" -> j.gcMs) ~ ("shuffle_write" -> j.shuffleWrite) ~
        ("shuffle_read" -> j.shuffleRead) ~ ("spill" -> j.spill) ~ ("input" -> j.input)))
    ("run_id" -> runId) ~ ("spans" -> sp) ~ ("jobs" -> js) ~
      ("queries" -> queries.synchronized(queries.toList)) ~
      ("progress" -> progress.synchronized(progress.toList))
  }
}

/** Registered through `spark.sql.queryExecutionListeners`, so every
  * session — the streaming operators' child sessions too — reports. */
final class QeListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    Trace.recordQuery(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}
