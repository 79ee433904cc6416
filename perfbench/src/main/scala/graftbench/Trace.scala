package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a layer call the benchmark makes. `startMs`
  * and `endMs` are wall-clock milliseconds, the clock Spark stamps its
  * job events with, so jobs can be attributed to spans by time. */
final case class Span(id: Int, name: String, parent: Int, run: String,
                      startNs: Long, startMs: Long,
                      var endNs: Long = -1L, var endMs: Long = -1L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. The benchmark drives the engine from one
  * thread, so spans nest strictly and never overlap; `parent` is the
  * innermost span open when a span starts. Spans are kept only when
  * `enabled` (the traced run); the returned durations are always
  * measured. */
final class SpanRecorder(enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private var nextId = 0

  def apply[T](name: String, run: String)(body: => T): (T, Span) = {
    val s = Span(nextId, name, open.headOption.map(_.id).getOrElse(-1), run,
      System.nanoTime(), System.currentTimeMillis())
    nextId += 1
    open = s :: open
    try {
      val out = body
      (out, s)
    } finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      open = open.tail
      if (enabled) spans += s
    }
  }

  /** Self time of `s`: its duration minus the part its children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.iterator.filter(_.parent == s.id).map(_.seconds).sum

  /** The innermost recorded span whose interval holds `ms`. */
  def innermostAt(ms: Long, within: Iterable[Span]): Option[Span] =
    within.filter(s => s.startMs <= ms && ms <= s.endMs)
      .maxByOption(s => (s.startNs, s.id))
}

final case class JobRec(id: Int, startMs: Long, var endMs: Long = -1L)

final case class TaskRec(endMs: Long, runMs: Long, shuffleWrite: Long,
                         spill: Long, scan: Long, written: Long)

/** Spark runtime counters. Jobs are always counted (the end-to-end job
  * count); jobs' intervals, stages and task metrics are kept only when
  * `detailed` (the traced run). Events arrive on the listener-bus thread,
  * so every read follows a drain of the bus (org.apache.spark.BenchDrain). */
final class RuntimeListener(detailed: Boolean) extends SparkListener {
  @volatile var jobsStarted = 0L
  val jobs = ArrayBuffer.empty[JobRec]
  private val byId = scala.collection.mutable.Map.empty[Int, JobRec]
  val stageEnds = ArrayBuffer.empty[Long]
  val tasks = ArrayBuffer.empty[TaskRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobsStarted += 1
    if (detailed) {
      val j = JobRec(e.jobId, e.time)
      jobs += j
      byId(e.jobId) = j
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byId.remove(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      if (detailed)
        stageEnds += e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (detailed && m != null)
      tasks += TaskRec(e.taskInfo.finishTime, m.executorRunTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten)
  }
}

/** Catalyst planning time per execution, from each execution's
  * QueryPlanningTracker: analysis + optimization + planning phases, in
  * milliseconds. */
final class PlanListener extends QueryExecutionListener {
  val execs = ArrayBuffer.empty[Long]
  private def planMs(qe: QueryExecution): Long =
    Seq("analysis", "optimization", "planning")
      .flatMap(qe.tracker.phases.get).map(_.durationMs).sum

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = synchronized {
    execs += planMs(qe)
  }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = synchronized {
    execs += planMs(qe)
  }
}
