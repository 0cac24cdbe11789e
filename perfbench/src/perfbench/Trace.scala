package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall-clock spans around the benchmark's calls into the program.
  * Times are epoch milliseconds with sub-millisecond resolution, on the
  * same clock as Spark's listener events, so a job can be placed in the
  * span it started in. Spans stay in memory until the run ends. */
final class Spans {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  final case class Span(name: String, startMs: Double, endMs: Double)
  private val buf = mutable.ArrayBuffer.empty[Span]

  def apply[T](name: String)(body: => T): T = {
    val s = nowMs
    try body finally buf.synchronized { buf += Span(name, s, nowMs) }
  }

  /** Spans recorded since the last call, oldest first. */
  def drain(): Seq[Span] = buf.synchronized {
    val out = buf.toList; buf.clear(); out
  }
}

/** Per-job ledger fed by a [[SparkListener]]: job interval plus the
  * summed task metrics of the job's stages. */
final class JobLedger extends SparkListener {
  final class Job(val startMs: Long) {
    @volatile var endMs: Long = -1L
    var taskMs, cpuNs, inBytes, outBytes, shuffleRecords, spillBytes = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Job]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val j = new Job(e.time)
    jobs(e.jobId) = j
    e.stageIds.foreach(s => stageJob(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    for (j <- stageJob.get(e.stageId) if m != null) {
      j.taskMs += m.executorRunTime
      j.cpuNs += m.executorCpuTime
      j.inBytes += m.inputMetrics.bytesRead
      j.outBytes += m.outputMetrics.bytesWritten
      j.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      j.spillBytes += m.diskBytesSpilled
    }
  }

  /** Jobs recorded since the last call; forgets them. */
  def drain(): Seq[Job] = synchronized {
    val out = jobs.values.toList
    jobs.clear(); stageJob.clear(); out
  }
}

/** Planning-phase ledger fed by a [[QueryExecutionListener]]: the
  * analysis, optimization and planning intervals of every executed
  * query (`qe.tracker.phases`), plus the rows its join operators
  * emitted (the candidates a similarity search had to score). The
  * listener is called asynchronously, so a query is placed in time by
  * its phases, never by when the callback ran. */
final class PlanLedger extends QueryExecutionListener {
  final case class Query(phases: Seq[(Long, Long)], joinRows: Long)
  private val buf = mutable.ArrayBuffer.empty[Query]
  private object Plans extends AdaptiveSparkPlanHelper

  private val Phases = Seq("analysis", "optimization", "planning")

  private def joinRows(plan: SparkPlan): Long =
    Plans.collectWithSubqueries(plan) {
      case p if p.nodeName.contains("Join") =>
        p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    val spans = Phases.flatMap(ph.get).map(p => (p.startTimeMs, p.endTimeMs))
    val rows = try joinRows(qe.executedPlan) catch { case _: Exception => 0L }
    synchronized { buf += Query(spans, rows) }
  }

  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    record(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    record(qe)

  def drain(): Seq[Query] = synchronized {
    val out = buf.toList; buf.clear(); out
  }
}
