package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** The one job-and-plan ledger: `Trace.of(spark)(body)` returns `body`'s
  * result with every job and successful SQL execution it ran, exactly:
  * the listener bus is drained before and after `body`, and no listener
  * outlives `of`. Bench, StageBench and the specs read it. Production
  * paths only label their stages (`Trace.stage`), which costs a local
  * property when no trace runs. Times are epoch ms, the clock of
  * Spark's events and phases. */
object Trace {

  /** The local property that carries a job's stage label. */
  val StageKey = "graft.stage"

  /** A job: its call site, whether it ran in a SQL execution, its
    * `stage` label, its stages (skipped ones included), its interval and
    * the summed metrics of its stages' tasks. A job in a SQL execution
    * is named by that execution's description (the action's call site
    * unless a job description is set), so a job that Spark's broadcast
    * or subquery pool starts is not named after the pool's frame; any
    * other job by its result stage's name. */
  final case class Job(id: Int, name: String, inQuery: Boolean,
      label: Option[String], stageIds: Seq[Int], startMs: Long,
      endMs: Long = -1L, taskMs: Long = 0L,
      cpuNs: Long = 0L, inputBytes: Long = 0L, outputBytes: Long = 0L,
      shuffleRecords: Long = 0L, spillBytes: Long = 0L)

  /** An executed plan (an adaptive one prints its final plan, then its
    * initial plan) and its analysis/optimization/planning intervals. */
  final case class Execution(plan: SparkPlan, phases: Seq[(String, Long, Long)])

  /** One stage label's roll-up: the summed wall of its `stage` blocks
    * and the jobs, stages, task time and shuffle records of the jobs
    * that carry it. */
  final case class StageLayers(name: String, wallS: Double, jobs: Int,
      stages: Int, taskS: Double, shuffleRecords: Long) {
    def json: String = BenchGate.jsonString(name) + f""":{"wall_s":$wallS%.4f,"jobs":$jobs,"stages":$stages,"task_s":$taskS%.3f,"shuffle_records":$shuffleRecords}"""
  }

  /** The counters of `perfbench/stats.py:span_ledger`, plus the job
    * union and the stage count: `plan_s` is the part of the planning
    * phases no job overlaps, so wall = plan + union + gap, each ≥ 0.
    * `by_stage` (only when a label was seen) rolls them up by label. */
  final case class Layers(wallS: Double, planS: Double, unionS: Double,
      driverGapS: Double, jobs: Int, stages: Int, taskS: Double,
      taskCpuS: Double, inputMb: Double, outputMb: Double,
      shuffleRecords: Long, spillMb: Double, byStage: Seq[StageLayers]) {
    def json: String = f"""{"wall_s":$wallS%.4f,"plan_s":$planS%.4f,"union_s":$unionS%.4f,"driver_gap_s":$driverGapS%.4f,"jobs":$jobs,"stages":$stages,"task_s":$taskS%.3f,"task_cpu_s":$taskCpuS%.3f,"input_mb":$inputMb%.3f,"output_mb":$outputMb%.3f,"shuffle_records":$shuffleRecords,"spill_mb":$spillMb%.3f""" +
      (if (byStage.isEmpty) "}" else byStage.map(_.json).mkString(""","by_stage":{""", ",", "}}"))
  }

  /** `blocks` are the `stage` blocks that ended while `of` ran:
    * (name, start, end). */
  final case class Traced[T](result: T, startMs: Double, endMs: Double,
      jobs: Seq[Job], plans: Seq[Execution],
      blocks: Seq[(String, Double, Double)]) {
    def wallS: Double = (endMs - startMs) / 1e3

    /** Per label, in first-appearance order: the summed wall of its
      * blocks (repeated blocks, e.g. two increments, add up) and the
      * counters of its jobs. */
    def byStage: Seq[StageLayers] =
      (blocks.map(_._1) ++ jobs.flatMap(_.label)).distinct.map { n =>
        val js = jobs.filter(_.label.contains(n))
        StageLayers(n, blocks.collect { case (`n`, s, e) => e - s }.sum / 1e3,
          js.size, js.map(_.stageIds.size).sum, js.map(_.taskMs).sum / 1e3,
          js.map(_.shuffleRecords).sum)
      }

    def layers: Layers = {
      val busy = jobs.map(j => (j.startMs.toDouble,
        if (j.endMs >= 0) j.endMs.toDouble else endMs))
      val unionMs = covered(busy)
      val planMs = covered(busy ++ plans.flatMap(_.phases.map {
        case (_, s, e) => (s.toDouble, e.toDouble) })) - unionMs
      val mb = 1048576.0
      Layers(wallS, planMs / 1e3, unionMs / 1e3,
        wallS - (unionMs + planMs) / 1e3, jobs.size, jobs.map(_.stageIds.size).sum,
        jobs.map(_.taskMs).sum / 1e3, jobs.map(_.cpuNs).sum / 1e9,
        jobs.map(_.inputBytes).sum / mb, jobs.map(_.outputBytes).sum / mb,
        jobs.map(_.shuffleRecords).sum, jobs.map(_.spillBytes).sum / mb,
        byStage)
    }

    /** The layers, the job list, then every executed plan in order. */
    def report: String = (layers.json +: jobs.map(j =>
      f"job ${j.id}%5d  stages ${j.stageIds.size}%3d  ${j.endMs - j.startMs}%6d ms  " +
        f"task ${j.taskMs}%7d ms  shuffle ${j.shuffleRecords}%9d rec  " +
        (if (j.inQuery) "sql " else "    ") + j.label.fold("")(l => s"[$l] ") +
        j.name) ++:
      plans.zipWithIndex.map { case (x, i) =>
        s"== execution ${i + 1} of ${plans.size}: " + x.phases.map {
          case (n, s, e) => s"$n ${e - s} ms" }.mkString(", ") + s" ==\n${x.plan}"
      }).mkString("", "\n", "\n")

    /** The length of the union of `xs` clipped to the traced span. */
    private def covered(xs: Seq[(Double, Double)]): Double =
      xs.sortBy(_._1).foldLeft((startMs, 0.0)) { case ((reach, sum), (s, e)) =>
        val to = e.min(endMs)
        (reach.max(to), sum + (to - s.max(reach)).max(0.0))
      }._2
  }

  /** The running `of` calls: each is in it for exactly its own span. */
  private[graft] val active = java.util.concurrent.ConcurrentHashMap.newKeySet[Recorder]()

  def of[T](spark: SparkSession)(body: => T): Traced[T] = {
    val sc = spark.sparkContext
    val rec = new Recorder
    ListenerBusDrain(sc)
    sc.addSparkListener(rec)
    spark.listenerManager.register(rec)
    active.add(rec)
    try {
      val (startMs, t0) = (System.currentTimeMillis().toDouble, System.nanoTime())
      val result = body
      val endMs = startMs + (System.nanoTime() - t0) / 1e6
      ListenerBusDrain(sc)
      val ms = (ns: Long) => startMs + (ns - t0) / 1e6
      rec.synchronized(Traced(result, startMs, endMs, rec.jobs.values.toList,
        rec.plans.toList, rec.blocks.map { case (n, s, e) => (n, ms(s), ms(e)) }.toList))
    } finally {
      active.remove(rec)
      sc.removeSparkListener(rec)
      spark.listenerManager.unregister(rec)
    }
  }

  /** Run `body` with every job it starts labelled `name`: a local
    * property, set for `body`'s length and then restored, which
    * `Overlap` threads and Spark's broadcast and subquery threads
    * inherit. The block's interval goes into each `of` running now;
    * with none running it goes nowhere. Frames are lazy, so a block
    * that only defines one costs ~0: its work is charged to the block
    * whose action runs the jobs. */
  def stage[T](spark: SparkSession, name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty(StageKey)
    sc.setLocalProperty(StageKey, name)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      sc.setLocalProperty(StageKey, outer)
      active.forEach(r => r.synchronized(r.blocks += ((name, t0, t1))))
    }
  }

  private[graft] final class Recorder extends SparkListener with QueryExecutionListener {
    val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, Job]
    val plans = scala.collection.mutable.ArrayBuffer.empty[Execution]
    val blocks = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
    /** SQL execution id → description, for the executions started here. */
    private val executions = scala.collection.mutable.Map.empty[String, String]

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        synchronized(executions(x.executionId.toString) = x.description)
      case _ =>
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val props = Option(e.properties)
      val execution = props.flatMap(p =>
        Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
      jobs(e.jobId) = Job(e.jobId, execution.flatMap(executions.get)
          .getOrElse(e.stageInfos.maxBy(_.stageId).name),
        execution.nonEmpty,
        props.flatMap(p => Option(p.getProperty(StageKey))), e.stageIds, e.time)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      synchronized(jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time)))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      for (j <- jobs.values.find(_.stageIds.contains(e.stageId)) if m != null)
        jobs(j.id) = j.copy(taskMs = j.taskMs + m.executorRunTime,
          cpuNs = j.cpuNs + m.executorCpuTime,
          inputBytes = j.inputBytes + m.inputMetrics.bytesRead,
          outputBytes = j.outputBytes + m.outputMetrics.bytesWritten,
          shuffleRecords = j.shuffleRecords + m.shuffleWriteMetrics.recordsWritten,
          spillBytes = j.spillBytes + m.diskBytesSpilled)
    }

    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      val x = Execution(qe.executedPlan, Seq("analysis", "optimization",
        "planning").flatMap(n => qe.tracker.phases.get(n)
          .map(p => (n, p.startTimeMs, p.endTimeMs))))
      synchronized(plans += x)
    }

    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }
}
