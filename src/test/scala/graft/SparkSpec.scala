package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution
import org.scalatest.funsuite.AnyFunSuite

/** Shared ScalaTest base: one local SparkSession per suite, on the
  * engine's own bootstrap ([[Sessions.builder]]) so the suite runs the
  * posture that ships. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession =
    Sessions.builder(getClass.getSimpleName, Some("local[4]"), 4)
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .getOrCreate()

  val sfDir = "/root/testdata/sf0.001"
  lazy val tables: Tables = Tables(spark, sfDir)

  /** The jobs `body` runs, counted exactly: the listener bus is drained
    * on both sides of `body`. */
  def jobsOf(body: => Unit): Seq[SparkSpec.Job] = {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[SparkSpec.Job]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.add(SparkSpec.Job(js.stageInfos.maxBy(_.stageId).name,
          Option(js.properties).exists(
            _.getProperty(SQLExecution.EXECUTION_ID_KEY) != null)))
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      ListenerBusDrain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.toArray(new Array[SparkSpec.Job](0)).toSeq
  }
}

object SparkSpec {

  /** A job a spec ran: its name (its result stage's call site, as in
    * the web UI) and whether it ran inside a SQL execution. */
  final case class Job(name: String, inQuery: Boolean)
}
