package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
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

  /** Every SQ8 encode an executed plan evaluates, adaptive stages
    * included. */
  def encodesIn(plan: SparkPlan): Seq[graft.functions.Sq8Codes] =
    graft.plans.PlanAudit.flatten(plan).flatMap(_.expressions
      .flatMap(_.collect { case e: graft.functions.Sq8Codes => e }))
}
