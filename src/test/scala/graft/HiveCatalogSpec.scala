package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FileSourceScanExec
import org.scalatest.funsuite.AnyFunSuite

/** Persistent-metastore parity (reference DataGatherer.scala:68-74
  * reads a production Hive metastore table): a derby-backed
  * `enableHiveSupport` session registers the partitioned
  * `events_hourly` table, the session AND its SparkContext are torn
  * down, and a brand-new session over the same metastore must still
  * resolve the table by name and prune year/month/day partitions —
  * catalog state living in the metastore, not the JVM.
  *
  * Runs sequentially with the other suites (sbt forked test JVM), so
  * stopping the shared context here is safe: later suites lazily
  * getOrCreate a fresh one.
  */
class HiveCatalogSpec extends AnyFunSuite {

  private val sfDir = "/root/testdata/sf0.001"

  private def freshHiveSession(base: String): SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    Sessions.builder("HiveCatalogSpec", Some("local[4]"), 4)
      .config("spark.sql.warehouse.dir", s"$base/warehouse")
      .config("spark.hadoop.javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$base/metastore_db;create=true")
      .config("spark.sql.adaptive.enabled", "false")
      .enableHiveSupport()
      .getOrCreate()
  }

  test("derby metastore: events_hourly survives a full session restart " +
    "and still prunes partitions") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-hive").toString

    // session 1: DDL only — register the partitioned table
    val s1 = freshHiveSession(base)
    val table =
      try {
        assert(s1.conf.get("spark.sql.catalogImplementation") == "hive")
        graft.sources.Warehouse.ensureEventsHourly(s1, sfDir)
      } finally {
        s1.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }

    // session 2: same metastore, fresh SparkContext — resolve by name,
    // no re-registration
    val s2 = freshHiveSession(base)
    try {
      assert(s2.catalog.tableExists(table),
        s"$table not found after restart — catalog state did not persist")
      val df = s2.sql(s"SELECT count(*) FROM $table " +
        "WHERE year = 2024 AND month = 1 AND day <= 7")
      assert(df.collect()(0).getLong(0) > 0)
      val scan = df.queryExecution.executedPlan.collectLeaves()
        .collectFirst { case f: FileSourceScanExec => f }.get
      assert(scan.toString.contains("PartitionFilters"),
        s"no PartitionFilters in:\n$scan")
      val prunedParts = scan.metrics("numPartitions").value
      val full = s2.sql(s"SELECT count(*) FROM $table")
      full.collect()
      val fullParts = full.queryExecution.executedPlan.collectLeaves()
        .collectFirst { case f: FileSourceScanExec => f }
        .get.metrics("numPartitions").value
      assert(prunedParts >= 1 && prunedParts <= 7,
        s"pruned scan read $prunedParts day-directories")
      assert(fullParts > prunedParts, s"$fullParts vs $prunedParts")
    } finally {
      s2.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }
}
