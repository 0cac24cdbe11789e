package graft

import org.apache.spark.sql.SparkSession

/** Engine session bootstrap: the configuration posture every graft
  * deployment wants, in one place.
  *
  *  - AQE on with partition coalescing and skew-join splitting — the
  *    runtime re-plan layer every shuffle relies on at scale;
  *  - shuffle partitions sized to the environment (not the 200
  *    default);
  *  - UTC session timezone (oracle parity and sane timestamps);
  *  - FAIR scheduling so the per-site ML fan-out's concurrent jobs
  *    share executors instead of convoying (reference used FIFO with 8
  *    driver threads, JobRunner.scala:15,51-54);
  *  - the engine's SQL functions and planner strategy installed via
  *    GraftExtensions.
  *
  * Every entry point — the CLI, the harness mains, the test suite and
  * the benchmark — gets its session here; nothing else calls
  * `SparkSession.builder`.
  */
object Sessions {

  def builder(
      appName: String = "graft",
      master: Option[String] = None,
      shufflePartitions: Int =
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt): SparkSession.Builder = {
    val b = SparkSession.builder()
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions)
    master.fold(b)(b.master)
  }

  /** The harness mains' session: `local[N]` with N shuffle partitions,
    * N = `SPARK_GRAFT_CPUS` (default 4), UI off, WARN logging. */
  def local(appName: String = "graft"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = builder(appName, Some(s"local[$cpus]"), cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
