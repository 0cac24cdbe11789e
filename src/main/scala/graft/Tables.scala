package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table registry over the driver-generated parquet testdata
  * (`TESTDATA.md`): lazy accessors per table, so a query pays the
  * parquet-footer/schema read only for the tables it actually touches.
  *
  * Scale posture: loads are plain parquet scans — Catalyst handles
  * column pruning + predicate pushdown; nothing is cached or collected
  * here. At 100 TB these would be partitioned tables / catalog
  * entries; the accessor shape stays identical.
  */
final class Tables(val spark: SparkSession, val dir: String) {
  lazy val region: DataFrame = Tables.load(spark, dir, "region")
  lazy val nation: DataFrame = Tables.load(spark, dir, "nation")
  lazy val customer: DataFrame = Tables.load(spark, dir, "customer")
  lazy val supplier: DataFrame = Tables.load(spark, dir, "supplier")
  lazy val part: DataFrame = Tables.load(spark, dir, "part")
  lazy val orders: DataFrame = Tables.load(spark, dir, "orders")
  lazy val lineitem: DataFrame = Tables.load(spark, dir, "lineitem")
  lazy val events: DataFrame = Tables.load(spark, dir, "events")
  lazy val documents: DataFrame = Tables.load(spark, dir, "documents")
  lazy val embeddings: DataFrame = Tables.load(spark, dir, "embeddings")
}

object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(dir: String, name: String): String = {
    val d = if (dir.endsWith("/")) dir.dropRight(1) else dir
    s"$d/$name.parquet"
  }

  /** Load one table (no view registration), normalizing `ts` to
    * session-zoned TIMESTAMP regardless of how the fixture parquet was
    * written. Three flavors exist in the wild (and have each shown up
    * in the driver-generated testdata across rounds):
    *
    *  - TIMESTAMP(NANOS): Spark's vectorized reader rejects it; we read
    *    nanos as long (legacy conf) and truncate to µs with integer
    *    division (`div`, not `/`: a double round-trip would lose
    *    precision on ~1.7e18 nanosecond epochs);
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false): pandas/pyarrow's
    *    default, which Spark 4 infers as TIMESTAMP_NTZ — every
    *    `unix_micros(ts)` call site would fail analysis. We disable the
    *    inference (naive → session-zoned TIMESTAMP; session tz is
    *    pinned UTC, so values are unchanged) and, defensively, cast any
    *    NTZ column that still slips through (e.g. a schema cached
    *    before the conf was set);
    *  - TIMESTAMP(MICROS, adjusted): read as-is.
    *
    * DuckDB reads all three as naive-or-UTC TIMESTAMP, so the declared
    * oracle queries agree in every case.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    normalizeTs(spark.read.parquet(path(dir, name)))
  }

  /** Normalize a `ts` column to session-zoned TIMESTAMP whatever the
    * scan produced: long nanos → truncate to µs; TIMESTAMP_NTZ →
    * lossless cast (session tz is UTC); TIMESTAMP → as-is. */
  def normalizeTs(df: DataFrame): DataFrame =
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.LongType) =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
      case Some(org.apache.spark.sql.types.TimestampNTZType) =>
        df.withColumn("ts", org.apache.spark.sql.functions.col("ts")
          .cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  def apply(spark: SparkSession, dir: String): Tables =
    new Tables(spark, dir)
}
