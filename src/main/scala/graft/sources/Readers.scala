package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Ingest surface (SURVEY §2.1 S1–S5): CSV/TSV/space-separated text,
  * Parquet, and SQL-view sources.
  *
  * Deviations from the reference, on purpose:
  *  - explicit schemas instead of `inferSchema` (reference
  *    DataGatherer.scala:40,55) — inference costs an extra full pass
  *    over the data, which is wrong at 100 TB;
  *  - the pagecount project filter and site rewrite (reference typed
  *    lambdas, DataGatherer.scala:94-98) are Column expressions here so
  *    Catalyst pushes the filter into the scan and prunes columns.
  * `DROPMALFORMED` parity is kept (silent bad-row dropping at scan,
  * reference DataGatherer.scala:41,56,88); [[badRecords]] offers the
  * counted-permissive debug path.
  *
  * Pitfall (documented for operators): `DROPMALFORMED` interacts with
  * CSV column pruning — a plan that reads no columns (e.g. `count()`)
  * never parses the pruned fields, so token-count-malformed rows are
  * NOT dropped from such counts. Row-materializing reads behave as
  * expected.
  */
object Readers {

  val sitelinkSchema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("site", StringType),
    StructField("title", StringType)))

  val rawDataSchema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("site", StringType),
    StructField("title", StringType),
    StructField("pageviews", DoubleType)))

  val pagecountSchema: StructType = StructType(Seq(
    StructField("site", StringType),
    StructField("title", StringType),
    StructField("pageviews", DoubleType)))

  /** S1 — sitelinks TSV: header, tab-separated, malformed rows dropped
    * (reference DataGatherer.scala:37-44). */
  def sitelinks(spark: SparkSession, path: String): Dataset[SitelinkEntry] = {
    import spark.implicits._
    spark.read
      .option("header", "true")
      .option("sep", "\t")
      .option("mode", "DROPMALFORMED")
      .schema(sitelinkSchema)
      .csv(path)
      .as[SitelinkEntry]
  }

  /** S2 — pre-joined raw data TSV (reference DataGatherer.scala:52-59).
    * Tolerates the reference fixture's leading unnamed index column
    * (FIXTURES.md B1): columns are selected by name after the scan, so
    * an extra leading column is ignored rather than mis-bound. */
  def rawData(
      spark: SparkSession, path: String): Dataset[SitelinkPageviewsEntry] = {
    import spark.implicits._
    val header = spark.read.option("sep", "\t").option("header", "true")
      .option("inferSchema", "false")
      .csv(path)
    val wanted = Seq("id", "site", "title", "pageviews")
    val present = header.columns.filter(wanted.contains)
    require(present.length == 4,
      s"raw data at $path missing columns: ${wanted.diff(present).mkString(",")}")
    header
      .select(col("id").cast("string"), col("site").cast("string"),
        col("title").cast("string"), col("pageviews").cast("double"))
      .na.drop(Seq("id", "site", "title", "pageviews"))
      .as[SitelinkPageviewsEntry]
  }

  /** S3 — space-separated pagecounts, no header, quoting disabled
    * (reference DataGatherer.scala:78-92: quote/escape set to a space
    * to neuter them; here quoting is disabled outright with U+0000). */
  def pagecounts(spark: SparkSession, path: String): Dataset[PagecountEntry] = {
    import spark.implicits._
    spark.read
      .option("header", "false")
      .option("sep", " ")
      .option("quote", "\u0000")
      .option("mode", "DROPMALFORMED")
      .schema(pagecountSchema)
      .csv(path)
      .as[PagecountEntry]
  }

  /** P1+P2 — keep project-total rows (`site` ends in `.z`) and rewrite
    * `en.z → enwiki` (reference DataGatherer.scala:94-98) as Column
    * expressions: the filter pushes into the CSV scan, and both survive
    * Catalyst (the reference's typed lambdas were opaque). */
  def projectTotals(pc: Dataset[PagecountEntry]): DataFrame =
    pc.filter(col("site").endsWith(".z"))
      .withColumn("site", regexp_replace(col("site"), "\\.z$", "wiki"))

  /** S1+S3+J1 — parse raw inputs: sitelinks ⋈ pagecounts on
    * (site,title). Inner join on purpose: articles with zero recorded
    * views vanish, exactly the reference semantic (DataGatherer.scala:48,
    * SURVEY §4.4.4). The sitelink side is usually the bigger table;
    * Catalyst/AQE picks broadcast vs sort-merge. */
  def parseRaw(
      spark: SparkSession, sitelinksPath: String,
      pagecountsPath: String): Dataset[SitelinkPageviewsEntry] = {
    import spark.implicits._
    sitelinks(spark, sitelinksPath)
      .join(projectTotals(pagecounts(spark, pagecountsPath)),
        Seq("site", "title"))
      .select("id", "site", "title", "pageviews")
      .as[SitelinkPageviewsEntry]
  }

  /** S5 — persisted parsed data; the declared schema skips the footer job. */
  def parsedParquet(
      spark: SparkSession, path: String): Dataset[SitelinkPageviewsEntry] = {
    import spark.implicits._
    spark.read.schema(rawDataSchema).parquet(path).as[SitelinkPageviewsEntry]
  }

  /** JSON-lines source (one object per line — the interchange format
    * LLM-corpus dumps actually ship as). Schema is REQUIRED: schema
    * inference reads the whole input twice at warehouse scale; with a
    * declared schema the scan is single-pass and prunes columns like
    * any other source. Malformed lines follow the same DROPMALFORMED
    * posture as the TSV sources. */
  def jsonLines(
      spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read
      .schema(schema)
      .option("mode", "DROPMALFORMED")
      .json(path)

  /** Schema-evolution parquet read: union the footers of every file in
    * the directory (mergeSchema) so a table whose writers added columns
    * over time reads as the superset schema, old files null-filling
    * the new columns — the append-only table-evolution contract a
    * long-lived 100 TB dataset needs (mergeSchema is off by default
    * because footer-merging costs a pass over file metadata; turn it
    * on per-read, not globally). */
  def evolvedParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** ORC source — columnar alternative to parquet (some warehouses are
    * ORC-native); predicate pushdown and column pruning apply the same
    * way. */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Debug path replacing silent DROPMALFORMED: permissive read with
    * corrupt-record capture, so bad rows are countable (SURVEY §4.1). */
  def badRecords(
      spark: SparkSession, path: String, schema: StructType,
      sep: String): DataFrame =
    spark.read
      .option("header", "true")
      .option("sep", sep)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(schema.add(StructField("_corrupt_record", StringType)))
      .csv(path)
      // materialize before filtering: Spark refuses plans that
      // reference only the internal corrupt-record column of a raw CSV
      // scan. localCheckpoint (eager), NOT cache: it leaves no
      // CacheManager entry for the caller to unpersist — the blocks
      // are reclaimed by the ContextCleaner when the frame is dropped
      .localCheckpoint(true)
      .filter(col("_corrupt_record").isNotNull)
}
