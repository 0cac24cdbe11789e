package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Feature-extraction stage: the reference's parse → rank → pivot
  * pipeline (FeatureExtractor.scala:17-103) rebuilt on Catalyst
  * primitives. The hand-rolled mechanisms it replaces:
  *  - custom `SitePartitioner(16)` + `repartitionAndSortWithinPartitions`
  *    + stateful mapPartitions rank (reference :35-75) → one window
  *    (`row_number / count` over site partitions);
  *  - driver-side `countByValue` map captured in a closure (:51,69) →
  *    the same count as a window aggregate, never leaving executors;
  *  - manual row assembly + `createDataFrame` pivot (:85-103) →
  *    `groupBy(id).pivot(site, sites)` with `na.fill(0.0)`.
  *
  * Layout parity with the reference (`id` first, then
  * `pageviews_<site>, rank_<site>, exists_<site>` per sorted site,
  * FeatureExtractor.scala:85-91) is preserved so name-based selection
  * downstream matches, and ties in rank are made deterministic with an
  * `id` tiebreak (SURVEY §4.4.1 — intentional divergence).
  *
  * Scale: 2 shuffles total (site-window, id-pivot) vs the reference's 3
  * + driver round-trip; both keys (`site` bounded, `id` high-cardinality)
  * partition cleanly; AQE splits skewed sites.
  */
object Features {

  /** Parse the events table into the canonical long form
    * `(id, site, pageviews)` — the proxy for the reference's
    * `SitelinkPageviewsEntry` (Utils.scala:12): id = user-day (sparse
    * across sites, so exists=0 cells appear), site = event_type,
    * pageviews = summed value (the S4 Hive-extraction shape,
    * DataGatherer.scala:68-74). */
  def parse(events: DataFrame): DataFrame =
    events
      .groupBy(
        concat(col("user_id").cast("string"), lit("-"),
          date_trunc("day", col("ts")).cast("date").cast("string")).as("id"),
        col("event_type").as("site"))
      .agg(sum("value").as("pageviews"))

  /** Normalized per-site popularity rank ∈ (0,1]: row_number / count
    * over the site partition, ascending pageviews, id tiebreak.
    *
    * DOCUMENTED DEVIATION from the reference (FeatureExtractor orders
    * by the raw Double): the sort key is round(pageviews, 2), so two
    * values that genuinely differ only beyond 2 decimals tie and fall
    * to the id tiebreak. Intentional and oracle-mirrored — pageviews
    * here is a float AGGREGATE, where raw ordering is engine-
    * summation-order-dependent; for an exact-integer pageview domain
    * (the reference's) the rounding is a no-op. Callers with a
    * genuine >2-decimal exact-input domain should order by the raw
    * column instead. */
  def ranked(parsed: DataFrame): DataFrame = {
    val part = Window.partitionBy("site")
    // sort key = the 2-decimal-ROUNDED pageviews: when pageviews is a
    // float AGGREGATE (q27's per-day SUM(value)), 1-ulp summation-
    // order differences between engines flip near-ties and swap
    // adjacent ranks (surfaced at sf1, where replicated values create
    // such ties); rounding recovers the exact decimal on both sides,
    // and remaining ties fall to the deterministic id tiebreak. A
    // no-op for integer pageview counts (the reference domain).
    val w = part.orderBy(round(col("pageviews"), 2), col("id"))
    parsed.withColumn("rank",
      row_number().over(w).cast("double") / count(lit(1)).over(part))
  }

  /** Long→wide feature matrix: one row per id, per sorted site the
    * triple `(pageviews_s, rank_s, exists_s)`, absent cells 0.0
    * (reference fill semantics, FeatureExtractor.scala:96-99). */
  def pivotFeatures(rankedDf: DataFrame, sites: Seq[String]): DataFrame = {
    val sorted = sites.sorted
    val wide = rankedDf
      .groupBy("id")
      .pivot("site", sorted)
      .agg(
        first("pageviews").as("pageviews"),
        first("rank").as("rank"),
        lit(1.0).as("exists"))
      .na.fill(0.0)
    wide.select(
      col("id") +: sorted.flatMap(s => Seq(
        col(s"${s}_pageviews").as(s"pageviews_$s"),
        col(s"${s}_rank").as(s"rank_$s"),
        col(s"${s}_exists").as(s"exists_$s"))): _*)
  }

  /** Distinct sorted site list (the one legitimate driver-side collect:
    * it defines the pivot schema and is bounded by site cardinality —
    * reference JobRunner.scala:50). */
  def siteList(parsed: DataFrame): Seq[String] =
    parsed.select("site").distinct().orderBy("site")
      .collect().map(_.getString(0)).toSeq

  /** Full feature stage over any long-form `(id, site, pageviews)`
    * frame (the reference's parsed data, Utils.scala:12). */
  def featureMatrixFromParsed(parsed: DataFrame): (DataFrame, Seq[String]) = {
    val sites = siteList(parsed)
    (pivotFeatures(ranked(parsed), sites), sites)
  }

  /** Full feature stage for the events proxy domain. */
  def featureMatrix(events: DataFrame): (DataFrame, Seq[String]) =
    featureMatrixFromParsed(parse(events))

  /** q27 — oracle-facing feature matrix with declared rounding
    * (pageviews 2dp, rank 6dp) and total ordering. */
  def q27(events: DataFrame): DataFrame = {
    val (fm, sites) = featureMatrix(events)
    fm.select(
      col("id") +: sites.sorted.flatMap(s => Seq(
        round(col(s"pageviews_$s"), 2).as(s"pageviews_$s"),
        round(col(s"rank_$s"), 6).as(s"rank_$s"),
        col(s"exists_$s"))): _*)
      .orderBy("id")
  }
}
