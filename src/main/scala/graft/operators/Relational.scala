package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational operator surface of the engine (SURVEY.md §2.2–§2.7).
  *
  * Every query here is the Catalyst-visible rebuild of a mechanism the
  * reference implements with typed lambdas or RDD code, so predicate
  * pushdown / column pruning / whole-stage codegen apply end-to-end:
  *  - scans+filters (reference DataGatherer.scala:37-59,78-98)
  *  - equi/outer joins (DataGatherer.scala:48, ScorePredictor.scala:47)
  *  - group-by aggregation (DataGatherer.scala:70-73)
  *  - window rank (FeatureExtractor.scala:35-75)
  *  - long→wide pivot (FeatureExtractor.scala:85-103)
  *  - set ops / semi-anti / top-k (engine capabilities, SURVEY §2.3/§2.6/§2.7)
  *
  * Scale notes: dimension joins (region/nation) are explicitly
  * broadcast; fact-fact joins shuffle on their keys and rely on AQE for
  * skew handling; no driver-side collect anywhere.
  */
object Relational {

  /** Q01 — date-range scan + filter + project; filters push into the
    * parquet scan (reference P1/P5 made Column-form, DataGatherer.scala:94).
    */
  def q01(t: Tables): DataFrame =
    t.lineitem
      .filter(col("l_shipdate") >= lit("1998-01-01 00:00:00").cast("timestamp")
        && col("l_quantity") > 45)
      .select(
        col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        round(col("l_extendedprice"), 2).as("price"))
      .orderBy("l_orderkey", "l_linenumber")

  /** Q02 — TPC-H-Q1-style aggregate; Catalyst plans partial+final
    * HashAggregate (reference A1 family, DataGatherer.scala:70-73). */
  def q02(t: Tables): DataFrame =
    t.lineitem
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        count(lit(1)).as("cnt"),
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"),
        round(avg("l_discount"), 4).as("avg_disc"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Q03 — group-by-sum with HAVING, the pageview_hourly shape
    * (reference S4/A1, DataGatherer.scala:68-74). */
  def q03(t: Tables): DataFrame =
    t.events
      .groupBy("event_type", "user_id")
      .agg(sum("value").as("pv"))
      .filter(col("pv") > 50)
      .select(
        col("event_type").as("site"), col("user_id"),
        round(col("pv"), 2).as("pageviews"))
      .orderBy("site", "user_id")

  /** Q04 — equi inner join USING (reference J1, DataGatherer.scala:48);
    * the dimension-side filter prunes before the shuffle. */
  def q04(t: Tables): DataFrame =
    t.orders
      .join(
        t.customer.filter(col("c_mktsegment") === "BUILDING"),
        col("o_custkey") === col("c_custkey"))
      .select(
        col("o_orderkey"), col("c_name"),
        round(col("o_totalprice"), 2).as("total"))
      .orderBy("o_orderkey")

  /** Q05 — 5-way join incl. region/nation dims (reference J1/J4);
    * tiny dims broadcast explicitly, fact joins shuffle on keys. */
  def q05(t: Tables): DataFrame =
    t.lineitem
      .join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .join(t.customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .join(
        broadcast(t.region.filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(
        count(lit(1)).as("orders_cnt"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
      .orderBy("n_name")

  /** Q06 — full-outer-join reduce chain + COALESCE fill (reference
    * J2/J3, ScorePredictor.scala:47). Kept as the literal join-chain for
    * parity; see [[graft.ml.Ranker.scoreMatrix]] for the one-projection
    * form that replaces an N-deep chain at scale. */
  def q06(t: Tables): DataFrame = {
    def leg(eventType: String, alias: String): DataFrame =
      t.events.filter(col("event_type") === eventType)
        .groupBy("user_id")
        .agg(round(sum("value"), 2).as(alias))
    val clicks = leg("click", "click_v")
    val views = leg("view", "view_v")
    val buys = leg("purchase", "buy_v")
    clicks
      .join(views, Seq("user_id"), "full_outer")
      .join(buys, Seq("user_id"), "full_outer")
      .select(
        col("user_id"),
        coalesce(col("click_v"), lit(0.0)).as("click_v"),
        coalesce(col("view_v"), lit(0.0)).as("view_v"),
        coalesce(col("buy_v"), lit(0.0)).as("buy_v"))
      .orderBy("user_id")
  }

  /** Q07 — normalized popularity rank: row_number / partition count,
    * deterministic tiebreak by id. This is the Catalyst form of the
    * reference's custom partitioner + secondary sort + stateful
    * mapPartitions (FeatureExtractor.scala:35-75): one shuffle by
    * `event_type`, in-partition sort, no driver round-trip for counts
    * (reference shipped a countByValue map through a closure,
    * FeatureExtractor.scala:51,69). */
  def q07(t: Tables): DataFrame = {
    val part = Window.partitionBy("event_type")
    val w = part.orderBy("value", "event_id")
    t.events
      .filter(col("user_id") < 50)
      .select(
        col("event_type"), col("event_id"),
        round(
          row_number().over(w).cast("double") / count(lit(1)).over(part), 6)
          .as("rank_norm"))
      .orderBy("event_type", "event_id")
  }

  /** Q08 — long→wide pivot with exists flags + 0.0 fill, the Catalyst
    * rewrite of the reference's manual row-assembly pivot
    * (FeatureExtractor.scala:85-103; fill semantics :96-99). */
  def q08(t: Tables): DataFrame = {
    val sites = Seq("click", "view", "purchase")
    val wide = t.events
      .groupBy("user_id")
      .pivot("event_type", sites)
      .agg(
        sum("value").as("pageviews"),
        max(lit(1.0)).as("exists"))
      .na.fill(0.0)
    wide.select(
      col("user_id") +:
        sites.flatMap(s => Seq(
          round(col(s"${s}_pageviews"), 2).as(s"pageviews_$s"),
          col(s"${s}_exists").as(s"exists_$s"))): _*)
      .orderBy("user_id")
  }

  /** Q09 — distinct + sort; the site-list query (reference A3,
    * JobRunner.scala:50) kept distributed until the (bounded) collect
    * the caller may do for schema definition. */
  def q09(t: Tables): DataFrame =
    t.events.select("event_type").distinct().orderBy("event_type")

  /** Q10 — scalar string surface (reference P1/P2 + documented upstream
    * SQL, DataGatherer.scala:94-98, ArgParser.scala:37-43). */
  def q10(t: Tables): DataFrame =
    t.part
      .filter(col("p_type").like("%ARD"))
      .select(
        col("p_partkey"),
        upper(col("p_brand")).as("brand_u"),
        translate(col("p_name"), " ", "_").as("name_us"),
        concat(lit("Q"), col("p_partkey").cast("string")).as("qid"),
        substring(col("p_type"), 1, 5).as("type5"),
        length(col("p_name")).cast("long").as("name_len"))
      .orderBy("p_partkey")

  /** Q11 — INTERSECT (set-op surface, SURVEY §2.7). */
  def q11(t: Tables): DataFrame =
    t.customer.select(col("c_nationkey").as("k"))
      .intersect(t.supplier.select(col("s_nationkey").as("k")))
      .orderBy("k")

  /** Q11b — EXCEPT: high-balance customers outside the BUILDING segment
    * (the natural FK-shaped variants are all empty in the testdata —
    * every customer orders, every nation has suppliers). */
  def q11b(t: Tables): DataFrame =
    t.customer.filter(col("c_acctbal") > 5000).select(col("c_custkey").as("k"))
      .except(
        t.customer.filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey").as("k")))
      .orderBy("k")

  /** Q12 — global top-k → TakeOrderedAndProject, no full sort
    * (SURVEY O3). */
  def q12(t: Tables): DataFrame =
    t.orders
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)
      .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("total"))

  /** Q13 — date functions; year/month predicates prune before the
    * aggregate (scalar table §2.8, X4). */
  def q13(t: Tables): DataFrame =
    t.events
      .filter(year(col("ts")) === 2024 && month(col("ts")) === 1)
      .groupBy(date_trunc("day", col("ts")).cast("date").as("d"))
      .agg(
        count(lit(1)).as("n"),
        round(sum("value"), 2).as("v"))
      .orderBy("d")

  /** Q14 — tumbling-window batch equivalent (§2.9); the streaming twin
    * lives in [[graft.streaming.EventsStreaming]]. */
  def q14(t: Tables): DataFrame =
    t.events
      .groupBy(
        date_trunc("hour", col("ts")).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy("w", "event_type")

  /** Q15 — gap-based sessionization via lag + running sum (§2.9):
    * batch-oracle-able form of session windows. One shuffle by
    * user_id serves both the window and the final aggregate. */
  def q15(t: Tables): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val gapMicros = 30L * 60 * 1000 * 1000
    t.events
      .select(
        col("user_id"),
        when(
          unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w))
            > gapMicros, 1).otherwise(0).as("new_sess"))
      .groupBy("user_id")
      .agg(
        (lit(1) + sum("new_sess")).cast("long").as("sessions"),
        count(lit(1)).as("events"))
      .filter(col("events") >= 5)
      .orderBy("user_id")
  }

  /** Q16 — EXISTS as left-semi join (the reference uses inner-USING-join
    * J1 as an existence filter, DataGatherer.scala:48; made explicit). */
  def q16(t: Tables): DataFrame =
    t.customer
      .join(
        t.orders.filter(col("o_totalprice") > 400000),
        col("c_custkey") === col("o_custkey"),
        "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  /** Q16b — NOT EXISTS as left-anti join + count. */
  def q16b(t: Tables): DataFrame =
    t.customer
      .join(t.orders, col("c_custkey") === col("o_custkey"), "left_anti")
      .agg(count(lit(1)).as("cnt"))

  /** Q31 — the SQL entry surface (reference S4, DataGatherer.scala:68-74:
    * `spark.sql` over a warehouse table with partition-pruning
    * predicates). Runs against the CATALOG table
    * `graft.events_hourly`, physically partitioned by (year, month,
    * day) — the year/month/day predicates are real partition-column
    * filters, so `PruneFileSourcePartitions` drops non-matching
    * directories before any file is opened (asserted in IoSpec). */
  def q31(t: Tables): DataFrame = {
    val spark = t.spark
    val table = graft.sources.Warehouse.ensureEventsHourly(spark, t.dir)
    spark.sql(
      s"""SELECT event_type AS site, user_id,
         |       ROUND(SUM(value), 2) AS pageviews
         |FROM $table
         |WHERE year = 2024 AND month = 1 AND day <= 7
         |GROUP BY event_type, user_id
         |ORDER BY site, user_id""".stripMargin)
  }

  /** Q32 — mixed-condition join (reference J4's expression-join shape,
    * ArgParser.scala:35-47): equi key + non-equi predicate in one join
    * condition; Catalyst extracts the equi part for the hash join and
    * applies the rest as a join filter. */
  def q32(t: Tables): DataFrame =
    t.lineitem
      .join(t.part,
        col("l_partkey") === col("p_partkey")
          && col("l_quantity") > col("p_size"))
      .groupBy("p_brand")
      .agg(
        count(lit(1)).as("n"),
        round(sum("l_extendedprice"), 2).as("rev"))
      .orderBy("p_brand")

  /** Q36 — ROLLUP hierarchy aggregate (engine capability, SURVEY §2.4's
    * "no grouping sets in reference" gap made explicit); null rollup
    * keys are coalesced to 'ALL' so the ordering is total with no NULL
    * sort keys (§2.11 portability rule). */
  def q36(t: Tables): DataFrame =
    t.lineitem
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("cnt"), round(sum("l_quantity"), 2).as("qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("status"),
        col("cnt"), col("qty"))
      .orderBy("flag", "status")

  /** Q37 — distinct-count aggregate (Expand-based distinct agg). */
  def q37(t: Tables): DataFrame =
    t.customer
      .groupBy(col("c_nationkey").as("nation"))
      .agg(
        countDistinct("c_mktsegment").as("segs"),
        count(lit(1)).as("custs"))
      .orderBy("nation")

  /** Q39 — CUBE over two dimensions (all 2^2 grouping sets; same
    * null-coalescing discipline as Q36). */
  def q39(t: Tables): DataFrame =
    t.orders
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("cnt"), round(sum("o_totalprice"), 2).as("total"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("cnt"), col("total"))
      .orderBy("status", "priority")

  /** Exact linear-interpolated quantiles (DuckDB `quantile_cont`
    * semantics: 0-indexed rank rp = (n−1)·p, interpolate between the
    * bracketing order statistics) computed scale-safely. Spark's
    * `percentile` is an ObjectAggregate that buffers EVERY value of a
    * group in one task — a straight OOM once a group stops fitting in
    * executor memory. This formulation keeps all state histogram-sized:
    *  1. per-(group, value) counts — hash agg with map-side partials;
    *  2. cumulative counts via a window over the distinct-value
    *     histogram (sort-based, spills, never buffers a group);
    *  3. each quantile's bracketing order statistics read off the
    *     cumulative counts with conditional min aggregates.
    */
  /** Cumulative distinct-value histogram (group, val, cum) with cum =
    * #values ≤ val within the group — WITHOUT a single-task-per-group
    * sort. A plain `Window.partitionBy(group).orderBy(val)` cumulative
    * sum puts a whole group's histogram in ONE task (billions of
    * distinct values per group at warehouse scale). Two-level prefix
    * sum instead:
    *  1. per-(group, value) counts — hash agg, map-side partials;
    *  2. values range-bucketed by ⌊(val−lo)/width⌋ (monotone in val, so
    *     bucket order == value order; degenerate lo==hi → bucket 0);
    *  3. per-(group, bucket) totals; strict-predecessor prefix over the
    *     ≤`buckets`-row per-group frame (bounded window), broadcast
    *     back;
    *  4. within-bucket cumulative window partitioned by (group,
    *     bucket): each task sorts ~|hist|/buckets rows.
    * cum values are bit-identical to the single-window form — only the
    * physical partitioning changes. */
  private def cumHistogram(
      hist: DataFrame, groupCol: String,
      ranges: DataFrame, buckets: Int = 64): DataFrame = {
    // `hist` is [[groupValueHist]] restricted to non-null values — the
    // one shared (group, val, cnt) frame (its aggregate exchange is
    // reused between the btot branch and the final join input below)
    val width = (col("__hi") - col("__lo")) / lit(buckets.toDouble)
    val b = when(col("__hi") === col("__lo"), lit(0))
      .otherwise(least(
        floor((col("val") - col("__lo")) / width).cast("int"),
        lit(buckets - 1)))
    // joins key on the group column NULL-SAFELY (<=>): a NULL group is
    // a legitimate group to Spark percentile and DuckDB aggregates, and
    // a plain equi-join would silently drop its histogram rows
    val bucketed = hist
      .join(broadcast(ranges.select(col(groupCol).as("__g"),
        col("__lo"), col("__hi"))), col(groupCol) <=> col("__g"))
      .drop("__g")
      .withColumn("__b", b).drop("__lo", "__hi")
    val btot = bucketed.groupBy(col(groupCol), col("__b"))
      .agg(sum("cnt").as("__bt"))
    val wPrefix = Window.partitionBy(groupCol).orderBy("__b")
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefix = btot.select(col(groupCol).as("__g"), col("__b").as("__pb"),
      coalesce(sum("__bt").over(wPrefix), lit(0L)).as("__pre"))
    val wIn = Window.partitionBy(col(groupCol), col("__b")).orderBy("val")
    bucketed.join(broadcast(prefix),
        col(groupCol) <=> col("__g") && col("__b") === col("__pb"))
      .select(col(groupCol), col("val"),
        (col("__pre") + sum("cnt").over(wIn)).as("cum"))
  }

  /** ONE pass over the input: per-(group, value) counts INCLUDING the
    * (group, NULL) rows. Everything the quantile machinery needs —
    * group totals, value ranges, the cumulative histogram, and the
    * all-null-group restore list — derives from this |distinct (group,
    * value)|-row frame, where the pre-round-16 shape scanned the input
    * FOUR times (totals, histogram ×2, restore distinct; guide §1.2).
    * The shared (group, val) aggregate exchange is reused across every
    * consumer, so the input is scanned and shuffled exactly once. */
  private def groupValueHist(
      df: DataFrame, groupCol: String, valueCol: String): DataFrame =
    df.groupBy(col(groupCol), col(valueCol).cast("double").as("val"))
      .agg(count(lit(1)).as("cnt"))

  /** Group count + value range off [[groupValueHist]]: `n` counts
    * non-null VALUES (sum of their cnt — identical to the old
    * count-over-filtered-rows), lo/hi ignore the null row like the old
    * min/max did; a group whose values are ALL null keeps its row here
    * (null n/lo/hi) — it IS the restore list. */
  private def histTotals(hist: DataFrame, groupCol: String): DataFrame =
    hist.groupBy(col(groupCol)).agg(
      sum(when(col("val").isNotNull, col("cnt"))).as("n"),
      min("val").as("__lo"),
      max("val").as("__hi"))

  def quantileCont(
      df: DataFrame, groupCol: String, valueCol: String,
      quantiles: Seq[(String, Double)],
      emitN: Option[String] = None): DataFrame =
    quantileContOfHist(
      checkpointedHist(df, groupCol, valueCol), groupCol, quantiles, emitN)

  /** [[groupValueHist]], MATERIALIZED (eager localCheckpoint — the
    * GlobalRank/q123 multi-consumer discipline). The quantile
    * machinery reads the histogram from ~5 subtrees (totals ×3 via
    * ranges/withN/restore, the cumulative path ×2), and Catalyst
    * SPECIALIZES each copy — the cumulative path's `val IS NOT NULL`
    * pushes through the aggregate into its own scan — so runtime
    * exchange reuse never fires and every reference re-scanned and
    * re-aggregated the FULL INPUT (job task metrics, round 16: q99 read
    * 10× |events|, q70 5×, q69's gate re-ran its whole tokenize+score
    * upstream per reference). One checkpoint job pins the
    * |distinct (group, value)|-row frame; every consumer then reads
    * kilobytes instead of re-deriving the input (guide §1.2/§5 —
    * don't recompute what you can hold; state stays histogram-sized,
    * hash-partitioned, spillable). */
  private def checkpointedHist(
      df: DataFrame, groupCol: String, valueCol: String): DataFrame =
    groupValueHist(df, groupCol, valueCol).localCheckpoint(true)

  /** [[quantileCont]] over a pre-built [[groupValueHist]] frame. Split
    * out (round 16, guide §1.2) so consumers that need a SECOND pass
    * derived from the same values — q99's deviations, q70's fence
    * counts, q102's clamped sums — can derive it from the
    * |distinct (group, value)|-row histogram instead of re-scanning
    * the input. Callers pass a MATERIALIZED hist
    * ([[checkpointedHist]]) — this method fans out into ~5 consumer
    * subtrees and must not multiply an unmaterialized upstream. */
  private def quantileContOfHist(
      hist: DataFrame, groupCol: String,
      quantiles: Seq[(String, Double)],
      emitN: Option[String] = None): DataFrame = {
    // order statistics are over non-null values only (Spark percentile
    // and DuckDB quantile_cont both ignore NULLs) — the histogram
    // drops the null-value row before ranks are derived
    val totals = histTotals(hist, groupCol)
    val cum = cumHistogram(
      hist.filter(col("val").isNotNull), groupCol, totals)
    // totals is |groups| rows — broadcast, no shuffle of the histogram;
    // null-safe key (NULL is a legitimate group, see cumHistogram)
    val withN = cum.join(
      broadcast(totals.select(col(groupCol).as("__g"), col("n"))),
      col(groupCol) <=> col("__g")).drop("__g")
    val aggs = quantiles.flatMap { case (name, p) =>
      val rp = (col("n") - 1) * lit(p)          // 0-indexed fractional rank
      val lo = floor(rp) + 1                    // 1-indexed lower order stat
      val hi = least(floor(rp) + 2, col("n"))   // 1-indexed upper
      Seq(
        min(when(col("cum") >= lo, col("val"))).as(s"__${name}_lo"),
        min(when(col("cum") >= hi, col("val"))).as(s"__${name}_hi"),
        // rp is constant per group (depends only on n); max() carries it
        max(rp - floor(rp)).as(s"__${name}_frac"))
    }
    val perGroup = withN.groupBy(col(groupCol))
      .agg(aggs.head, aggs.tail: _*)
      .select(col(groupCol) +: quantiles.map { case (name, _) =>
        (col(s"__${name}_lo") + col(s"__${name}_frac")
          * (col(s"__${name}_hi") - col(s"__${name}_lo"))).as(name)
      }: _*)
    // a group whose values are ALL null still aggregates to a row (with
    // NULL quantiles) in both Spark percentile and DuckDB quantile_cont;
    // totals keeps every group (the hist's null-value rows included),
    // so it IS the restore list — no separate distinct scan of df
    // (null-safe: the NULL group restores like any other). emitN
    // optionally exposes the non-null count totals already carries, so
    // callers that also need it (q72's n_gaps) stop paying their own
    // aggregate pass + join.
    totals.select(col(groupCol) +: emitN.map(nm =>
        coalesce(col("n"), lit(0L)).as(nm)).toSeq: _*)
      .join(perGroup.withColumnRenamed(groupCol, "__g"),
        col(groupCol) <=> col("__g"), "left")
      .drop("__g")
  }

  /** Q44 — statistical aggregates: exact interpolated percentiles via
    * the scale-safe [[quantileCont]] (≡ DuckDB `quantile_cont`), Pearson
    * correlation, sample stddev (both DeclarativeAggregates — constant
    * state, pure HashAggregate plan). */
  def q44(t: Tables): DataFrame = {
    val quants = quantileCont(t.lineitem, "l_returnflag", "l_extendedprice",
      Seq("med" -> 0.5, "p90" -> 0.9))
    val moments = t.lineitem
      .groupBy("l_returnflag")
      .agg(
        round(corr("l_quantity", "l_extendedprice"), 4).as("c"),
        round(stddev_samp("l_discount"), 4).as("sd"))
    quants.join(moments, "l_returnflag")
      .select(
        col("l_returnflag"),
        round(col("med"), 2).as("med"), round(col("p90"), 2).as("p90"),
        col("c"), col("sd"))
      .orderBy("l_returnflag")
  }

  /** Q45 — ranking-window suite: rank / dense_rank / percent_rank /
    * ntile / lead / lag over one ordered partition, total tiebreaks
    * throughout (SURVEY §2.5 family beyond row_number). */
  def q45(t: Tables): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("value", "event_id")
    t.events
      .filter(col("user_id") < 20)
      .select(
        col("event_type"), col("event_id"),
        rank().over(w).cast("long").as("rnk"),
        dense_rank().over(w).cast("long").as("drnk"),
        round(percent_rank().over(w), 6).as("prnk"),
        ntile(4).over(w).cast("long").as("quartile"),
        round(col("value") - coalesce(lag("value", 1).over(w), lit(0.0)), 4)
          .as("delta_prev"),
        round(coalesce(lead("value", 1).over(w), lit(0.0)) - col("value"), 4)
          .as("delta_next"))
      .orderBy("event_type", "event_id")
  }

  /** Q38 — JSON property extraction (X4: the `events.props` JSON string
    * column): `get_json_object` path extraction + typed cast, then a
    * grouped aggregate over the extracted value. */
  def q38(t: Tables): DataFrame =
    t.events
      .select(
        col("event_type"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        round(avg("k"), 4).as("avg_k"),
        min("k").as("min_k"),
        max("k").as("max_k"))
      .orderBy("event_type")

  /** Q47 — explicit GROUPING SETS (the general form under Q36's ROLLUP
    * and Q39's CUBE): per-status totals, per-priority totals, and the
    * grand total in ONE pass — Catalyst's Expand produces all grouping
    * sets from a single scan instead of three separate aggregates. */
  def q47(t: Tables): DataFrame =
    t.orders
      .groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq()),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("cnt"), round(sum("o_totalprice"), 2).as("total"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("cnt"), col("total"))
      .orderBy("status", "priority")

  /** Q48 — value-RANGE window frame (vs Q45's row frames): for each
    * event, aggregate over all events of the same type whose value lies
    * within 5.0 below it — a frame defined by VALUE distance, not row
    * position, so ties contribute symmetrically and the result is
    * deterministic without a tiebreak. */
  def q48(t: Tables): DataFrame =
    t.events
      .filter(col("user_id") < 20)
      .select(
        col("event_type"), col("event_id"),
        round(expr("SUM(value) OVER (PARTITION BY event_type ORDER BY value " +
          "RANGE BETWEEN 5.0 PRECEDING AND CURRENT ROW)"), 2).as("run_sum"),
        expr("COUNT(*) OVER (PARTITION BY event_type ORDER BY value " +
          "RANGE BETWEEN 5.0 PRECEDING AND CURRENT ROW)").cast("long")
          .as("n_frame"))
      .orderBy("event_type", "event_id")

  /** Q49 — quantile suite: the scale-safe [[quantileCont]] generalized
    * beyond q44 (different table, four probes incl. the tail p99). */
  def q49(t: Tables): DataFrame =
    quantileCont(t.events, "event_type", "value",
      Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75, "p99" -> 0.99))
      .select(
        col("event_type"),
        round(col("p25"), 4).as("p25"), round(col("p50"), 4).as("p50"),
        round(col("p75"), 4).as("p75"), round(col("p99"), 4).as("p99"))
      .orderBy("event_type")

  /** Q51 — linear-regression aggregates (regr_* family, Spark ≥3.4 and
    * DuckDB agree on definitions): slope/intercept/R² of
    * price ~ quantity per return flag, plus sample covariance. All
    * DeclarativeAggregates — constant state, one HashAggregate pass. */
  def q51(t: Tables): DataFrame =
    t.lineitem
      .groupBy("l_returnflag")
      .agg(
        round(expr("regr_slope(l_extendedprice, l_quantity)"), 4).as("slope"),
        round(expr("regr_intercept(l_extendedprice, l_quantity)"), 4)
          .as("icept"),
        round(expr("regr_r2(l_extendedprice, l_quantity)"), 6).as("r2"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4)
          .as("cov"))
      .orderBy("l_returnflag")

  /** Q52 — two-stage funnel: per user, clicks landing within one hour
    * AFTER their first view (the sequence constraint that makes this a
    * funnel, not a co-occurrence count). One aggregate for the anchor
    * event + one equi-join on user with the time bounds as join
    * filters — no window over the full event stream needed. */
  def q52(t: Tables): DataFrame = {
    val firstView = t.events.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("first_view"))
    val clicks = t.events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("cts"))
    firstView
      .join(clicks,
        col("user_id") === col("c_user")
          && col("cts") > col("first_view")
          && col("cts") <= col("first_view") + expr("INTERVAL 1 HOUR"),
        "left_outer")
      .groupBy("user_id")
      .agg(
        count(col("cts")).as("clicks_1h"),
        max(when(col("cts").isNotNull, 1).otherwise(0)).as("converted"))
      .orderBy("user_id")
  }

  /** Q54 — per-group bounded top-k through the custom
    * [[graft.functions.TopKAggregator]]: top-5 prices per return flag
    * as ONE aggregate with O(k) state and map-side partials — no window,
    * no per-group sort of the full data. Exploded to rows so the DuckDB
    * window-function oracle can hash-compare it (tie values produce
    * identical row multisets either way). */
  def q54(t: Tables): DataFrame =
    t.lineitem
      .groupBy("l_returnflag")
      .agg(graft.functions.TopKAggregator
        .top_k(col("l_extendedprice"), 5).as("tk"))
      .select(col("l_returnflag"), posexplode(col("tk")).as(Seq("rk0", "p")))
      .select(col("l_returnflag"),
        (col("rk0") + 1).cast("long").as("rk"),
        round(col("p"), 2).as("price"))
      .orderBy("l_returnflag", "rk")

  /** Exact DISCRETE quantiles (DuckDB `quantile_disc` semantics: the
    * value at 1-indexed position max(1, ⌈n·p⌉) of the sorted non-null
    * values) with the same histogram-sized state as [[quantileCont]] —
    * no per-group value buffering, all-null groups keep their row. */
  /** GLOBAL (single-group) discrete quantile: the value at 1-based
    * position ⌈n·p⌉ of the ascending sort — the same semantics as
    * [[quantileDisc]] with one group, but the rank comes from
    * [[GlobalRank.rowNumber]]'s two-level bucketed cumsum. Calling
    * `quantileDisc` with a CONSTANT group is the trap this avoids:
    * Catalyst folds the constant partition key away and the histogram
    * machinery degrades to windows whose parallelism caps at its
    * bucket count. Returns a 1-row frame, or an EMPTY frame when `df`
    * has no non-null rows (callers join with left semantics). */
  private def globalQuantileDisc(
      df: DataFrame, valueCol: String, p: Double, out: String)
      : DataFrame = {
    val nn = df.filter(col(valueCol).isNotNull)
    val ranked = GlobalRank.rowNumber(
      nn.select(col(valueCol)), col(valueCol), col(valueCol), "__rn")
    val n = ranked.agg(count(lit(1)).as("__n")) // 1 row, always
    ranked.crossJoin(broadcast(n))
      .filter(col("__rn") ===
        greatest(lit(1L), ceil(col("__n") * p).cast("long")))
      .select(col(valueCol).cast("double").as(out))
  }

  def quantileDisc(
      df: DataFrame, groupCol: String, valueCol: String,
      quantiles: Seq[(String, Double)]): DataFrame = {
    // same one-scan shape as [[quantileCont]] (guide §1.2): histogram,
    // totals, and the restore list all off one MATERIALIZED (group,
    // value) aggregate — see [[checkpointedHist]] for why
    // materialization, not exchange reuse, is what actually makes it
    // one scan (q69/q163/q215 re-ran their tokenize+score upstream
    // per reference before round 16)
    val hist = checkpointedHist(df, groupCol, valueCol)
    val totals = histTotals(hist, groupCol)
    val cum = cumHistogram(
      hist.filter(col("val").isNotNull), groupCol, totals)
    val withN = cum.join(
      broadcast(totals.select(col(groupCol).as("__g"), col("n"))),
      col(groupCol) <=> col("__g")).drop("__g")
    val aggs = quantiles.map { case (name, p) =>
      val pos = greatest(lit(1L), ceil(col("n") * lit(p)).cast("long"))
      min(when(col("cum") >= pos, col("val"))).as(name)
    }
    val perGroup = withN.groupBy(col(groupCol)).agg(aggs.head, aggs.tail: _*)
    totals.select(col(groupCol))
      .join(perGroup.withColumnRenamed(groupCol, "__g"),
        col(groupCol) <=> col("__g"), "left")
      .drop("__g")
  }

  /** Q57 — discrete order statistics: per-group exact quantile_disc
    * (p50/p90) + deterministic mode (max count, ties to the smallest
    * value). Mode is counts + one bounded window over the per-(group,
    * value) histogram — never buffers group values, same scale shape as
    * [[quantileDisc]]. */
  def q57(t: Tables): DataFrame = {
    val vals = t.lineitem
      .select(col("l_returnflag").as("flag"), col("l_quantity").as("v"))
    val counts = vals.groupBy("flag", "v").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("flag").orderBy(col("cnt").desc, col("v"))
    val modes = counts
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select(col("flag"), col("v").as("mode_qty"))
    val qd = quantileDisc(vals, "flag", "v",
      Seq("p50_qty" -> 0.5, "p90_qty" -> 0.9))
    qd.join(modes, "flag")
      .select(col("flag").as("l_returnflag"),
        round(col("p50_qty"), 2).as("p50_qty"),
        round(col("p90_qty"), 2).as("p90_qty"),
        round(col("mode_qty"), 2).as("mode_qty"))
      .orderBy("l_returnflag")
  }

  /** Q58 — ordered string aggregation (LISTAGG / string_agg WITHIN
    * GROUP): collect_list is order-nondeterministic under shuffles, so
    * the deterministic Spark form is collect → array_sort → join. The
    * per-group state is the group's strings — bounded here (≤25
    * nations); for unbounded groups cap with slice() first. */
  def q58(t: Tables): DataFrame =
    t.nation
      .join(broadcast(t.region),
        t.nation("n_regionkey") === t.region("r_regionkey"))
      .groupBy(col("r_name").as("region"))
      .agg(
        count(lit(1)).as("n_nations"),
        array_join(array_sort(collect_list(col("n_name"))), ",")
          .as("nations"))
      .orderBy("region")

  /** Q59 — pairwise Pearson correlation matrix in ONE pass: a single
    * aggregate computes every pair (6 DeclarativeAggregate states, one
    * scan, no per-pair jobs), then the 1-row result unpivots to long
    * form driver-free via stack(). */
  def q59(t: Tables): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield (cols(i), cols(j))
    val aggs = pairs.map { case (x, y) =>
      round(corr(x, y), 6).as(s"__${x}__$y") }
    val stackArgs = pairs
      .map { case (x, y) => s"'$x', '$y', `__${x}__$y`" }.mkString(", ")
    t.lineitem.agg(aggs.head, aggs.tail: _*)
      .selectExpr(s"stack(${pairs.size}, $stackArgs) AS (x, y, r)")
      .orderBy("x", "y")
  }

  /** Q60 — cohort retention: users bucketed by first-active week, user
    * counts per (cohort, week offset). Two hash aggregates + one join on
    * user_id — the cohort frame is |users|-sized, the canonical
    * retention-matrix shape at any scale. */
  def q60(t: Tables): DataFrame = {
    val weeks = t.events
      .select(col("user_id"),
        to_date(date_trunc("week", col("ts"))).as("wk"))
    val cohorts = weeks.groupBy("user_id").agg(min("wk").as("cohort_wk"))
    weeks.join(cohorts, "user_id")
      .select(col("user_id"), col("cohort_wk"),
        expr("CAST(datediff(wk, cohort_wk) div 7 AS BIGINT)").as("wk_offset"))
      .distinct()
      .groupBy("cohort_wk", "wk_offset")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_wk", "wk_offset")
  }

  /** Q65 — UNPIVOT (wide → long): aggregate once, then melt the measure
    * columns into (measure, val) rows with the native `unpivot`
    * operator (an Expand node — no join, no union-of-projections,
    * single pass over the 3-row aggregate). */
  def q65(t: Tables): DataFrame =
    t.lineitem
      .groupBy("l_returnflag")
      .agg(
        round(sum("l_quantity"), 2).as("qty"),
        round(sum("l_extendedprice"), 2).as("price"),
        round(sum("l_tax"), 2).as("tax"))
      .unpivot(Array(col("l_returnflag")),
        Array(col("qty"), col("price"), col("tax")), "measure", "val")
      .orderBy("l_returnflag", "measure")

  /** Q66 — ROWS-frame rolling window (moving avg/sum/count over the 3
    * most recent rows per key, total order): the bounded-frame
    * counterpart to q48's value-RANGE frame. Sort-based window with a
    * constant-size sliding frame — state is 3 rows regardless of
    * partition size. */
  def q66(t: Tables): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("event_id")
      .rowsBetween(-2, Window.currentRow)
    t.events
      .filter(col("user_id") < 10)
      .select(col("event_type"), col("event_id"),
        round(avg("value").over(w), 4).as("avg3"),
        round(sum("value").over(w), 4).as("sum3"),
        count(lit(1)).over(w).as("cnt3"))
      .orderBy("event_type", "event_id")
  }

  /** Q70 — IQR (Tukey-fence) outlier counts per key: exact q1/q3 via
    * the scale-safe [[quantileCont]], fences broadcast back onto a
    * second scan, one aggregate for counts. The robust-statistics
    * counterpart to q62's z-scores — quantile-based fences don't move
    * when the outliers themselves inflate the moments. */
  def q70(t: Tables): DataFrame = {
    // fence counts derive from the quantile pass's own MATERIALIZED
    // (group, value) histogram — cnt-weighted sums over |hist| rows
    // instead of a second full scan+aggregate of events (round 16,
    // guide §1.2). Exact: n sums ALL counts (null values included, as
    // count(*) did) and the fence predicate is a function of the
    // value alone.
    val hist = checkpointedHist(t.events, "event_type", "value")
    val q = quantileContOfHist(hist, "event_type",
      Seq("q1" -> 0.25, "q3" -> 0.75))
    val iqr = col("q3") - col("q1")
    val fences = q.select(col("event_type"), col("q1"), col("q3"),
      (col("q1") - lit(1.5) * iqr).as("lo"),
      (col("q3") + lit(1.5) * iqr).as("hi"))
    hist.join(broadcast(fences), "event_type")
      .groupBy("event_type", "q1", "q3")
      .agg(
        sum("cnt").as("n"),
        sum(when(col("val") < col("lo") || col("val") > col("hi"),
          col("cnt")).otherwise(0L)).as("outliers"))
      .select(col("event_type"), col("n"), col("outliers"),
        round(col("q1"), 4).as("q1"), round(col("q3"), 4).as("q3"))
      .orderBy("event_type")
  }

  /** Q72 — inter-arrival time distribution: per-(key, user) event gaps
    * via lag over a total order, then exact p50/p90 of the gaps per key
    * through [[quantileCont]] (first-event NULL gaps drop out of both
    * the quantiles and the count by null semantics). Windows compose
    * with the quantile machinery — the latency/cadence profile shape. */
  def q72(t: Tables): DataFrame = {
    val w = Window.partitionBy("event_type", "user_id")
      .orderBy("ts", "event_id")
    val gaps = t.events.select(col("event_type"),
      ((unix_millis(col("ts")) - unix_millis(lag("ts", 1).over(w)))
        .cast("double") / 1000).as("gap_s"))
    // n_gaps rides the quantile machinery's own totals (emitN) — the
    // old separate counts aggregate re-ran the whole lag window a
    // second time (round-16, guide §1.2)
    quantileCont(gaps, "event_type", "gap_s",
      Seq("p50_s" -> 0.5, "p90_s" -> 0.9), emitN = Some("n_gaps"))
      .select(col("event_type"), col("n_gaps"),
        round(col("p50_s"), 2).as("p50_s"),
        round(col("p90_s"), 2).as("p90_s"))
      .orderBy("event_type")
  }

  /** Q73 — first-order Markov transition matrix over per-user event
    * sequences: lag(event_type) within user order gives (src, dst)
    * pairs, one hash aggregate counts them, and the row-normalized
    * probability comes from a window sum over src — |types|² rows of
    * window state, nothing per-event. Session-modelling primitive
    * (next-action prediction, bot detection). */
  def q73(t: Tables): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val pairs = t.events
      .select(lag("event_type", 1).over(w).as("src"),
        col("event_type").as("dst"))
      .filter(col("src").isNotNull)
    val counts = pairs.groupBy("src", "dst").agg(count(lit(1)).as("n"))
    counts
      .select(col("src"), col("dst"), col("n"),
        round(col("n").cast("double") /
          sum("n").over(Window.partitionBy("src")), 4).as("p"))
      .orderBy("src", "dst")
  }

  /** Q75 — RFM user segmentation: recency / frequency / monetary per
    * user (one hash aggregate over the event stream), then ntile(4)
    * quartile codes and per-segment rollups. The quartile codes come
    * from [[GlobalRank]] — three distributed global row_numbers
    * (range-bucketed two-level rank, no unpartitioned WindowExec;
    * asserted in PlanPostureSpec) fed through the exact ANSI ntile
    * arithmetic, so the stage scales to 10⁹ users where a single-task
    * `ntile(4).over(Window.orderBy(…))` would not. Ordering is
    * engine-portable: date-level recency, integer-cents monetary,
    * user_id tie-breaks everywhere. */
  def q75(t: Tables): DataFrame = {
    val users = t.events.groupBy("user_id").agg(
      max(col("ts")).as("last_ts"),
      count(lit(1)).as("freq"),
      sum(when(col("event_type") === "purchase",
        coalesce(col("value"), lit(0.0))).otherwise(0.0)).as("monetary"))
    val gmax = users.agg(max(col("last_ts")).as("gmax"),
      count(lit(1)).as("n_users_tot"))
    val scored = users.crossJoin(broadcast(gmax))
      .select(col("user_id"),
        datediff(to_date(col("gmax")), to_date(col("last_ts")))
          .as("recency_d"),
        col("freq"), col("monetary"),
        round(col("monetary") * 100).cast("long").as("cents"),
        col("n_users_tot"))
    val ranked = Seq[(String, Column)](
      ("__ri", col("recency_d")), // recency asc: recent = quartile 1
      ("__fi", -col("freq")), // frequency desc
      ("__mi", -col("cents"))) // monetary desc
      .foldLeft(scored) { case (df, (out, key)) =>
        GlobalRank.rowNumber(df, key, col("user_id"), out)
      }
    val coded = ranked.select(col("monetary"),
      GlobalRank.ntileExpr(col("__ri"), col("n_users_tot"), 4).as("rq"),
      GlobalRank.ntileExpr(col("__fi"), col("n_users_tot"), 4).as("fq"),
      GlobalRank.ntileExpr(col("__mi"), col("n_users_tot"), 4).as("mq"))
    coded.groupBy("rq", "fq", "mq")
      .agg(count(lit(1)).as("n_users"),
        round(sum("monetary"), 2).as("total_m"))
      .orderBy("rq", "fq", "mq")
  }

  /** Q79 — audience-overlap matrix: Jaccard similarity between the
    * distinct-user sets of every event-type pair. One distinct pass,
    * then a self-join keyed on user_id — each user carries at most
    * |types| rows, so the join output is |users|·C(|types|,2) bounded,
    * never |events|². The segment-overlap primitive behind audience
    * dedup and campaign reach analysis. */
  def q79(t: Tables): DataFrame = {
    // ONE scan + one user_id shuffle: per-user type-sets (bounded at
    // |types| elements), then pairs by explode×explode and sizes by a
    // single explode. Both consumers share the identical aggregate
    // subplan, so ReuseExchange materializes the user shuffle once —
    // vs the naive distinct-self-join, which scans the fact table
    // three times (divergent pushed filters defeat plan reuse) and
    // shuffles it again for the join.
    val sets = t.events.groupBy("user_id")
      .agg(collect_set(col("event_type")).as("ts"))
    val sizes = sets.select(explode(col("ts")).as("event_type"))
      .groupBy("event_type").agg(count(lit(1)).as("n"))
    val pairs = sets
      .select(explode(col("ts")).as("ta"), col("ts"))
      .select(col("ta"), explode(col("ts")).as("tb"))
      .filter(col("ta") < col("tb"))
      .groupBy("ta", "tb")
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(broadcast(sizes.select(col("event_type").as("ta"),
        col("n").as("na"))), "ta")
      .join(broadcast(sizes.select(col("event_type").as("tb"),
        col("n").as("nb"))), "tb")
      .select(col("ta"), col("tb"), col("inter"),
        round(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")), 4).as("jaccard"))
      .orderBy("ta", "tb")
  }

  /** Q80 — fixed-bin value histogram per key: global min/max fences in
    * one tiny aggregate, broadcast onto the scan, bin index by pure
    * arithmetic (identical double ops on both engines → identical
    * bins). The shape-inspection op profilers run before choosing
    * partition fences or detecting drift. */
  def q80(t: Tables): DataFrame = {
    val fences = t.events.filter(col("value").isNotNull)
      .agg(min("value").as("lo"), max("value").as("hi"))
    t.events.filter(col("value").isNotNull)
      .crossJoin(broadcast(fences))
      .select(col("event_type"),
        least(floor((col("value") - col("lo")) /
          ((col("hi") - col("lo")) / 10)), lit(9L)).as("bin"))
      .groupBy("event_type", "bin")
      .agg(count(lit(1)).as("n"))
      .orderBy("event_type", "bin")
  }

  /** Q81 — gap-and-island streak detection: consecutive-active-day
    * runs per user via the classic day − row_number() grouping key (two
    * window-free scans would need a join; one per-user window over the
    * |user·days| distinct table is the cheap exact form). Output is the
    * top-20 longest streaks — retention/engagement's "N-day streak"
    * metric. */
  def q81(t: Tables): DataFrame = {
    val ud = t.events.select(col("user_id"),
      to_date(col("ts")).as("day")).distinct()
    val w = Window.partitionBy("user_id").orderBy("day")
    val grouped = ud
      .withColumn("grp", date_sub(col("day"), row_number().over(w)))
      .groupBy("user_id", "grp")
      .agg(count(lit(1)).as("len"))
    grouped.groupBy("user_id")
      .agg(count(lit(1)).as("n_streaks"), max("len").as("max_streak"))
      .orderBy(col("max_streak").desc, col("user_id"))
      .limit(20)
  }

  /** Q82 — weekday × hour activity profile per event type: pure
    * calendar bucketing (ISO weekday to dodge engine dow-origin
    * differences), one hash aggregate, |types|·7·24 bounded output.
    * The mean is computed over integer cents — double sums are
    * order-dependent in their last ulp, and partial aggregation orders
    * differently than any other engine; exact integer sums make the
    * average bit-identical everywhere. Deliberately NOT rounded: the
    * exact rationals land on .5 round boundaries where Spark
    * (half-up) and other engines (half-even) disagree — one IEEE
    * division is bit-identical, a decimal round of it is not. The
    * seasonality fingerprint feeding anomaly baselines. */
  def q82(t: Tables): DataFrame =
    t.events
      .select(col("event_type"),
        (weekday(col("ts")) + 1).cast("long").as("isodow"),
        hour(col("ts")).cast("long").as("hr"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy("event_type", "isodow", "hr")
      .agg(count(lit(1)).as("n"),
        (sum("cents").cast("double") /
          (count(col("cents")) * 100).cast("double")).as("avg_value"))
      .orderBy("event_type", "isodow", "hr")

  /** Q84 — resample + forward fill: per-key hourly grid (dimension ×
    * sequence explode over broadcast global bounds), left join the
    * observed hourly reduction, then last-observation-carried-forward
    * via `last(ignoreNulls)` over an unbounded-preceding ROWS frame.
    * Hours before a key's first observation stay NULL. Observed value
    * is the hourly max in integer cents (deterministic reduction, no
    * float-sum ordering). The gap-filling primitive behind every
    * regular-grid time-series feature. */
  def q84(t: Tables): DataFrame = {
    val obs = t.events.filter(col("value").isNotNull)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
      .agg(max(round(col("value") * 100).cast("long")).as("cents"))
    val bounds = obs.agg(min("hr").as("lo"), max("hr").as("hi"))
    val grid = t.events.select("event_type").distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"),
        explode(sequence(col("lo"), col("hi"),
          expr("interval 1 hour"))).as("hr"))
    val w = Window.partitionBy("event_type").orderBy("hr")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(obs, Seq("event_type", "hr"), "left")
      .select(col("event_type"), col("hr"),
        (last("cents", ignoreNulls = true).over(w).cast("double") / 100)
          .as("filled"))
      .orderBy("event_type", "hr")
  }

  /** Q88 — growth accounting: per calendar day, split the active user
    * base into new (first-ever day), retained (also active the
    * previous day) and resurrected (returning after a gap), and count
    * churned (active the previous day, absent today) attributed to the
    * day the user went missing. One distinct (user, day) pass, two
    * per-user windows (lag for look-back, lead for churn attribution),
    * full-outer merge of the two day-keyed aggregates. All counts are
    * integers — no float portability hazards by construction. */
  def q88(t: Tables): DataFrame = {
    val ud = t.events.select(col("user_id"),
      to_date(col("ts")).as("day")).distinct()
    val w = Window.partitionBy("user_id").orderBy("day")
    val flagged = ud
      .withColumn("prev", lag("day", 1).over(w))
      .withColumn("next", lead("day", 1).over(w))
    val active = flagged.groupBy("day").agg(
      sum(when(col("prev").isNull, 1).otherwise(0)).as("new_users"),
      sum(when(col("prev") === date_sub(col("day"), 1), 1).otherwise(0))
        .as("retained"),
      sum(when(col("prev").isNotNull &&
        col("prev") < date_sub(col("day"), 1), 1).otherwise(0))
        .as("resurrected"))
    val maxDay = ud.agg(max("day").as("max_day"))
    val churn = flagged.crossJoin(broadcast(maxDay))
      .filter(col("day") < col("max_day") &&
        (col("next").isNull || col("next") > date_add(col("day"), 1)))
      .select(date_add(col("day"), 1).as("day"))
      .groupBy("day").agg(count(lit(1)).as("churned"))
    active.join(churn, Seq("day"), "full_outer")
      .select(col("day"),
        coalesce(col("new_users"), lit(0L)).as("new_users"),
        coalesce(col("retained"), lit(0L)).as("retained"),
        coalesce(col("resurrected"), lit(0L)).as("resurrected"),
        coalesce(col("churned"), lit(0L)).as("churned"))
      .orderBy("day")
  }

  /** Q89 — rolling 7-day distinct actives (WAU) per window-end day:
    * each active (user, day) is attributed to the 7 window-ends it can
    * serve via a sequence-explode, then one distinct + count per day —
    * the range join "day BETWEEN d-6 AND d" rewritten as an equi-group
    * (constant 7× expansion, shuffles on a date key; a true range join
    * would be a per-day rescan). Window-ends restricted to observed
    * days via a broadcast semi-join. Integer counts only. */
  def q89(t: Tables): DataFrame = {
    val ud = t.events.select(col("user_id"),
      to_date(col("ts")).as("day")).distinct()
    val days = ud.select("day").distinct()
    ud.select(col("user_id"),
        explode(sequence(col("day"), date_add(col("day"), 6))).as("day"))
      .join(broadcast(days), Seq("day"), "left_semi")
      .distinct()
      .groupBy("day").agg(count(lit(1)).as("wau"))
      .orderBy("day")
  }

  /** Q91 — referential-integrity audit: orphan counts for every FK
    * edge of the star schema in one result. Each edge is a left-anti
    * join against the (broadcastable) key side plus a total count;
    * at warehouse scale the anti-join shuffles only the FK column
    * (column pruning) and the dimension sides broadcast. The
    * data-quality gate run before any pipeline trusts its joins. */
  def q91(t: Tables): DataFrame = {
    def audit(name: String, fact: DataFrame, fk: String,
        dim: DataFrame, pk: String): DataFrame = {
      // no broadcast HINT: the lineitem->orders edge's key side is a
      // fact table (billions of keys at 100 TB — the audit's true
      // positive); AQE broadcasts the genuinely small dimension edges
      // at runtime on measured size instead of on promise
      val orphans = fact.select(col(fk))
        .join(dim.select(col(pk)),
          col(fk) === col(pk), "left_anti")
        .agg(count(lit(1)).as("orphans"))
      val total = fact.agg(count(lit(1)).as("total"))
      orphans.crossJoin(total).select(lit(name).as("relation"),
        col("orphans"), col("total"))
    }
    audit("lineitem->orders", t.lineitem, "l_orderkey",
        t.orders, "o_orderkey")
      .unionAll(audit("orders->customer", t.orders, "o_custkey",
        t.customer, "c_custkey"))
      .unionAll(audit("customer->nation", t.customer, "c_nationkey",
        t.nation, "n_nationkey"))
      .unionAll(audit("supplier->nation", t.supplier, "s_nationkey",
        t.nation, "n_nationkey"))
      .orderBy("relation")
  }

  /** Q92 — revenue concentration (Pareto curve by customer decile):
    * per-customer revenue in exact integer cents, deciles from a
    * [[GlobalRank]] distributed row_number + exact ntile arithmetic
    * (scales to 10⁹ customers; no unpartitioned WindowExec — asserted
    * in PlanPostureSpec), per-decile rollup and cumulative share. The
    * cumulative sum over the 10-row decile frame is a broadcast
    * self-join, not a window; shares are single IEEE divisions of
    * exact longs (bit-identical across engines, no rounding step).
    * "Top 10% of customers drive X% of revenue" — the concentration
    * metric behind sampling and stratification decisions. */
  def q92(t: Tables): DataFrame = {
    val cust = t.orders.groupBy("o_custkey")
      .agg(sum(round(col("o_totalprice") * 100).cast("long"))
        .as("cents"))
    val n = cust.agg(count(lit(1)).as("n_tot"))
    // the 10-row decile frame feeds three consumers (total, prior,
    // main chain) — checkpoint so the full customer rank pipeline
    // behind it runs once, not three times
    val deciles = GlobalRank
      .rowNumber(cust, -col("cents"), col("o_custkey"), "__i")
      .crossJoin(broadcast(n))
      .select(GlobalRank.ntileExpr(col("__i"), col("n_tot"), 10)
        .as("decile"), col("cents"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_customers"), sum("cents").as("dc"))
    // audit BEFORE the checkpoint truncates lineage — the GlobalRank
    // row_number pipeline is exactly the plan the scale gate must see
    // (post-checkpoint audits only inspect a LogicalRDD root; same
    // pattern as Dedup.ngramJaccardPairsPrefix / Graph.Audited)
    val decilesCk = graft.plans.PlanAudit.assertScalable(deciles)
      .localCheckpoint(true)
    val total = decilesCk.agg(sum("dc").as("tc"))
    val prior = decilesCk.select(
      col("decile").as("pd"), col("dc").as("pdc"))
    decilesCk
      .join(broadcast(prior), col("pd") <= col("decile"))
      .groupBy("decile", "n_customers", "dc")
      .agg(sum("pdc").as("cum_dc"))
      .crossJoin(broadcast(total))
      .select(col("decile"), col("n_customers"),
        (col("dc").cast("double") / 100).as("revenue"),
        (col("cum_dc").cast("double") /
          col("tc").cast("double")).as("cum_share"))
      .orderBy("decile")
  }

  /** Q93 — deterministic A/B bucket lift: users assigned to arms by
    * the first md5 nibble of their id (pure content hash — stable
    * across runs, engines, partitionings; the q46 split idea applied
    * to experimentation), then per-event-type arm metrics and relative
    * lift. Means and lift are IEEE expressions over exact integer
    * cents — reproducible to the bit on any engine. */
  def q93(t: Tables): DataFrame = {
    val armed = t.events
      .select(col("event_type"), col("user_id"),
        when(substring(md5(col("user_id").cast("string")), 1, 1)
          .isin("0", "1", "2", "3", "4", "5", "6", "7"), "A")
          .otherwise("B").as("arm"),
        round(coalesce(col("value"), lit(0.0)) * 100).cast("long")
          .as("cents"))
    armed.groupBy("event_type")
      .agg(
        sum(when(col("arm") === "A", 1).otherwise(0)).as("n_a"),
        sum(when(col("arm") === "B", 1).otherwise(0)).as("n_b"),
        sum(when(col("arm") === "A", col("cents")).otherwise(0L))
          .as("ca"),
        sum(when(col("arm") === "B", col("cents")).otherwise(0L))
          .as("cb"))
      .select(col("event_type"), col("n_a"), col("n_b"),
        (col("ca").cast("double") / (col("n_a") * 100).cast("double"))
          .as("avg_a"),
        (col("cb").cast("double") / (col("n_b") * 100).cast("double"))
          .as("avg_b"),
        ((col("cb").cast("double") / (col("n_b") * 100).cast("double")) /
          (col("ca").cast("double") / (col("n_a") * 100).cast("double"))
          - 1.0).as("lift"))
      .orderBy("event_type")
  }

  /** Q62 — z-score anomaly flags: per-key mean/stddev (constant-state
    * aggregates), broadcast back onto the stream, keep |z| beyond the
    * threshold. The stats side is |keys| rows — the fact table is
    * scanned once and never shuffled. */
  def q62(t: Tables, threshold: Double = 2.5): DataFrame = {
    val stats = t.events.groupBy("event_type")
      .agg(avg("value").as("mu"), stddev_samp("value").as("sd"))
    val z = (col("value") - col("mu")) / col("sd")
    t.events.join(broadcast(stats), "event_type")
      .filter(abs(z) > threshold)
      .select(col("event_id"), col("event_type"),
        round(col("value"), 4).as("value"), round(z, 4).as("z"))
      .orderBy("event_id")
  }

  /** q96 — SCD Type-2 interval build: collapse each user's event-type
    * stream into validity intervals (valid_from/valid_to/is_current,
    * versioned) — the warehouse slowly-changing-dimension shape, built
    * with change-point detection (lag) + a running sum for the run id,
    * then one aggregate per run. Windows partition by user_id: state is
    * bounded by one user's history, never the table. */
  def q96(t: Tables): DataFrame =
    scd2Intervals(t.events).orderBy("user_id", "version")

  /** SCD2 interval construction (the q96 body, callable): each user's
    * consecutive same-event_type runs become versioned validity
    * intervals `[valid_from, valid_to)`, open-ended on the current
    * run. Per-user partitioned windows only. */
  def scd2Intervals(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val runs = events
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
      .withColumn("prev", lag("event_type", 1).over(w))
      .withColumn("chg",
        when(col("prev").isNull || col("prev") =!= col("event_type"), 1L)
          .otherwise(0L))
      .withColumn("version", sum("chg")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val iv = runs.groupBy("user_id", "version", "event_type")
      .agg(min("ts").as("valid_from"), count(lit(1)).as("n_events"))
    val wv = Window.partitionBy("user_id").orderBy("version")
    iv.withColumn("valid_to", lead("valid_from", 1).over(wv))
      .withColumn("is_current",
        when(col("valid_to").isNull, 1L).otherwise(0L))
  }

  /** q147 — point-in-time SCD2 dimension lookup: every purchase event
    * fetches the dimension version that was VALID AT its timestamp —
    * the canonical warehouse "fact joins the history table" operation
    * (and the q146 PIT join's interval-keyed sibling). The dimension
    * is [[scd2Intervals]] over the user's NON-purchase activity (the
    * status runs a purchase lands inside); purchases with no status
    * yet keep a null version — LEFT semantics, like q146.
    *
    * Scale: one shuffle equi-join on user_id with the containment
    * predicate applied as the join filter; versions per user are
    * bounded by that user's activity, intervals never overlap, so at
    * most one dimension row survives per fact — no fan-out. */
  def q147(t: Tables): DataFrame = {
    val dim = scd2Intervals(
      t.events.filter(col("event_type") =!= "purchase"))
      .select(col("user_id").as("d_user"), col("version"),
        col("event_type").as("status"), col("valid_from"),
        col("valid_to"))
    val facts = t.events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_event"), col("ts"))
    facts.join(dim,
        col("user_id") === col("d_user") &&
          col("valid_from") <= col("ts") &&
          (col("valid_to").isNull || col("ts") < col("valid_to")),
        "left")
      .select(col("user_id"), col("p_event"), col("status"),
        col("version"))
      .orderBy("p_event")
  }

  /** SCD1 MERGE — last-writer-wins keyed upsert, the batch-callable
    * twin of the streaming `EventsStreaming.runUpsert` sink: collapse
    * `delta` to its newest row per key (highest `versionCol`; callers
    * must make (keys, versionCol) unique in the delta or the pick is
    * tie-broken arbitrarily), then replace matching snapshot rows and
    * append the rest. `delta`'s schema is the snapshot's plus
    * `versionCol`.
    *
    * Scale: the collapse window partitions by the merge key (state =
    * one key's delta rows); the anti-join is a key equi-join Spark may
    * broadcast when the collapsed delta is small (AQE decides — a
    * delta is usually ≪ the snapshot but nothing guarantees it, so no
    * unconditional broadcast hint). Replaying the same delta is a
    * no-op — MERGE idempotence, asserted in RelationalSpec; at 100 TB
    * the snapshot side would be key-partitioned so the rewrite touches
    * only affected partitions (the same note as runUpsert's
    * replaceWhere). */
  def scd1Merge(
      snapshot: DataFrame, delta: DataFrame, keys: Seq[String],
      versionCol: String): DataFrame = {
    require(keys.nonEmpty, "scd1Merge needs at least one key column")
    require(delta.columns.contains(versionCol),
      s"delta lacks version column $versionCol")
    val latest = delta
      .withColumn("__rn", row_number().over(
        Window.partitionBy(keys.map(col): _*)
          .orderBy(col(versionCol).desc)))
      .filter(col("__rn") === 1)
      .drop("__rn", versionCol)
    snapshot
      .join(latest.select(keys.map(col): _*), keys, "left_anti")
      .unionByName(latest)
  }

  /** q137 — oracle gate for [[scd1Merge]]: the customer table as the
    * snapshot ('base' rows, account balance in cents), a delta of one
    * row per (customer, 1998 order date) carrying that date's order
    * total, version = the order date. The merge keeps base rows for
    * customers with no 1998 orders and replaces the rest with their
    * LATEST 1998 date's total — exercising both the within-delta LWW
    * collapse and the keyed replace. */
  def q137(t: Tables): DataFrame = {
    val snap = t.customer.select(
      col("c_custkey").as("k"), lit("base").as("status"),
      round(col("c_acctbal") * 100).cast("long").as("bal_cents"))
    val delta = t.orders
      .filter(col("o_orderdate") >= lit("1998-01-01"))
      .groupBy(col("o_custkey").as("k"), col("o_orderdate").as("version"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long"))
        .as("bal_cents"))
      .select(col("k"), lit("active").as("status"), col("bal_cents"),
        col("version"))
    scd1Merge(snap, delta, Seq("k"), "version").orderBy("k")
  }

  /** q138 — DECIMAL aggregate semantics pin: the engine family's most
    * notorious cross-engine divergence corner, which the all-double
    * fixtures never touch. Prices viewed as DECIMAL(12,2); SUM / MIN /
    * MAX and the scale-growing product SUM(p·(1−disc)) are emitted as
    * STRINGS, so the hash gate pins the exact digits AND the result
    * scale (a sum that drifted through double, or an engine that
    * rounded the scale-4 product differently, changes the string).
    * AVG is deliberately NOT taken in decimal: Spark's decimal AVG
    * rounds HALF_UP at scale 6 while DuckDB computes a double — the
    * portable form is the IEEE division of the exactly-summed cents,
    * rounded for display (the repo-wide trick). Per-row decimal ROUND
    * is likewise avoided: DuckDB and Spark disagree at .xx5 halves. */
  def q138(t: Tables): DataFrame = {
    val p = col("l_extendedprice").cast("decimal(12,2)")
    val d = col("l_discount").cast("decimal(12,2)")
    t.lineitem
      .select(col("l_returnflag").as("flag"), p.as("p"), d.as("disc"))
      .groupBy("flag")
      .agg(
        count(lit(1)).as("n"),
        sum("p").cast("string").as("sum_price"),
        min("p").cast("string").as("min_price"),
        max("p").cast("string").as("max_price"),
        sum(col("p") * (lit(1) - col("disc"))).cast("string")
          .as("sum_disc_price"),
        round(sum("p").cast("double") / count(lit(1)), 4).as("avg_price"))
      .orderBy("flag")
  }

  /** q98 — exponential smoothing (EWMA) over each user's event stream:
    * ewma_i = Σ_{j=0..7} cents_{i-j} · 2⁻ʲ, a lag-chain window pass.
    * α = 1/2 over integer cents makes every term and every partial sum
    * exactly representable in IEEE double (the mantissa never exceeds
    * ~24 bits), so results are bit-identical across engines, partition
    * layouts, and retries — no rounding tolerance needed. One window,
    * no arrays, state bounded by 8 lags per user. */
  def q98(t: Tables): DataFrame = ewma(t.events)

  def ewma(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val withCents = events.select(
      col("event_id"), col("user_id"), col("ts"),
      round(coalesce(col("value"), lit(0.0)) * 100).cast("long")
        .as("cents"))
    val terms = (0 until 8).map { j =>
      coalesce(lag(col("cents"), j).over(w).cast("double"), lit(0.0)) *
        lit(math.pow(0.5, j))
    }
    withCents
      .withColumn("ewma_cents", terms.reduce(_ + _))
      .select(col("event_id"), col("user_id"),
        (col("ewma_cents") / 100).as("ewma"))
      .orderBy("event_id")
  }

  /** q99 — robust dispersion profile: per-event-type median and median
    * absolute deviation (MAD), i.e. median(|x − median(x)|) — the
    * outlier-resistant counterpart to q62's mean/stddev z-scores. Two
    * passes of the scale-safe exact-quantile machinery (histogram +
    * two-level prefix sums — never buffers a group), with the |types|-
    * row median frame broadcast onto the second scan. */
  def q99(t: Tables): DataFrame = {
    // one scan (round 16, guide §1.2): the deviation multiset is a
    // function of the (group, value) multiset, so the MAD pass derives
    // its histogram from the median pass's histogram — |v − med| with
    // the counts summed over values that collapse to the same
    // deviation — instead of re-scanning events and re-aggregating
    // the full table. Bit-identical: same deviation multiset (value
    // is already a double; NULL values map to NULL deviations with
    // their counts, exactly as the per-row form produced). Both hists
    // are materialized (see checkpointedHist) so the machinery's
    // multi-subtree fan-out reads kilobytes, not the events table.
    val hist = checkpointedHist(t.events, "event_type", "value")
    val med = quantileContOfHist(hist, "event_type", Seq("med" -> 0.5))
    val devHist = hist.join(broadcast(med), Seq("event_type"))
      .select(col("event_type"),
        abs(col("val") - col("med")).as("val"), col("cnt"))
      .groupBy(col("event_type"), col("val"))
      .agg(sum("cnt").as("cnt"))
      .localCheckpoint(true)
    val mad = quantileContOfHist(devHist, "event_type", Seq("mad" -> 0.5))
    med.join(mad, Seq("event_type"))
      .select(col("event_type"), round(col("med"), 4).as("median"),
        round(col("mad"), 4).as("mad"))
      .orderBy("event_type")
  }

  /** q107 — batch twin of the STREAM-STREAM interval join
    * ([[graft.streaming.EventsStreaming.clicksBeforePurchase]]): every
    * (purchase, click) pair for the same user with the click at most
    * one hour before. Same body as the streaming form (watermarks are
    * no-ops on batch), so the oracle hash-match transitively locks the
    * streaming operator's join semantics too. Plans as an equi-join on
    * user_id with the time predicates as post-join filters — the
    * bounded-state shape, never a cross product. */
  def q107(t: Tables): DataFrame =
    graft.streaming.EventsStreaming.clicksBeforePurchase(t.events)
      .orderBy("user_id", "p_event", "c_event")

  /** q136 — batch twin of the stream-stream LEFT OUTER interval join
    * ([[graft.streaming.EventsStreaming.purchasesWithClicks]]): q107
    * plus one null-click row per purchase with no qualifying click.
    * Same bounded-state plan shape; the outer side adds only the
    * null-emission bookkeeping. */
  def q136(t: Tables): DataFrame =
    graft.streaming.EventsStreaming.purchasesWithClicks(t.events)
      .orderBy("user_id", "p_event", "c_event")

  /** q139 — Bloom-pruned fact⋈dim join (the explicit runtime-filter
    * pattern; kernel + rationale in [[graft.functions.BloomKernel]]):
    * a selective order predicate (~10% of orders) is turned into a
    * 128 KB Bloom filter over the surviving keys, broadcast onto
    * lineitem, and applied as a codegen'd Filter DIRECTLY over the
    * fact scan — non-matching fact rows die map-side, before the join
    * shuffle, instead of after it. At 100 TB this is the difference
    * between shuffling 100 TB and shuffling ~10 TB (+fp·90 TB,
    * fp ≈ 1%). False positives are removed by the real join that
    * follows, so the result is exactly the plain join's — which is
    * precisely what the oracle checks (the oracle SQL has no bloom in
    * it). The revenue aggregate carries exact 10⁻⁴ integer units
    * (q108 discipline). */
  def q139(t: Tables): DataFrame = {
    import graft.functions.BloomFunctions._
    val dim = t.orders
      .filter(col("o_orderpriority") === "1-URGENT" &&
        col("o_orderdate") >= lit("1997-07-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_orderdate"))
    val bloom = dim.agg(bloom_agg(col("o_orderkey")).as("__bloom"))
    val pruned = t.lineitem
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      .crossJoin(broadcast(bloom))
      .filter(bloom_might_contain(col("l_orderkey"), col("__bloom")))
      .drop("__bloom")
    pruned
      .join(dim, col("l_orderkey") === col("o_orderkey"))
      .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
      .agg(count(lit(1)).as("n_items"),
        sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
            * 10000).cast("long")).as("rev_e4"))
      .select(col("month"), col("n_items"),
        round(col("rev_e4").cast("double") / 10000, 2).as("revenue"))
      .orderBy("month")
  }

  /** q140 — 2-D skyline (Pareto frontier; Börzsönyi et al., "The
    * Skyline Operator", ICDE'01): the parts no other part beats on
    * BOTH price (lower better) and size (higher better). The naive
    * formulation is an O(n²) dominance anti-join — that IS the DuckDB
    * oracle (NOT EXISTS), but at 10⁹ rows it's a non-starter. The
    * Spark plan is linear + one ranged sort: p is dominated iff
    *   max(size over price' < price)  ≥ size   (strictly cheaper, as good)
    *   ∨ max(size over price' = price) > size  (same price, strictly better)
    * The strict-prefix max comes from [[GlobalRank.prefixMax]] (two-
    * level bucketed, zero unpartitioned windows); the equal-price max
    * is an ordinary partitioned window. Price is exact integer cents
    * so the RANGE −1 strictness bound is sound. */
  def q140(t: Tables): DataFrame = {
    val pts = t.part.select(
      col("p_partkey"),
      round(col("p_retailprice") * 100).cast("long").as("price_cents"),
      col("p_size").cast("long").as("size"))
    val withM1 = GlobalRank.prefixMax(
      pts, col("price_cents"), col("size"), "m1")
    val eqW = Window.partitionBy("price_cents")
    withM1
      .withColumn("m2", max("size").over(eqW))
      .filter(!(coalesce(col("m1") >= col("size"), lit(false)) ||
        col("m2") > col("size")))
      .select("p_partkey", "price_cents", "size")
      .orderBy("p_partkey")
  }

  /** q108 — the TPC-H Q3 "shipping priority" composite: segment-
    * filtered customers ⋈ orders before D ⋈ lineitems shipped after D,
    * revenue-ranked top 10. Dimension side broadcast, lineitem never
    * pre-shuffled, top-k as TakeOrderedAndProject. Revenue is summed
    * in exact 10⁻⁴ units (price·(1−discount) carries 4 decimals), so
    * the aggregate is order-independent and engine-portable. */
  def q108(t: Tables): DataFrame = {
    val cutoff = "1997-06-01"
    val cust = t.customer
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val ord = t.orders
      .filter(col("o_orderdate") < lit(cutoff).cast("timestamp"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("o_orderdate"))
    // NO broadcast hint on ord: it is fact-derived (orders ⋈ segment
    // customers) and grows with the corpus — the round-9 broadcast-
    // boundedness audit's first true positive. AQE still broadcasts
    // it at runtime when it measures small; the HINT was the bug.
    t.lineitem
      .filter(col("l_shipdate") > lit(cutoff).cast("timestamp"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_orderkey", "o_orderdate")
      .agg(sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * 10000).cast("long")).as("rev_e4"))
      .select(col("l_orderkey"), col("o_orderdate"),
        round(col("rev_e4").cast("double") / 10000, 2).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** q109 — supply-chain concentration: per part type, the Herfindahl–
    * Hirschman index of supplier shipment shares (Σ share²) — the
    * standard market-concentration analytic. HHI = Σq²/tot² with BOTH
    * sums exact integers (decimal(38,0) — q² terms overflow a long at
    * scale) and ONE final IEEE division, mirroring the q124 Gini
    * discipline: a Σ(q/tot)² float sum depends on aggregation order
    * and can flip the 6th rounded digit across engines/partitionings.
    * The fact table aggregates once; the |types|-row totals frame
    * broadcasts back. */
  def q109(t: Tables): DataFrame = {
    val qty = round(col("l_quantity")).cast("long")
    val dec = "decimal(38,0)"
    val perSupp = t.lineitem
      .join(broadcast(t.part.select("p_partkey", "p_type")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_type"), col("l_suppkey"))
      .agg(sum(qty).as("q"))
    val totals = perSupp.groupBy("p_type").agg(sum("q").as("tot"),
      count(lit(1)).as("n_suppliers"))
    perSupp.join(broadcast(totals), "p_type")
      .groupBy(col("p_type"), col("n_suppliers"), col("tot"))
      .agg(sum(col("q").cast(dec) * col("q").cast(dec)).as("sq"))
      .select(col("p_type"), col("n_suppliers"),
        round(col("sq").cast("double") /
          (col("tot").cast(dec) * col("tot").cast(dec)).cast("double"),
          6).as("hhi"))
      .orderBy("p_type")
  }

  /** q110 — scalar string-function sweep: translate / lpad /
    * split_part / regexp stripping / reversed casing, all in one
    * projection over part names — pure codegen Columns, breadth
    * coverage for the §2.8 scalar surface. */
  def q110(t: Tables): DataFrame =
    t.part
      .filter(col("p_partkey") % 7 === 0)
      .select(
        col("p_partkey"),
        upper(col("p_name")).as("name_upper"),
        translate(col("p_type"), "AEIOU", "aeiou").as("type_tr"),
        lpad(col("p_brand"), 12, "#").as("brand_pad"),
        substring_index(col("p_name"), " ", 1).as("first_word"),
        regexp_replace(col("p_name"), "[^a-z]", "").as("letters_only"),
        reverse(lower(col("p_type"))).as("type_rev"),
        length(col("p_name")).cast("long").as("name_len"))
      .orderBy("p_partkey")

  /** q111 — correlated-subquery SQL surface: scalar subquery, EXISTS,
    * and IN in one statement, planned by Catalyst's subquery rewrites
    * (RewriteCorrelatedScalarSubquery → left outer join; exists/in →
    * semi joins) — the declarative forms analysts actually write,
    * proving the engine's SQL entry point handles them with join
    * plans rather than per-row re-execution. */
  def q111(t: Tables): DataFrame = {
    val s = t.spark // not t.events.sparkSession: don't load an unused table
    Seq("orders" -> t.orders, "customer" -> t.customer,
      "nation" -> t.nation)
      .foreach { case (n, df) => df.createOrReplaceTempView(n) }
    s.sql(
      """SELECT c.c_custkey,
        |       (SELECT COUNT(*) FROM orders o
        |        WHERE o.o_custkey = c.c_custkey) AS n_orders,
        |       (SELECT MAX(o.o_totalprice) FROM orders o
        |        WHERE o.o_custkey = c.c_custkey) AS max_price
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_orderstatus = 'F')
        |  AND c.c_nationkey IN (SELECT n_nationkey FROM nation
        |                        WHERE n_regionkey < 3)
        |ORDER BY c_custkey""".stripMargin)
  }

  /** q124 — Gini coefficient of customer revenue concentration (the
    * single-number companion to q92's Pareto deciles), from the exact
    * formula over sorted integer cents: G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n
    * with xᵢ ascending. The rank i comes from a [[GlobalRank]]
    * distributed row_number over the |customers|-row aggregate — no
    * repartition(1), no unpartitioned WindowExec (asserted in
    * PlanPostureSpec) — and every sum is an exact integer until the
    * final two divisions. */
  def q124(t: Tables): DataFrame = {
    val cust = t.orders
      .groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long"))
        .as("cents"))
    val ranked = GlobalRank
      .rowNumber(cust, col("cents"), col("o_custkey"), "i")
    // i·cents can reach ~1e17 per term and ~1e26 summed at billions of
    // customers — past Long range, where Spark's non-ANSI sum would
    // wrap silently while DuckDB promotes to HUGEINT. decimal(38,0)
    // keeps the engine side exact to 10³⁸ (cast BEFORE the multiply).
    val dec = "decimal(38,0)"
    ranked.agg(
      count(lit(1)).as("n_customers"),
      (sum("cents").cast("double") / 100).as("total_revenue"),
      ((lit(2.0) * sum(col("i").cast(dec) * col("cents").cast(dec))
        .cast("double") /
        (count(lit(1)).cast("double") * sum("cents").cast("double"))) -
        ((count(lit(1)) + 1).cast("double") /
          count(lit(1)).cast("double"))).as("gini"))
  }

  /** q123 — customer-360 segmentation: join the commerce domain
    * (order revenue) with the behavioral domain (event engagement) per
    * customer, classify against the population MEDIANS of both axes
    * (scale-safe quantile machinery, thresholds broadcast), and roll
    * up per segment. The full-outer join keeps customers present in
    * only one domain; revenue stays in exact integer cents until the
    * final division. */
  def q123(t: Tables): DataFrame = {
    val rev = t.orders
      .groupBy(col("o_custkey").as("cust"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long"))
        .as("cents"))
    val eng = t.events
      .groupBy(col("user_id").as("cust"))
      .agg(count(lit(1)).as("events"))
    val joined = rev.join(eng, Seq("cust"), "full_outer")
      .select(col("cust"),
        coalesce(col("cents"), lit(0L)).as("cents"),
        coalesce(col("events"), lit(0L)).as("events"))
      // one row per customer; THREE consumers below (two global
      // medians + the final segmentation) each re-ran both fact-table
      // aggregates and the full-outer join before this truncation
      // (round-16, the q141/perDoc discipline)
      .localCheckpoint(true)
    val medRev = globalQuantileDisc(joined, "cents", 0.5, "med_cents")
    // engagement median over ACTIVE customers only: most customers
    // never emit events, so the all-customer median is 0 and the axis
    // degenerates (everyone classifies as engaged)
    val medEng = globalQuantileDisc(
      joined.filter(col("events") > 0), "events", 0.5, "med_events")
    // medEng is EMPTY when no customer has events (the DuckDB oracle's
    // scalar subquery yields NULL instead) — a crossJoin would zero the
    // whole result on that degenerate input, so join on a constant key
    // with left semantics: med_events becomes NULL and every
    // engagement comparison is gated by events > 0 anyway.
    joined.crossJoin(broadcast(medRev))
      .withColumn("__k", lit(1))
      .join(broadcast(medEng.withColumn("__k", lit(1))), Seq("__k"),
        "left")
      .drop("__k")
      .select(
        (col("events") > 0 && col("events") >= col("med_events"))
          .as("hi_eng"),
        (col("cents") >= col("med_cents")).as("hi_rev"),
        col("cents"), col("events"))
      .select(
        when(col("hi_rev") && col("hi_eng"), "champion")
          .when(col("hi_rev"), "big_spender")
          .when(col("hi_eng"), "window_shopper")
          .otherwise("dormant").as("segment"),
        col("cents"), col("events"))
      .groupBy("segment")
      .agg(count(lit(1)).as("n_customers"),
        (sum("cents").cast("double") / 100).as("revenue"),
        sum("events").as("total_events"))
      .orderBy("segment")
  }

  /** q121 — BAG (multiset) set operations: INTERSECT ALL / EXCEPT ALL
    * between the even- and odd-event_id halves of the stream,
    * summarized per type — completes §2.7 beyond q11's set-semantics
    * forms. Spark plans these as aggregate+generate (count-min /
    * count-difference), never a row-by-row comparison. */
  def q121(t: Tables): DataFrame = {
    val a = t.events.filter(col("event_id") % 2 === 0)
      .select("event_type")
    val b = t.events.filter(col("event_id") % 2 === 1)
      .select("event_type")
    val i = a.intersectAll(b).groupBy("event_type")
      .agg(count(lit(1)).as("n"))
      .withColumn("op", lit("intersect_all"))
    val e = a.exceptAll(b).groupBy("event_type")
      .agg(count(lit(1)).as("n"))
      .withColumn("op", lit("except_all"))
    // explicit NULLS FIRST: set ops preserve NULL event_types, and the
    // engines' ORDER BY null placement defaults differ (q113 discipline)
    i.unionByName(e).select("op", "event_type", "n")
      .orderBy(col("op"), col("event_type").asc_nulls_first)
  }

  /** q122 — correlated LATERAL subquery: each customer's single
    * highest-value order fetched by a per-row ordered-and-limited
    * lateral — the SQL spelling of grouped top-1, which Catalyst
    * decorrelates into a window/join plan rather than re-executing the
    * subquery per row (same physical shape class as
    * [[graft.plans.TopKPerKey]] k=1). */
  def q122(t: Tables): DataFrame = {
    val s = t.orders.sparkSession
    t.customer.createOrReplaceTempView("customer")
    t.orders.createOrReplaceTempView("orders")
    s.sql(
      """SELECT c.c_custkey, t.o_orderkey AS best_order,
        |       t.o_totalprice AS best_price
        |FROM customer c,
        |LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
        |         WHERE o.o_custkey = c.c_custkey
        |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) t
        |ORDER BY c.c_custkey""".stripMargin)
  }

  /** q119 — Benford leading-digit audit: distribution of the first
    * digit of order amounts (in cents) against Benford's expectation
    * log10(1 + 1/d) — the classic synthetic-data / fraud signal. One
    * hash aggregate over 9 keys; shares divide exact integers, the
    * expectation is rounded to 6 to absorb libm ulp differences. */
  def q119(t: Tables): DataFrame = {
    val cents = round(col("o_totalprice") * 100).cast("long")
    val digit = substring(cents.cast("string"), 1, 1).cast("long")
    val counts = t.orders
      .filter(cents > 0)
      .select(digit.as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val total = counts.agg(sum("n").as("tot"))
    counts.crossJoin(broadcast(total))
      .select(col("digit"), col("n"),
        (col("n").cast("double") / col("tot").cast("double"))
          .as("share"),
        round(log10(lit(1.0) + lit(1.0) / col("digit")), 6)
          .as("benford"))
      .orderBy("digit")
  }

  /** q120 — seasonality index: monthly revenue vs the all-month mean
    * (index 1.0 = average month) plus each month's share — exact
    * integer cents throughout, the index an IEEE division of exact
    * integers so it is engine-portable without tolerance. */
  def q120(t: Tables): DataFrame = {
    val cents = round(col("o_totalprice") * 100).cast("long")
    val monthly = t.orders
      .groupBy(month(col("o_orderdate")).cast("long").as("month"))
      .agg(sum(cents).as("cents"), count(lit(1)).as("orders"))
    val total = monthly.agg(sum("cents").as("tot"),
      count(lit(1)).as("n_months"))
    monthly.crossJoin(broadcast(total))
      .select(col("month"), col("orders"),
        (col("cents").cast("double") / 100).as("revenue"),
        (col("cents").cast("double") * col("n_months").cast("double") /
          col("tot").cast("double")).as("seasonality_index"),
        (col("cents").cast("double") / col("tot").cast("double"))
          .as("share"))
      .orderBy("month")
  }

  /** q118 — the second window-suite: cume_dist, nth_value, first/last
    * value with explicit full frames over order-priority partitions —
    * completes the §2.5 window-function surface beyond q45's ranking
    * set. Ordering is made total (cents, key) so every function is
    * deterministic; output is thinned AFTER the windows so the frame
    * semantics stay intact. */
  def q118(t: Tables): DataFrame = {
    val cents = round(col("o_totalprice") * 100).cast("long")
    val base = t.orders.select(col("o_orderkey"),
      col("o_orderpriority").as("prio"), cents.as("cents"))
    val wo = Window.partitionBy("prio").orderBy("cents", "o_orderkey")
    val wf = wo.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    base
      .withColumn("cd", cume_dist().over(wo))
      .withColumn("third_key", nth_value(col("o_orderkey"), 3).over(wf))
      .withColumn("cheapest", first(col("o_orderkey")).over(wf))
      .withColumn("priciest", last(col("o_orderkey")).over(wf))
      .filter(col("o_orderkey") % 50 === 0)
      .select(col("o_orderkey"), col("prio"),
        (col("cents").cast("double") / 100).as("price"),
        round(col("cd"), 6).as("cume_dist"),
        col("third_key"), col("cheapest"), col("priciest"))
      .orderBy("o_orderkey")
  }

  /** q116 — activity gap detection: per user, the span of active days,
    * days actually active, missing days, and the longest gap — data-
    * quality / engagement signal. The longest gap comes from a lag
    * diff over the user's DISTINCT active days (bounded by the
    * calendar, not event volume); no day-grid explode is needed at
    * all, so the plan is two hash aggregates and one bounded window. */
  def q116(t: Tables): DataFrame = {
    val days = t.events
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val w = Window.partitionBy("user_id").orderBy("day")
    days
      .withColumn("gap", datediff(col("day"), lag("day", 1).over(w)) - 1)
      .groupBy("user_id")
      .agg(
        (datediff(max("day"), min("day")) + 1).cast("long")
          .as("span_days"),
        count(lit(1)).as("active_days"),
        coalesce(max("gap"), lit(0)).cast("long").as("longest_gap"))
      .withColumn("missing_days",
        col("span_days") - col("active_days"))
      .orderBy("user_id")
  }

  /** q117 — bounce rate: share of 30-minute-gap sessions containing
    * exactly one event, per user cohort (by first-seen week) — the
    * q15 sessionization core re-aggregated at session granularity.
    * Session ids are per-user running sums (bounded windows); the
    * bounce ratio divides exact integer counts. */
  def q117(t: Tables): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val gapMicros = 30L * 60 * 1000 * 1000
    val sess = t.events
      .select(col("user_id"), col("ts"), col("event_id"),
        when(
          unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w))
            > gapMicros, 1L).otherwise(0L).as("new_sess"))
      .withColumn("sess_id", sum("new_sess")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sess_id")
      .agg(count(lit(1)).as("n_events"))
    sess.groupBy("user_id")
      .agg(count(lit(1)).as("sessions"),
        sum(when(col("n_events") === 1, 1L).otherwise(0L))
          .as("bounces"))
      .select(col("user_id"), col("sessions"), col("bounces"),
        (col("bounces").cast("double") / col("sessions").cast("double"))
          .as("bounce_rate"))
      .orderBy("user_id")
  }

  /** q114 — hierarchical share-of-parent/share-of-total: revenue per
    * nation with its share of the region, share of the world, and rank
    * within region — the drill-down OLAP report. Revenue aggregates to
    * exact integer cents BEFORE the |nations|-row window stage, so the
    * shares are IEEE divisions of exact integers (portable, no
    * tolerance); windows run over a 25-row frame, never the fact
    * table. */
  def q114(t: Tables): DataFrame = {
    val cents = round(col("o_totalprice") * 100).cast("long")
    val perNation = t.orders
      .join(t.customer.select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.nation
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region.select(col("r_regionkey"), col("r_name"))),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region"), col("n_name").as("nation"))
      .agg(sum(cents).as("cents"))
    val wr = Window.partitionBy("region")
    // world total as a broadcast 1-row frame (not an unpartitioned
    // window — keeps the plan free of single-partition window stages)
    val total = perNation.agg(sum("cents").as("total_cents"))
    perNation
      .withColumn("region_cents", sum("cents").over(wr))
      .crossJoin(broadcast(total))
      .select(col("region"), col("nation"),
        (col("cents").cast("double") / 100).as("revenue"),
        (col("cents").cast("double") / col("region_cents").cast("double"))
          .as("share_of_region"),
        (col("cents").cast("double") / col("total_cents").cast("double"))
          .as("share_of_total"),
        rank().over(wr.orderBy(col("cents").desc, col("nation")))
          .cast("long").as("rank_in_region"))
      .orderBy("region", "rank_in_region")
  }

  /** q115 — debounce / first-event-per-window: keep only the first
    * event of each (user, type) inside every tumbling hour — the
    * at-source dedup an event collector applies before fan-in (repeat
    * clicks, retry storms). Tumbling assignment is integer epoch
    * division (no session state), then one min-aggregate per
    * (window, user, type): two shuffle-free map stages + one hash
    * aggregate, trivially parallel at any scale. */
  def q115(t: Tables): DataFrame = {
    val hour = floor(unix_timestamp(col("ts")) / 3600).cast("long")
    t.events
      .select(col("user_id"), col("event_type"), hour.as("hour_bucket"),
        col("event_id"))
      .groupBy("user_id", "event_type", "hour_bucket")
      .agg(min("event_id").as("first_event"),
        count(lit(1)).as("n_events"))
      .withColumn("suppressed", col("n_events") - 1)
      .orderBy("user_id", "event_type", "hour_bucket")
  }

  /** q113 — NULL-semantics parity surface: NULLIF-derived NULL group
    * keys, count(*) vs count(col) (NULL-skipping), and a NULL-SAFE
    * equi-join (`<=>` / IS NOT DISTINCT FROM) that keeps the NULL-key
    * row matched — the exact semantics corner where engines silently
    * diverge, pinned under the hash oracle. */
  def q113(t: Tables): DataFrame = {
    val keyed = t.events
      .select(nullif(col("event_type"), lit("error")).as("k"),
        col("value"), col("user_id"))
    val g = keyed.groupBy("k")
      .agg(count(lit(1)).as("n_all"), count("value").as("n_vals"),
        countDistinct("user_id").as("users"))
    val d = keyed.select(col("k").as("dk")).distinct()
    g.join(d, col("k") <=> col("dk"))
      .select(col("k"), col("n_all"), col("n_vals"), col("users"))
      .orderBy(asc_nulls_first("k"))
  }

  /** q101 — behavioral path analysis: the top-20 three-step event-type
    * paths across all user streams (the "what do users do before X"
    * query). Two lags over the per-user window build the trigram, one
    * hash aggregate counts it, and the global top-k plans as
    * TakeOrderedAndProject — |distinct paths| ≤ |types|³ keys, so the
    * aggregate state is constant-bounded regardless of event volume. */
  def q101(t: Tables): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t.events
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
      .withColumn("p1", lag("event_type", 1).over(w))
      .withColumn("p2", lag("event_type", 2).over(w))
      .filter(col("p2").isNotNull)
      .select(concat_ws(">", col("p2"), col("p1"), col("event_type"))
        .as("path"))
      .groupBy("path").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path"))
      .limit(20)
  }

  /** q102 — winsorized and trimmed means per event type: p05/p95
    * fences from the scale-safe quantile machinery (broadcast back
    * onto the scan), values clamped/trimmed in INTEGER CENTS so the
    * sums — and therefore the means — are exact and engine-portable
    * with no floating-point tolerance. The robust-mean counterpart to
    * q99's MAD. */
  def q102(t: Tables): DataFrame = {
    // clamped/trimmed sums derive from the quantile pass's own
    // MATERIALIZED histogram (round 16, guide §1.2): the winsorized
    // and trimmed sums are cnt-weighted integer sums over |hist| rows
    // — exact by integer arithmetic — so the second full
    // scan+aggregate of events disappears.
    val hist = checkpointedHist(
      t.events.filter(col("value").isNotNull), "event_type", "value")
    val fences = quantileContOfHist(hist, "event_type",
      Seq("p05" -> 0.05, "p95" -> 0.95))
    val cents = round(col("val") * 100).cast("long")
    val lo = round(col("p05") * 100).cast("long")
    val hi = round(col("p95") * 100).cast("long")
    hist.join(broadcast(fences), "event_type")
      .select(col("event_type"), col("cnt"),
        greatest(lo, least(hi, cents)).as("wc"),
        when(cents.between(lo, hi), cents).as("tc"))
      .groupBy("event_type")
      .agg(
        sum("cnt").as("n"),
        (sum(col("wc") * col("cnt")).cast("double")
          / (sum("cnt") * 100).cast("double")).as("winsorized_mean"),
        (sum(col("tc") * col("cnt")).cast("double")
          / (sum(when(col("tc").isNotNull, col("cnt"))) * 100)
            .cast("double")).as("trimmed_mean"),
        coalesce(sum(when(col("tc").isNotNull, col("cnt"))), lit(0L))
          .as("n_kept"))
      .orderBy("event_type")
  }

  /** q97 — last-touch revenue attribution: each purchase is credited
    * to the user's most recent non-purchase event type (or 'direct'
    * when none precedes it), then revenue rolls up per channel.
    * `last(..., ignoreNulls)` over a PRECEDING-only frame is the
    * one-pass sessionless attribution shape; exact integer cents keep
    * the revenue sums engine-portable. */
  def q97(t: Tables): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    t.events
      .withColumn("channel",
        last(when(col("event_type") =!= "purchase", col("event_type")),
          ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(coalesce(col("channel"), lit("direct")).as("channel"),
        round(coalesce(col("value"), lit(0.0)) * 100).cast("long")
          .as("cents"))
      .groupBy("channel")
      .agg(count(lit(1)).as("purchases"),
        (sum("cents").cast("double") / 100).as("revenue"))
      .orderBy("channel")
  }

  /** q128 — click→purchase conversion survival curve: per user the
    * FIRST click and FIRST purchase (one hash aggregate over the
    * stream — no self-join, unlike q107's pair listing), the lag in
    * whole hours (epoch-second floors on both engines, so the bucket
    * arithmetic is integer-exact), capped at 24h, then the converted /
    * cumulative-converted / still-surviving counts per bucket. The
    * cumulative sum over the ≤25-row histogram is a [[GlobalRank]]
    * distributed prefix sum — same discipline as q92/q126, no
    * unpartitioned window. The discrete-survival shape behind
    * "how long until a user converts" retention analyses. */
  def q128(t: Tables): DataFrame = {
    val firsts = t.events.groupBy("user_id").agg(
      min(when(col("event_type") === "click",
        unix_timestamp(col("ts")))).as("fc"),
      min(when(col("event_type") === "purchase",
        unix_timestamp(col("ts")))).as("fp"))
    val lags = firsts
      .filter(col("fc").isNotNull && col("fp").isNotNull
        && col("fp") >= col("fc"))
      .select(expr("(fp - fc) div 3600").as("lag_h"))
    val tot = lags.agg(count(lit(1)).as("n"))
    val hist = lags
      .select(when(col("lag_h") >= 24, 24L).otherwise(col("lag_h"))
        .as("bucket_h"))
      .groupBy("bucket_h").agg(count(lit(1)).as("converted"))
    GlobalRank.cumSum(hist, col("bucket_h"), col("bucket_h"),
        col("converted"), "cum_converted")
      .crossJoin(broadcast(tot))
      .select(col("bucket_h"), col("converted"), col("cum_converted"),
        (col("n") - col("cum_converted")).as("surviving"))
      .orderBy("bucket_h")
  }

  /** q133 — market-basket lift: the top co-occurring part pairs across
    * orders, ranked by lift = P(i,j)/(P(i)·P(j)) — the co-occurrence
    * core of "customers who bought X also bought Y" (the reference's
    * problem domain, generalized from per-site ranks to item-item
    * affinity).
    *
    * Scale shape: baskets are DISTINCT (order, part) rows; the pair
    * self-join is on the ORDER key, so its cost is Σ|basket|² — bounded
    * by the max basket size (single-digit in commerce schemas), linear
    * in orders, never |parts|². Item counts join back (dimension-sized,
    * AQE broadcasts); the order count is a broadcast 1-row frame. Lift
    * arithmetic is integer counts through one rounded double division —
    * engine-exact. Top-k is TakeOrderedAndProject on the total order
    * (lift desc, part_i, part_j). */
  def q133(t: Tables): DataFrame = basketLift(t.lineitem)

  /** See [[q133]]; `lineitem` needs only (l_orderkey, l_partkey). */
  def basketLift(
      lineitem: DataFrame, minSupport: Long = 2, topK: Int = 30)
      : DataFrame = {
    // NEGATIVE RESULT (round 16): the basket frame feeds four
    // consumers (n, ci, both self-join sides) and the scan+distinct
    // runs 3× (probe: 1.8M input records for a 600k-row lineitem) —
    // but an eager localCheckpoint here measured WORSE (1.59→1.69 s,
    // input bytes 0.1→201 MB): the duplicated scans are column-pruned
    // two-int parquet reads that cost almost nothing, while the
    // materialized row-format frame is ~2000× fatter than the
    // columnar bytes it replaces. The q123/q141 checkpoint discipline
    // pays only when the recomputed subtree is expensive relative to
    // its row footprint; a bare dimension-typed distinct is not.
    val items = lineitem
      .select(col("l_orderkey").as("o"), col("l_partkey").as("i"))
      .distinct()
    val n = items.agg(countDistinct("o").as("n"))
    val ci = items.groupBy("i").agg(count(lit(1)).as("c"))
    val pairs = items.as("a")
      .join(items.as("b"),
        col("a.o") === col("b.o") && col("a.i") < col("b.i"))
      .groupBy(col("a.i").as("part_i"), col("b.i").as("part_j"))
      .agg(count(lit(1)).as("c_ij"))
      .filter(col("c_ij") >= minSupport)
    pairs
      .join(ci.select(col("i").as("part_i"), col("c").as("ca")), "part_i")
      .join(ci.select(col("i").as("part_j"), col("c").as("cb")), "part_j")
      .crossJoin(broadcast(n))
      .select(col("part_i"), col("part_j"), col("c_ij"),
        round(col("c_ij").cast("double") * col("n") /
          (col("ca") * col("cb")), 6).as("lift"))
      .orderBy(col("lift").desc, col("part_i"), col("part_j"))
      .limit(topK)
  }

  /** Snapshot differ — the CDC-extract twin of [[scd1Merge]]: compare
    * two keyed snapshots with identical schemas and emit one row per
    * CHANGED key, classified `insert` (key only in `newDf`), `delete`
    * (key only in `oldDf`) or `update` (both sides present, any value
    * column differs under null-safe comparison). Unchanged keys are
    * dropped. Old/new value columns come back as two structs so
    * callers can project whichever fields they audit.
    *
    * Scale: ONE full-outer shuffle equi-join on the key — the minimal
    * plan for a diff (both sides must meet somewhere); on bucketed
    * snapshot layouts (`sources.Writers`) the exchange disappears
    * entirely. Presence is tracked with literal marker columns, so
    * all-null value rows still classify correctly. */
  def snapshotDiff(
      oldDf: DataFrame, newDf: DataFrame, keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "snapshotDiff needs at least one key column")
    require(oldDf.columns.toSeq == newDf.columns.toSeq,
      s"snapshot schemas differ: ${oldDf.columns.mkString(",")} vs " +
        newDf.columns.mkString(","))
    val vals = oldDf.columns.filterNot(keys.contains).toSeq
    def side(df: DataFrame, p: String, v: String) = df.select(
      keys.map(col) ++ Seq(lit(1).as(p),
        struct(vals.map(col): _*).as(v)): _*)
    side(oldDf, "__po", "old_val")
      .join(side(newDf, "__pn", "new_val"), keys, "full_outer")
      .withColumn("change",
        when(col("__po").isNull, lit("insert"))
          .when(col("__pn").isNull, lit("delete"))
          .when(!(col("old_val") <=> col("new_val")), lit("update")))
      .filter(col("change").isNotNull)
      .select(keys.map(col) ++
        Seq(col("change"), col("old_val"), col("new_val")): _*)
  }

  /** q143 — oracle gate for [[snapshotDiff]]: the customer table as
    * the old snapshot and a deterministically evolved copy as the new
    * one (every 23rd key deleted, every 7th balance bumped, every 31st
    * key re-inserted under an offset key), so all three change classes
    * appear and the expected set is pure modular arithmetic on both
    * engines. */
  def q143(t: Tables): DataFrame = {
    val old = t.customer.select(col("c_custkey").as("k"),
      col("c_mktsegment").as("seg"),
      round(col("c_acctbal") * 100).cast("long").as("bal"))
    // re-inserted keys offset by max(k)+1: max+1+k > max for every
    // real k >= 0, so offset keys can NEVER collide with live keys at
    // any scale factor (a fixed constant like 1e6 would collide once
    // the key domain outgrows it, ~sf7 for customer; a bare max(k)
    // offset would collide at k=0)
    val maxK = old.agg((max("k") + 1).as("__maxk"))
    val evolved = old.filter(col("k") % 23 =!= 0)
      .withColumn("bal",
        when(col("k") % 7 === 0, col("bal") + 100).otherwise(col("bal")))
      .unionByName(old.filter(col("k") % 31 === 0)
        .crossJoin(broadcast(maxK))
        .select((col("k") + col("__maxk")).as("k"), col("seg"),
          lit(0L).as("bal")))
    snapshotDiff(old, evolved, Seq("k"))
      .select(col("k"), col("change"),
        col("old_val.bal").as("old_bal"), col("new_val.bal").as("new_bal"))
      .orderBy("k")
  }

  /** q144 — population stability index drift monitor: for every
    * non-reference source, PSI = Σ_bins (pₐ − pₑ)·ln(pₐ/pₑ) of its
    * document-length distribution against the `src0` reference — the
    * standard production gate for "has my ingest distribution
    * shifted?" (PSI < 0.1 stable, > 0.25 action). Bins are FIXED
    * 100-char buckets capped at 10 (deterministic, scale-independent —
    * quantile bins would re-bin as data grows); both distributions are
    * add-one smoothed over the 10-bin space so empty bins stay finite.
    *
    * Scale: two linear binning passes collapse to ≤ 10·|sources| count
    * rows; the dense (source × bin) frame, the 1-row reference total
    * and per-source totals are all broadcast-sized; the psi sum is a
    * 10-row-per-source hash aggregate. Integer counts through one
    * identical expression tree, rounded to 4 — engine-exact. */
  def q144(t: Tables): DataFrame = psiDrift(t.documents)

  def psiDrift(
      documents: DataFrame, refSource: String = "src0"): DataFrame = {
    val binned = documents.select(col("source"),
      least(floor(col("n_chars") / 100), lit(9)).cast("long").as("bin"))
    val exp = binned.filter(col("source") === refSource)
      .groupBy("bin").agg(count(lit(1)).as("ce"))
    val act = binned.filter(col("source") =!= refSource)
      .groupBy("source", "bin").agg(count(lit(1)).as("ca"))
    val bins = documents.sparkSession.range(10)
      .select(col("id").as("bin"))
    val dense = act.select("source").distinct().crossJoin(broadcast(bins))
      .join(act, Seq("source", "bin"), "left").na.fill(0L, Seq("ca"))
      .join(broadcast(exp), Seq("bin"), "left").na.fill(0L, Seq("ce"))
    // 1 row always present, but sum(ce) is NULL when the reference
    // stratum has NO rows — every psi would then come out NULL
    // silently. A misconfigured refSource must fail loudly instead
    // (the repo's raise_error contract pattern).
    val ne = exp.agg(coalesce(sum("ce"), lit(0L)).as("ne"))
      .select(when(col("ne") === 0, raise_error(lit(
          s"psiDrift: reference source '$refSource' has no rows")))
        .otherwise(col("ne")).as("ne"))
    val na = act.groupBy("source").agg(sum("ca").as("na"))
    val pa = (col("ca") + 1).cast("double") / (col("na") + 10)
    val pe = (col("ce") + 1).cast("double") / (col("ne") + 10)
    dense.join(broadcast(na), "source").crossJoin(broadcast(ne))
      .select(col("source"), col("na"),
        ((pa - pe) * log(pa / pe)).as("term"))
      .groupBy("source")
      .agg(max("na").as("n_docs"), round(sum("term"), 4).as("psi"))
      .orderBy("source")
  }

  /** q173 — CUSUM changepoint detection on each event type's daily
    * volume: the classical mean-shift statistic S_d = Σ_{i≤d}(c_i −
    * mean), maximized over days — the MONITORING question ("WHEN did
    * the level shift") next to q144's PSI ("DID the distribution
    * drift") and q62/q99's pointwise outliers ("WHICH points are
    * odd"). Integer-exact formulation: scaling by n turns S_d into
    * T_d = n·cum_d − d·total — pure BIGINT arithmetic, no division
    * anywhere, so the argmax day and the statistic hash bit-for-bit
    * (ties → earliest day via struct ordering). Shape: one hash-agg
    * to |types|·|days| rows, two windows partitioned by type, one
    * final hash-agg — nothing unpartitioned, nothing bigger than the
    * daily-counts frame ever shuffles. */
  def q173(t: Tables): DataFrame = cusumChangepoint(t.events)

  /** q174 — Theil–Sen robust trend per event type: the median of all
    * pairwise slopes of the daily-volume series (+ the median level)
    * — the outlier-resistant counterpart to q51's OLS regression, the
    * same robust-vs-moment relationship q99's MAD has to q62's
    * z-scores (one anomalous day drags an OLS slope; it moves the
    * pairwise-slope median not at all, breakdown point 29%). The
    * quadratic pair join runs over the DAILY AGGREGATE (|types|·|days|
    * rows — at 100 TB still tiny; the raw events collapse first), and
    * the median rides the proven two-pass [[quantileCont]], so the
    * whole statistic is engine-exact under 4-decimal rounding. */
  def q174(t: Tables): DataFrame = theilSen(t.events)

  /** q176 — Mann–Kendall trend test per event type: S = Σ_{i<j}
    * sign(c_j − c_i) over the daily-volume series and Kendall's
    * τ = S / C(n,2) — the NONPARAMETRIC trend TEST next to q174's
    * robust trend ESTIMATE (the standard pairing in environmental /
    * monitoring statistics: τ says whether a monotone trend exists,
    * Theil–Sen says how steep). S is a pure integer sum of signs over
    * the same daily-aggregate pair frame q174 uses (constant in event
    * volume), so S and n_pairs hash exactly and τ is one rounded
    * division. */
  def q176(t: Tables): DataFrame = mannKendall(t.events)

  /** q176 core over any (event_type, ts) frame — see [[q176]]. */
  def mannKendall(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
    val idx = daily.withColumn("d",
      row_number().over(
        Window.partitionBy("event_type").orderBy("day")).cast("long"))
    val aSide = idx.select(col("event_type"),
      col("d").as("da"), col("c").as("ca"))
    val bSide = idx.select(col("event_type").as("et_b"),
      col("d").as("db"), col("c").as("cb"))
    val pairs = aSide
      .join(bSide,
        col("event_type") === col("et_b") && col("da") < col("db"))
      .select(col("event_type"),
        signum((col("cb") - col("ca")).cast("double")).cast("long")
          .as("s"))
    pairs.groupBy("event_type")
      .agg(count(lit(1)).as("n_pairs"), sum("s").as("s_stat"))
      .select(col("event_type"), col("n_pairs"), col("s_stat"),
        (round(col("s_stat").cast("double") / col("n_pairs"), 4)
          + lit(0.0)).as("tau"))
      .orderBy("event_type")
  }

  /** q174 core over any (event_type, ts) frame — see [[q174]]. */
  def theilSen(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
    val idx = daily.withColumn("d",
      row_number().over(
        Window.partitionBy("event_type").orderBy("day")).cast("long"))
    // explicit renames (not .as aliases — self-joins of one window
    // lineage can mis-resolve qualified columns), and the division
    // guarded by when(): under ANSI mode codegen can evaluate the
    // projection speculatively before the non-equi join condition
    // prunes the da == db rows, which raises DIVIDE_BY_ZERO on rows
    // that never reach the output — when() keeps the divide lazy
    val aSide = idx.select(col("event_type"),
      col("d").as("da"), col("c").as("ca"))
    val bSide = idx.select(col("event_type").as("et_b"),
      col("d").as("db"), col("c").as("cb"))
    val pairs = aSide
      .join(bSide,
        col("event_type") === col("et_b") && col("da") < col("db"))
      .select(col("event_type"),
        when(col("db") > col("da"),
          (col("cb") - col("ca")).cast("double")
            / (col("db") - col("da"))).as("slope"))
    val slopeMed = quantileCont(pairs, "event_type", "slope",
      Seq("slope_med" -> 0.5))
    val levelMed = quantileCont(daily, "event_type", "c",
      Seq("level_med" -> 0.5))
    val nDays = daily.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"))
    nDays
      .join(slopeMed, "event_type")
      .join(levelMed, "event_type")
      .select(col("event_type"), col("n_days"),
        round(col("slope_med"), 4).as("slope_med"),
        round(col("level_med"), 4).as("level_med"))
      .orderBy("event_type")
  }

  /** q173 core over any (event_type, ts) frame — see [[q173]]. */
  def cusumChangepoint(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
    val byDay = Window.partitionBy("event_type").orderBy("day")
    val whole = Window.partitionBy("event_type")
    val scored = daily
      .withColumn("d", row_number().over(byDay).cast("long"))
      .withColumn("cum", sum("c").over(
        byDay.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", count(lit(1)).over(whole))
      .withColumn("total", sum("c").over(whole))
      .withColumn("t_stat", col("n") * col("cum") - col("d") * col("total"))
    scored
      .groupBy("event_type")
      .agg(max("n").as("n_days"), max("total").as("total_events"),
        max(struct(abs(col("t_stat")).as("a"), (-col("d")).as("nd"),
          col("day").as("day"), col("t_stat").as("t")))
          .as("best"))
      .select(col("event_type"), col("n_days"), col("total_events"),
        col("best.day").as("cp_day"),
        col("best.t").as("cusum_stat"),
        col("best.a").as("cusum_abs"))
      .orderBy("event_type")
  }

  /** q145 — frequent event sequences (PrefixSpan-lite): contiguous
    * event-type trigrams per user timeline, supported by the number of
    * DISTINCT users exhibiting them — the order-2 sequential extension
    * of q73's Markov bigrams, and the "what journeys are common"
    * primitive of product analytics. Top-k by (support, occurrences)
    * with a full lexicographic tiebreak.
    *
    * Scale: the trigram window partitions by user (per-key state, no
    * global sort — the q73 posture); the aggregate is bounded by
    * |event_type|³ keys; selection is TakeOrderedAndProject. Linear in
    * events. */
  def q145(t: Tables, minSupport: Long = 5, topK: Int = 20): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t.events.select(col("user_id"),
        col("event_type").as("e1"),
        lead("event_type", 1).over(w).as("e2"),
        lead("event_type", 2).over(w).as("e3"))
      .filter(col("e3").isNotNull)
      .groupBy("e1", "e2", "e3")
      .agg(countDistinct("user_id").as("users"),
        count(lit(1)).as("occurrences"))
      .filter(col("users") >= minSupport)
      .orderBy(col("users").desc, col("occurrences").desc,
        col("e1"), col("e2"), col("e3"))
      .limit(topK)
  }

  /** q178 — exact two-sample Kolmogorov–Smirnov drift test per event
    * type: split the date range in half (integer day arithmetic —
    * deterministic on both engines) and compute D = max_x |F₁(x) −
    * F₂(x)| between the two periods' value distributions — the
    * distribution-drift alarm that completes the monitoring suite
    * (q173 CUSUM = mean shift in counts, q174/q176 = trend, q144 PSI
    * = binned divergence; KS is the BINNING-FREE location test).
    *
    * Exactness discipline: D's argmax is found on the INTEGER
    * cross-product form |cum₁·n₂ − cum₂·n₁| (no division until the
    * one final rounded ratio), so the statistic hashes bit-for-bit.
    *
    * Shape: one (event_type, value) hash-agg with pivoted period
    * counts, then the per-type cumulative sums via
    * [[GlobalRank.cumSumBy]] — event_type has cardinality ~5, so a
    * plain `Window.partitionBy(event_type)` would sort ~n/5 distinct
    * values in ONE task once the corpus grows (the low-cardinality-
    * partition hazard PlanAudit's fourth class now catches; the
    * original single-level form survives as
    * [[ksDriftSingleLevel]], the audit's planted positive). cumSumBy
    * buckets each type's value range 256 ways, windows per (type,
    * bucket), and broadcasts the per-type bucket offsets — zero hot
    * tasks at any corpus size. Two tiny broadcast joins finish. The
    * [[graft.operators.Sketches.q179]] twin reads the same statistic
    * off the KLL sketch table without touching events at all.
    *
    * Overflow: |cum·n| products are computed in decimal(38,0) — Long
    * arithmetic would overflow (ANSI raise, or a silent wrap with
    * ANSI off) once a type exceeds ~3e9 events per period, exactly
    * where the oracle's DuckDB promotes to HUGEINT (round-9 advisor).
    * The final BIGINT cast of the max still bounds the REPRESENTABLE
    * output, matching the oracle's own CAST(... AS BIGINT). */
  def ksDrift(events: DataFrame): DataFrame =
    ksDriftFinish(ksDriftCounts(events), twoLevel = true)

  /** The original q178 plan: per-type cumulative window straight over
    * the distinct-value frame. CORRECT at any scale that fits one
    * task per type, but the partition key has ~5 values while the
    * frame grows with the corpus — kept (unreferenced by queries) as
    * the planted positive for
    * [[graft.plans.PlanAudit.lowCardPartitionWindowHazards]]. */
  private[graft] def ksDriftSingleLevel(events: DataFrame): DataFrame =
    ksDriftFinish(ksDriftCounts(events), twoLevel = false)

  /** The (event_type, value) period-count frame shared by both forms. */
  private def ksDriftCounts(events: DataFrame): DataFrame = {
    val e = events.filter(col("value").isNotNull)
      .select(col("event_type"), to_date(col("ts")).as("day"),
        col("value"))
    val bounds = e.agg(min("day").as("d0"), max("day").as("d1"))
    e.crossJoin(broadcast(bounds))
      .withColumn("period",
        when(datediff(col("day"), col("d0")) * 2 <=
          datediff(col("d1"), col("d0")), 1).otherwise(2))
      .groupBy("event_type", "value")
      .agg(sum(when(col("period") === 1, 1L).otherwise(0L)).as("c1"),
        sum(when(col("period") === 2, 1L).otherwise(0L)).as("c2"))
  }

  private def ksDriftFinish(g: DataFrame, twoLevel: Boolean): DataFrame = {
    val cum =
      if (twoLevel)
        GlobalRank.cumSumBy(g, Seq("event_type"),
          col("value"), col("value"),
          Seq((col("c1"), "cum1"), (col("c2"), "cum2")))
      else {
        val w = Window.partitionBy("event_type").orderBy("value")
        g.withColumn("cum1", sum("c1").over(w))
          .withColumn("cum2", sum("c2").over(w))
      }
    val tot = g.groupBy("event_type")
      .agg(sum("c1").as("n1"), sum("c2").as("n2"))
    val dec = (c: String) => col(c).cast("decimal(38,0)")
    cum.join(broadcast(tot), "event_type")
      .withColumn("dnum",
        abs(dec("cum1") * dec("n2") - dec("cum2") * dec("n1")))
      .groupBy("event_type", "n1", "n2")
      .agg(max("dnum").as("ks_dec"))
      .select(col("event_type"), col("n1"), col("n2"),
        col("ks_dec").cast("long").as("ks_num"),
        when(col("n1") === 0L || col("n2") === 0L,
          lit(null).cast("double"))
          .otherwise(round(col("ks_dec").cast("double") /
            (dec("n1") * dec("n2")).cast("double"), 6)).as("ks"))
      .orderBy("event_type")
  }

  def q178(t: Tables): DataFrame = ksDrift(t.events)

  /** q232 — Markov removal-effect attribution (Anderl et al.): credit
    * each channel by how much the corpus-wide conversion probability
    * DROPS when the channel is removed from the journey graph — the
    * principled multi-touch answer to q97's last-touch heuristic
    * (last-touch over-credits the final step; removal effect measures
    * each channel's causal necessity under the first-order Markov
    * model q73 estimates).
    *
    * Journeys: per user, events ordered by (ts, event_id) up to the
    * FIRST purchase (mapped to the absorbing CONV state); users who
    * never convert end in the absorbing NULL state. Transition counts
    * are exact integers; probabilities are scaled-integer
    * `p6 = (n·10⁶) div total(src)` and the absorption probability of
    * CONV from START runs 25 synchronous iterations of
    * `v(s) ← (Σ_t p6(s,t)·v(t)) div 10⁶` — ALL-INTEGER arithmetic
    * (the q131 integer-PageRank discipline), so the gate is exact,
    * not a float-tolerance compare. Removing channel c drops every
    * transition into or out of c (mass through c fails — the removal
    * semantics); subsetted p6 ⊆ full p6 keeps `effect6 ≥ 0` by
    * monotone induction.
    *
    * Scale: journey extraction and transition counting are one
    * window pass + one hash-agg (corpus-linear, user-partitioned);
    * the chain itself is the |event_types|²-BOUNDED transition
    * matrix — a bounded driver read by design (the A3/k-centroids
    * class: |states| ≤ 7 here and grows with the event-type enum,
    * never the corpus), iterated in exact Long arithmetic on the
    * driver for 1+|channels| scenarios. */
  def q232(t: Tables): DataFrame = markovAttribution(t.events)

  /** The q232 body over any (user_id, ts, event_id, event_type)
    * frame — split out so specs can feed crafted journeys. */
  def markovAttribution(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val staged = events
      .withColumn("state",
        when(col("event_type") === "purchase", lit("CONV"))
          .otherwise(col("event_type")))
      .withColumn("rn", row_number().over(w))
    val firstConv = staged.filter(col("state") === "CONV")
      .groupBy("user_id").agg(min("rn").as("prn"))
    val kept = staged.join(firstConv, Seq("user_id"), "left")
      .filter(col("prn").isNull || col("rn") <= col("prn"))
    val chain = kept
      .withColumn("src",
        coalesce(lag("state", 1).over(w), lit("START")))
      .select(col("src"), col("state").as("dst"))
    val lastR = kept.filter(col("prn").isNull)
      .groupBy("user_id").agg(max("rn").as("lrn"))
    val terms = kept.join(lastR, "user_id")
      .filter(col("rn") === col("lrn"))
      .select(col("state").as("src"), lit("NULL").as("dst"))
    // |event_types|²-bounded matrix: the documented driver read
    val cnt = chain.unionByName(terms)
      .groupBy("src", "dst").agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val totals = cnt.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val p6Full = cnt.map { case ((s, d), n) =>
      (s, d) -> n * 1000000L / totals(s)
    }
    val channels = (cnt.keys.map(_._1) ++ cnt.keys.map(_._2)).toSeq
      .distinct.filterNot(Set("START", "CONV", "NULL")).sorted
    val transient = "START" +: channels
    def absorb(p6: Map[(String, String), Long]): Long = {
      var v = transient.map(_ -> 0L).toMap
      for (_ <- 1 to 25) {
        val prev = v
        def vOf(s: String): Long = s match {
          case "CONV" => 1000000L
          case "NULL" => 0L
          case x => prev.getOrElse(x, 0L)
        }
        v = transient.map { s =>
          s -> p6.iterator.collect {
            case ((`s`, d), p) => p * vOf(d)
          }.sum / 1000000L
        }.toMap
      }
      v("START")
    }
    val pFull = absorb(p6Full)
    val rows = channels.map { c =>
      val pRem = absorb(p6Full.filter { case ((s, d), _) =>
        s != c && d != c })
      val tin = cnt.collect { case ((_, `c`), n) => n }.sum
      (c, tin, pFull, pRem, pFull - pRem)
    }
    val effTot = rows.map(_._5).sum
    def share(e: Long): Option[Double] =
      if (effTot > 0)
        Some(BigDecimal(e.toDouble / effTot.toDouble)
          .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP)
          .toDouble)
      else None
    rows.map { case (c, tin, pf, pr, e) =>
      (c, tin, pf, pr, e, share(e)) }
      .toDF("channel", "transitions_in", "p_full6", "p_removed6",
        "effect6", "share")
      .orderBy("channel")
  }
}
