package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed total-order primitives: global row_number / running sum
  * / ntile WITHOUT an unpartitioned window (SURVEY §4.3 "no
  * unpartitioned window" discipline).
  *
  * `Window.orderBy(...)` with no partition key plans a single-task
  * WindowExec — one executor sorts every row. Fine on a 10⁴-row
  * aggregate, fatal on 10⁹ users at 100 TB. This helper lifts the
  * two-level pattern of q105 (TextAnalysis.scala, per bucket) to a
  * GLOBAL order:
  *
  *  1. one tiny aggregate computes global [min,max] fences of the sort
  *     key and is broadcast onto the frame;
  *  2. `width_bucket` assigns each row a range bucket — the double
  *     cast is order-preserving, and equal keys always share a bucket,
  *     so the global (key, tie) order is bucket order + in-bucket
  *     order;
  *  3. a windowed running sum within each bucket (parallelism =
  *     `buckets`, each task sorts ~n/buckets rows);
  *  4. bucket offsets from the per-bucket totals histogram — at most
  *     `buckets`+2 rows — via a broadcast nested-loop self-join
  *     (`prev.bucket < bucket`, O(buckets²) on tiny data), NOT a
  *     window, so the physical plan contains zero unpartitioned
  *     WindowExec nodes (asserted in PlanPostureSpec);
  *  5. global value = bucket offset + in-bucket running value.
  *
  * Null and NaN keys are kept, in Spark's ascending order (nulls
  * first, NaN last) — they route to dedicated buckets rather than
  * falling out of `width_bucket`. (key, tie) must totally order the
  * frame for the result to be deterministic. Skewed keys degrade
  * gracefully: a
  * single hot value concentrates its bucket, but the bucket count
  * bounds the worst task at max(hot-key mass, n/buckets) — same
  * contract as any range-partitioned sort.
  */
object GlobalRank {

  /** `out` = Σ `value` over all rows at-or-before the current row in
    * global (`key` asc, `tie` asc) order. Descending orders: negate
    * the key. Appends `out` to `df`'s columns. */
  def cumSum(
      df: DataFrame,
      key: Column,
      tie: Column,
      value: Column,
      out: String,
      buckets: Int = 256): DataFrame = {
    val cols = df.columns.toIndexedSeq
    // The frame feeds three consumers (fences, per-bucket totals, the
    // ranked output). Eager localCheckpoint evaluates the upstream
    // ONCE — without it, chained rank calls re-derive their input
    // multiplicatively (q75's three ranks re-ran the event aggregate
    // ~3³ times, 0.6 s → 6.4 s at sf0.1). Same lineage-truncation
    // pattern as connectedComponentsStar; blocks are reclaimed by the
    // ContextCleaner, no CacheManager entry.
    val keyed = df.withColumn("__gr_k", key.cast("double"))
      .localCheckpoint(true)
    // fences over FINITE keys only: a NaN max would poison width_bucket
    // into null buckets for every row
    val finite = when(!isnan(col("__gr_k")), col("__gr_k"))
    val fences = keyed.agg(
      min(finite).as("__gr_min"), max(finite).as("__gr_max"))
    // null keys → bucket 0 (Spark's nulls-first asc order), NaN keys →
    // the top bucket (NaN sorts greatest) — NO silent row drops; a bare
    // width_bucket would return null for both and the bucket join would
    // eat those rows
    val bucketed = keyed
      .crossJoin(broadcast(fences))
      .withColumn("__gr_b",
        when(col("__gr_k").isNull, lit(0L))
          .when(isnan(col("__gr_k")), lit(buckets.toLong + 2L))
          .when(col("__gr_max") === col("__gr_min"), lit(1L))
          .otherwise(width_bucket(
            col("__gr_k"), col("__gr_min"), col("__gr_max"),
            lit(buckets))))
      .drop("__gr_min", "__gr_max")
    // bucket totals straight off the bucketed frame — they do not need
    // the running sum, so the window below is computed exactly once
    val hist = bucketed.groupBy("__gr_b")
      .agg(sum(value.cast("long")).as("__gr_tot"))
    val prev = hist.select(
      col("__gr_b").as("__gr_pb"), col("__gr_tot").as("__gr_pt"))
    val offsets = hist
      .join(broadcast(prev), col("__gr_pb") < col("__gr_b"), "left")
      .groupBy("__gr_b")
      .agg(coalesce(sum("__gr_pt"), lit(0L)).as("__gr_off"))
    val localW = Window.partitionBy("__gr_b").orderBy(key, tie)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bucketed
      .withColumn("__gr_loc", sum(value.cast("long")).over(localW))
      .join(broadcast(offsets), Seq("__gr_b"))
      .withColumn(out, col("__gr_off") + col("__gr_loc"))
      .select(cols.map(col) :+ col(out): _*)
  }

  /** Grouped twin of [[cumSum]]: for each group keyed by `part`,
    * `out_i` = Σ `value_i` over the group's rows at-or-before the
    * current row in (`key` asc, `tie` asc) order — the scale-safe
    * replacement for `Window.partitionBy(part).orderBy(key)` when
    * `part` is LOW-CARDINALITY (an enum/dimension column) while the
    * frame grows with the corpus. With ~5 partition values a plain
    * window sorts ~n/5 rows in ONE task; here each (group, bucket)
    * cell sorts ~n/(|groups|·buckets) rows and the per-group bucket
    * offsets ride a broadcast join of the |groups|·buckets-row
    * histogram. This is the hazard class
    * [[graft.plans.PlanAudit.lowCardPartitionWindowHazards]] audits —
    * q178's KS drift cumulative sums are the founding caller.
    *
    * Deltas from [[cumSum]]: fences are per-group min/max (a
    * |groups|-row broadcast), the in-bucket window partitions by
    * (group, bucket), and offsets accumulate only over earlier
    * buckets OF THE SAME GROUP. Several value columns share one
    * bucketing/window pass (q178 needs cum1 and cum2). Null/NaN key
    * routing and the min==max degenerate bucket follow cumSum; a NULL
    * `part` key is kept as its own group (all group joins are
    * null-safe `<=>`), matching the `Window.partitionBy` semantics
    * this replaces. */
  def cumSumBy(
      df: DataFrame,
      part: Seq[String],
      key: Column,
      tie: Column,
      values: Seq[(Column, String)],
      buckets: Int = 256): DataFrame = {
    require(part.nonEmpty, "cumSumBy: use cumSum for a global order")
    require(values.nonEmpty, "cumSumBy: at least one value column")
    val cols = df.columns.toIndexedSeq
    val keyed = df.withColumn("__gr_k", key.cast("double"))
      .localCheckpoint(true)
    val finite = when(!isnan(col("__gr_k")), col("__gr_k"))
    // Every group-key join below is NULL-SAFE (<=>): the window this
    // operator replaces keeps a NULL partition group, so plain
    // equi-joins would silently drop those rows — the exact "no
    // silent row drops" promise cumSum makes for the sort key,
    // extended to the partition key.
    val fences = keyed.groupBy(part.map(col): _*).agg(
      min(finite).as("__gr_min"), max(finite).as("__gr_max"))
    val fencesR = fences.select(
      part.map(c => col(c).as(s"__gr_f_$c")) ++
        Seq(col("__gr_min"), col("__gr_max")): _*)
    val fenceCond = part.map(c => col(c) <=> col(s"__gr_f_$c"))
      .reduce(_ && _)
    val bucketed = keyed
      .join(broadcast(fencesR), fenceCond)
      .drop(part.map(c => s"__gr_f_$c"): _*)
      .withColumn("__gr_b",
        when(col("__gr_k").isNull, lit(0L))
          .when(isnan(col("__gr_k")), lit(buckets.toLong + 2L))
          .when(col("__gr_max") === col("__gr_min"), lit(1L))
          .otherwise(width_bucket(
            col("__gr_k"), col("__gr_min"), col("__gr_max"),
            lit(buckets))))
      .drop("__gr_min", "__gr_max")
    val hist = bucketed.groupBy((part :+ "__gr_b").map(col): _*)
      .agg(sum(values.head._1.cast("long")).as("__gr_t0"),
        values.tail.zipWithIndex.map { case ((v, _), i) =>
          sum(v.cast("long")).as(s"__gr_t${i + 1}") }: _*)
    val prev = hist.select(
      part.map(c => col(c).as(s"__gr_p_$c")) ++
        (col("__gr_b").as("__gr_pb") +:
          values.indices.map(i => col(s"__gr_t$i").as(s"__gr_pt$i"))): _*)
    val sameGroup = part.map(c => col(s"__gr_p_$c") <=> col(c))
      .reduce(_ && _)
    val offsets = hist
      .join(broadcast(prev), sameGroup && col("__gr_pb") < col("__gr_b"),
        "left")
      .groupBy((part :+ "__gr_b").map(col): _*)
      .agg(coalesce(sum("__gr_pt0"), lit(0L)).as("__gr_off0"),
        values.indices.tail.map(i =>
          coalesce(sum(s"__gr_pt$i"), lit(0L)).as(s"__gr_off$i")): _*)
    val localW = Window
      .partitionBy((part :+ "__gr_b").map(col): _*)
      .orderBy(key, tie)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withLoc = values.zipWithIndex.foldLeft(bucketed) {
      case (acc, ((v, _), i)) =>
        acc.withColumn(s"__gr_loc$i", sum(v.cast("long")).over(localW))
    }
    val outCols = values.zipWithIndex.map { case ((_, o), i) =>
      (col(s"__gr_off$i") + col(s"__gr_loc$i")).as(o)
    }
    val offsetsR = offsets.select(
      part.map(c => col(c).as(s"__gr_o_$c")) ++
        (col("__gr_b").as("__gr_ob") +:
          values.indices.map(i => col(s"__gr_off$i"))): _*)
    val offCond = part.map(c => col(c) <=> col(s"__gr_o_$c"))
      .reduce(_ && _) && col("__gr_b") === col("__gr_ob")
    withLoc
      .join(broadcast(offsetsR), offCond)
      .select(cols.map(col) ++ outCols: _*)
  }

  /** `out` = 1-based global row number in (`key` asc, `tie` asc)
    * order — running count of 1s. */
  def rowNumber(
      df: DataFrame,
      key: Column,
      tie: Column,
      out: String,
      buckets: Int = 256): DataFrame =
    cumSum(df, key, tie, lit(1L), out, buckets)

  /** `out` = max of `value` over all rows whose key is STRICTLY
    * smaller than the current row's — null when no such row exists.
    * The strict-prefix-max primitive behind dominance analytics
    * (2-D skyline: a point is dominated iff some strictly-cheaper
    * point already reached its quality; see `Relational.q140`).
    *
    * Same two-level shape as [[cumSum]], with two deltas:
    *  - the in-bucket window uses a RANGE frame ending at −1 over the
    *    integral key, so equal keys never see each other (strictness);
    *  - the bucket offset is the max over strictly-earlier buckets —
    *    sound because equal keys always land in the same bucket, so
    *    "earlier bucket" implies "strictly smaller key".
    *
    * `key` must be integral (the −1 range bound is exact only on
    * integers) and non-null/non-NaN — violated rows raise (the
    * keyChecked/zValueChecked loud-contract pattern). */
  def prefixMax(
      df: DataFrame,
      key: Column,
      value: Column,
      out: String,
      buckets: Int = 256): DataFrame = {
    val cols = df.columns.toIndexedSeq
    val k = when(key.isNotNull, key.cast("long"))
      .otherwise(raise_error(lit("GlobalRank.prefixMax: null key")))
    val keyed = df.withColumn("__pm_k", k)
      .withColumn("__pm_v", value.cast("long"))
      .localCheckpoint(true)
    val fences = keyed.agg(
      min(col("__pm_k").cast("double")).as("__pm_min"),
      max(col("__pm_k").cast("double")).as("__pm_max"))
    val bucketed = keyed
      .crossJoin(broadcast(fences))
      .withColumn("__pm_b",
        when(col("__pm_max") === col("__pm_min"), lit(1L))
          .otherwise(width_bucket(
            col("__pm_k").cast("double"), col("__pm_min"), col("__pm_max"),
            lit(buckets))))
      .drop("__pm_min", "__pm_max")
    val hist = bucketed.groupBy("__pm_b")
      .agg(max(col("__pm_v")).as("__pm_bmax"))
    val prev = hist.select(
      col("__pm_b").as("__pm_pb"), col("__pm_bmax").as("__pm_pm"))
    val offsets = hist
      .join(broadcast(prev), col("__pm_pb") < col("__pm_b"), "left")
      .groupBy("__pm_b")
      .agg(max("__pm_pm").as("__pm_off"))
    val localW = Window.partitionBy("__pm_b").orderBy(col("__pm_k"))
      .rangeBetween(Window.unboundedPreceding, -1)
    bucketed
      .withColumn("__pm_loc", max(col("__pm_v")).over(localW))
      .join(broadcast(offsets), Seq("__pm_b"))
      // greatest() skips nulls: loc-null (first key in bucket) and
      // off-null (first bucket) degrade to the other side; both null
      // → null, the "no strictly-smaller row" contract
      .withColumn(out, greatest(col("__pm_loc"), col("__pm_off")))
      .select(cols.map(col) :+ col(out): _*)
  }

  /** SQL `ntile(k)` bucket code from a 1-based global row number `i`
    * and total row count `n` (exact long arithmetic; the first
    * n mod k buckets get ⌈n/k⌉ rows, the rest ⌊n/k⌋ — the ANSI
    * contract Spark and DuckDB share). Division is `floor` of an IEEE
    * quotient of values ≤ n ≤ 2⁵³, so every step is exact. */
  def ntileExpr(i: Column, n: Column, k: Int): Column = {
    val kL = lit(k.toLong)
    val base = floor(n / kL).cast("long")
    val big = n % kL
    val cut = big * (base + lit(1L))
    when(i <= cut,
      floor((i - lit(1L)) / (base + lit(1L))).cast("long") + lit(1L))
      .otherwise(big +
        floor((i - cut - lit(1L)) / base).cast("long") + lit(1L))
  }
}
