package graft

import graft.plans.PlanAudit
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Plan-audit gate (SURVEY §4.3), wired into `sbt test` so a new query
  * cannot land with a single-task scale hazard unnoticed. AQE is
  * disabled for the audit so the STATIC physical plan is complete and
  * no query needs executing — auditing all ~155 declared queries stays
  * cheap.
  */
class PlanAuditSpec extends SparkSpec {
  import spark.implicits._

  test("negative: an unpartitioned window is caught") {
    val df = tables.events
      .withColumn("rn", row_number().over(Window.orderBy("ts")))
    val hz = PlanAudit.singleTaskHazards(df)
    assert(hz.exists(_.kind == "unpartitioned-window"), hz.toString)
    intercept[IllegalStateException](PlanAudit.assertScalable(df))
  }

  test("negative: an explicit single-partition shuffle is caught") {
    val df = tables.events.repartition(1).select(sum("value"))
    val hz = PlanAudit.singleTaskHazards(df)
    assert(hz.exists(_.kind == "single-partition-shuffle"), hz.toString)
  }

  test("negative: a shuffled cartesian of two unbounded sides is " +
    "caught; a limit-bounded side is exempt") {
    val spark2 = spark
    spark2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = tables.events.select(col("user_id"))
        .crossJoin(tables.documents.select(col("doc_id")))
      val hz = PlanAudit.singleTaskHazards(df)
      assert(hz.exists(_.kind == "cartesian-product"), hz.toString)
      val bounded = tables.events.select(col("user_id"))
        .crossJoin(tables.documents.select(col("doc_id")).limit(3))
      assert(!PlanAudit.singleTaskHazards(bounded)
        .exists(_.kind == "cartesian-product"))
    } finally spark2.conf
      .set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("a keyed window + scalar agg plan is hazard-free (no false hit " +
    "on the benign ENSURE_REQUIREMENTS final exchange)") {
    val df = tables.events
      .withColumn("rn",
        row_number().over(Window.partitionBy("user_id").orderBy("ts")))
      .select(sum("rn"))
    assert(PlanAudit.singleTaskHazards(df).isEmpty)
  }

  test("a rank window over a top-k frame is exempt (bounded by limit)") {
    val df = tables.documents.orderBy(col("n_chars").desc).limit(20)
      .withColumn("rk", row_number().over(Window.orderBy(col("n_chars").desc)))
    assert(PlanAudit.singleTaskHazards(df).isEmpty,
      df.queryExecution.executedPlan.toString)
  }

  test("positive: a broadcast() hint on a raw corpus-table scan is " +
    "flagged as unbounded") {
    val df = tables.events.join(broadcast(tables.documents),
      col("user_id") === col("doc_id"))
    val hz = PlanAudit.unboundedBroadcastHints(df)
    assert(hz.exists(_.kind.startsWith("unbounded-broadcast")),
      hz.toString)
    intercept[IllegalStateException](
      PlanAudit.assertBoundedBroadcasts(df))
    // ... and a filter does not make it bounded (row count still
    // tracks the corpus)
    val filtered = tables.events.join(
      broadcast(tables.documents.filter(col("n_chars") > 10)),
      col("user_id") === col("doc_id"))
    assert(PlanAudit.unboundedBroadcastHints(filtered).nonEmpty)
  }

  test("negative: aggregate (strata), limit (top-k), and dimension " +
    "broadcasts are bounded by construction") {
    val strata = tables.documents.groupBy("lang")
      .agg(count(lit(1)).as("n"))
    val byAgg = tables.documents.join(broadcast(strata), "lang")
    assert(PlanAudit.unboundedBroadcastHints(byAgg).isEmpty,
      byAgg.queryExecution.optimizedPlan.toString)
    val topk = tables.documents
      .orderBy(col("n_chars").desc).limit(10).select("doc_id")
    val byLimit = tables.documents.join(broadcast(topk), "doc_id")
    assert(PlanAudit.unboundedBroadcastHints(byLimit).isEmpty,
      byLimit.queryExecution.optimizedPlan.toString)
    val byDim = tables.supplier.join(broadcast(tables.nation),
      col("s_nationkey") === col("n_nationkey"))
    assert(PlanAudit.unboundedBroadcastHints(byDim).isEmpty,
      byDim.queryExecution.optimizedPlan.toString)
  }

  test("positive: the planted low-cardinality-partition window " +
    "(q178's original single-level plan) is caught") {
    val df = graft.operators.Relational.ksDriftSingleLevel(tables.events)
    val hz = PlanAudit.lowCardPartitionWindowHazards(df)
    assert(hz.exists(_.kind == "low-card-partition-window"), hz.toString)
  }

  test("negative: the bucketed q178 rewrite and the bounded-frame " +
    "per-type windows (q173 |days|, q57 histogram buckets) are clean") {
    for (name <- Seq("q178_ks_drift", "q173_cusum_changepoint",
        "q57_quantile_disc_mode")) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      assert(PlanAudit.lowCardPartitionWindowHazards(df).isEmpty,
        name + ": " +
          PlanAudit.lowCardPartitionWindowHazards(df).toString)
    }
  }

  test("negative (broadcast audit, round-10 tightening): a broadcast " +
    "over a corpus-keyed aggregate is flagged; a strata aggregate is not") {
    val perDoc = tables.documents.groupBy("doc_id")
      .agg(count(lit(1)).as("n"))
    val df = tables.documents.join(broadcast(perDoc), "doc_id")
    assert(PlanAudit.unboundedBroadcastHints(df)
      .exists(_.kind.startsWith("unbounded-broadcast")),
      df.queryExecution.optimizedPlan.toString)
  }

  // Audited exemptions, each justified by a RUNTIME bound the static
  // plan cannot show. Adding a query here requires naming the guard.
  private val allowlisted = Map(
    // rangeCountByDay: global rolling window over the #days-sized
    // histogram, guarded by `require(histRows <= maxHistRows)` at
    // RangeJoin.rangeCountByDay — the operator REFUSES unbounded keys.
    "q41_range_join" -> "histogram window, require(histRows<=100k) guard")

  // Broadcast-audit exemptions: frames with a RUNTIME bound the
  // static plan cannot show. Naming the bound is the entry fee; the
  // audit's two TRUE positives (q108's fact-derived ord frame, q91's
  // orders key side) were FIXED by dropping the hints, not listed.
  private val broadcastAllowlisted = Map(
    "q149_mixture_sample" -> ("quota frame: |strata| rows from " +
      "temperatureMixture, lineage cut by the documented " +
      "localCheckpoint in mixtureSample"),
    "q92_pareto" -> ("prior-decile frame: 10 rows by construction " +
      "(ntile deciles), lineage cut by the documented checkpoint"),
    "q123_customer_360" -> ("median frames: 1 row by construction — " +
      "globalQuantileDisc filters on a unique global rank, which " +
      "the logical plan cannot prove"),
    "q95_decontamination" -> ("benchmark shingle index: the doc_id%97 " +
      "slice is the fixture proxy for a FIXED eval set (MBs against " +
      "100 TB); documented in decontaminationPairs"),
    "q205_contamination_spans" -> ("benchmark excerpt gram index: the " +
      "same doc_id%97 eval-set proxy bound as q95; documented in " +
      "contaminationSpans"),
    "q26_cosine_topk" -> ("query batch: corpus-sampled in the " +
      "fixture; a serving query batch is bounded by the caller"),
    "q230_matryoshka_recall" -> ("audit query sample, both arms " +
      "(same serving-batch bound as q26)"),
    "q77_sql_vector" -> "query batch (same serving-batch bound as q26)",
    "q162_sq8_ann" -> "query batch (same serving-batch bound as q26)",
    "q171_pca_sq8_ann" -> "query batch (same serving-batch bound as q26)",
    "q83_ivf_topk" -> ("query batch × its nprobe probed cells (same " +
      "serving-batch bound as q26)"),
    "q166_ivf_sq8_ann" -> ("query batch × its nprobe probed cells (same " +
      "serving-batch bound as q26)"),
    "q180_index_ledger_ann" ->
      "query batch of quantized codes (same serving-batch bound as q26)",
    "q186_retrieval_eval" ->
      "eval query panel (same serving-batch bound as q26)",
    "q189_rrf_fusion" -> ("query batch, once per fused ranker " +
      "(same serving-batch bound as q26)"),
    "q190_hard_negatives" -> ("query panel + its |Q|-row best-positive " +
      "aggregate (same serving-batch bound as q26)"),
    "q185_epoch_mixture" -> ("quota frame: |strata| rows (the q149 " +
      "bound); the strata-rank join hides the Aggregate shape from " +
      "the static audit"),
    "q209_stratified_holdout" -> ("quota frame: |strata| rows (the " +
      "q185 class); the GlobalRank remainder-rank join hides the " +
      "Aggregate shape from the static audit"),
    "q224_curation_manifest" -> ("benchmark shingle index inside the " +
      "composed decontamination stage: the same doc_id%97 eval-set " +
      "proxy bound as q95; documented in decontaminationPairs"))

  // Low-card-window exemptions: SQL window-SURFACE parity demos
  // (rank/dense_rank/ntile/lag/lead, rows-frames) that deliberately
  // window raw events partitioned by event_type, bounded at runtime
  // by a literal user-key filter (user_id < k). Their scale path is
  // GlobalRank.cumSumBy — q178 is the worked example.
  private val lowCardWindowAllowlisted = Map(
    "q07_window_rank" -> "literal user_id<50 filter; reference W1 demo",
    "q45_window_suite" -> "literal user_id<20 filter; surface demo",
    "q48_range_frame" -> "literal user-key filter; surface demo",
    "q66_rows_frame" -> "literal user_id<10 filter; surface demo")

  // Cartesian exemptions: MLlib's recommendForAllUsers crosses the
  // user/item FACTOR matrices block-by-block (its own blocked top-k
  // scoring with bounded per-block heaps) — the CartesianProductExec
  // multiplies factor BLOCKS, not corpus rows, and is the library's
  // intended algorithm.
  private val cartesianAllowlisted = Map(
    "ml_als_recs" -> "MLlib blocked factor-matrix cross (recommendForAllUsers)")

  test("every declared query plans without single-task scale hazards " +
    "or unbounded broadcast hints") {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val bad = SparkEntry.queries.toSeq.sortBy(_._1)
        .filterNot { case (name, _) => allowlisted.contains(name) }
        .flatMap { case (name, fn) =>
          val df = fn(spark, sfDir)
          val hz0 = PlanAudit.singleTaskHazards(df)
          val hz = (if (cartesianAllowlisted.contains(name))
            hz0.filterNot(_.kind == "cartesian-product") else hz0) ++
            (if (lowCardWindowAllowlisted.contains(name)) Seq.empty
             else PlanAudit.lowCardPartitionWindowHazards(df)) ++
            (if (broadcastAllowlisted.contains(name)) Seq.empty
             else PlanAudit.unboundedBroadcastHints(df))
          if (hz.isEmpty) None
          else Some(s"$name: ${hz.map(f => s"[${f.kind}] ${f.node}").mkString("; ")}")
        }
      assert(bad.isEmpty, "scale hazards:\n" + bad.mkString("\n"))
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }
}
