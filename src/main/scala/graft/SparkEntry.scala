package graft

import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the engine's declared operator inventory (one entry per
  * SURVEY §2 operator family); `oracleSql` carries the DuckDB-runnable
  * twin for the hash-compare correctness gate. Column names are aliased
  * identically on both sides (the driver sorts columns by name before
  * hashing).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q05(Tables(spark, "/root/testdata/sf0.001"))

  private def q(f: Tables => DataFrame): (SparkSession, String) => DataFrame =
    (spark, dir) => f(Tables(spark, dir))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_scan_filter" -> q(Relational.q01),
    "q02_agg" -> q(Relational.q02),
    "q03_groupby_having" -> q(Relational.q03),
    "q04_join" -> q(Relational.q04),
    "q05_multijoin" -> q(Relational.q05),
    "q06_outer_chain" -> q(Relational.q06),
    "q07_window_rank" -> q(Relational.q07),
    "q08_pivot" -> q(Relational.q08),
    "q09_distinct" -> q(Relational.q09),
    "q10_strings" -> q(Relational.q10),
    "q11_intersect" -> q(Relational.q11),
    "q11b_except" -> q(Relational.q11b),
    "q12_topk" -> q(Relational.q12),
    "q13_dates" -> q(Relational.q13),
    "q14_tumbling" -> q(Relational.q14),
    "q15_sessionize" -> q(Relational.q15),
    "q16_semi" -> q(Relational.q16),
    "q16b_anti" -> q(Relational.q16b),
    "q17_dedup_exact" -> q(t => Dedup.exactDupGroups(t.documents)),
    "q17b_dedup_prefix" -> q(t => Dedup.prefixDupGroups(t.documents)),
    "q19_ngram_jaccard" -> q(t => Dedup.ngramJaccardPairs(t.documents)),
    "q20_minhash_lsh" -> q(t => Dedup.minhashNearDups(t.documents)),
    "q21_simhash" -> q(t => Dedup.simhash(t.documents)),
    "q18_text_stats" -> q(t => TextAnalysis.statsByLang(t.documents)),
    "q22_token_counts" -> q(t => TextAnalysis.tokenCounts(t.documents)),
    "q23_quality" -> q(t => TextAnalysis.qualityScore(t.documents)),
    "q24_langid" -> q(t => TextAnalysis.langIdByMarkers(t.documents)),
    "q25_fingerprint" -> q(t => TextAnalysis.fingerprint(t.documents)),
    "q26_cosine_topk" -> q(t => Similarity.cosineTopK(t.embeddings)),
    "q33_corpus_filter" -> q(t => TextAnalysis.corpusFilter(t.documents)),
    "q34_top_tokens" -> q(t => TextAnalysis.topTokens(t.documents)),
    "q35_embed_near_dup" -> q(t =>
      Similarity.embeddingNearDupsPortable(t.embeddings)),
    // q219: q35's LSH cosine pairs restricted to cross-language pairs
    // (translation-dup detection; the lang side joins AFTER the bands)
    "q219_crosslingual_neardup" -> q { t =>
      import org.apache.spark.sql.functions.col
      Similarity.crossLingualNearDups(
        t.embeddings,
        t.documents.select(col("doc_id").as("vec_id"), col("lang")))
    },
    "q36_rollup" -> q(Relational.q36),
    "q37_distinct_agg" -> q(Relational.q37),
    "q38_json_extract" -> q(Relational.q38),
    "q39_cube" -> q(Relational.q39),
    "q40_asof_join" -> q(t => AsOf.q40(t.events)),
    "q41_range_join" -> q(RangeJoin.q41),
    "q42_near_dup_components" -> q(t => Dedup.nearDupComponents(t.documents)),
    "q43_containment" -> q(t => Dedup.ngramContainmentPairs(t.documents)),
    "q44_stats_agg" -> q(Relational.q44),
    "q45_window_suite" -> q(Relational.q45),
    "q46_hash_split" -> q(t => TextAnalysis.hashSplit(t.documents)),
    "q47_grouping_sets" -> q(Relational.q47),
    "q48_range_frame" -> q(Relational.q48),
    "q49_quantile_suite" -> q(Relational.q49),
    "q50_edit_distance" -> q(t => Dedup.editDistancePairs(
      t.part.withColumn("p_size_band",
        org.apache.spark.sql.functions.expr("p_size div 10")),
      "p_partkey", "p_name", Seq("p_brand", "p_type", "p_size_band"), 6)),
    "q51_regression" -> q(Relational.q51),
    "q52_funnel" -> q(Relational.q52),
    "q53_tfidf" -> q(t => TextAnalysis.tfidfTopTerms(t.documents)),
    "q54_topk_agg" -> q(Relational.q54),
    "q55_profile" -> q(Profile.q55),
    "q56_topk_per_key" -> q(graft.plans.TopKPerKey.q56),
    "q57_quantile_disc_mode" -> q(Relational.q57),
    "q58_listagg" -> q(Relational.q58),
    "q59_corr_matrix" -> q(Relational.q59),
    "q60_cohort_retention" -> q(Relational.q60),
    "q61_bigram_pmi" -> q(t => TextAnalysis.bigramPmi(t.documents)),
    "q62_zscore_anomaly" -> q(t => Relational.q62(t)),
    "q63_quality_gate" -> q(t => TextAnalysis.qualityGate(t.documents)),
    "q64_weighted_sample" -> q(t => TextAnalysis.weightedSample(t.documents)),
    "q65_unpivot" -> q(Relational.q65),
    "q66_rows_frame" -> q(Relational.q66),
    "q67_hof_suite" -> q(t => TextAnalysis.hofSuite(t.documents)),
    "q68_lm_score" -> q(t => TextAnalysis.lmScore(t.documents)),
    "q69_corpus_pipeline" -> q(t => TextAnalysis.corpusPipeline(t.documents)),
    "q70_iqr_outliers" -> q(Relational.q70),
    "q72_interarrival" -> q(Relational.q72),
    "q73_markov_transitions" -> q(Relational.q73),
    "q74_lexical_diversity" -> q(t => TextAnalysis.lexicalDiversity(t.documents)),
    "q75_rfm_segments" -> q(Relational.q75),
    "q76_sql_topk_tvf" -> q(graft.plans.TopKPerKey.q76),
    "q77_sql_vector" -> q(Similarity.sqlCosineTopK),
    // rows-only gate: DataSketches estimates have no DuckDB twin;
    // error bounds are asserted in SketchSpec instead
    "q78_hll_rollup" -> q(Sketches.q78),
    "q79_audience_overlap" -> q(Relational.q79),
    "q80_value_histogram" -> q(Relational.q80),
    "q81_streaks" -> q(Relational.q81),
    "q82_activity_profile" -> q(Relational.q82),
    // rows-only gate: the coarse quantizer is Lloyd's k-means on a
    // hash-chosen sample (Similarity.ivfCentroids) with no DuckDB twin;
    // recall vs brute force is asserted in SimilaritySpec
    "q83_ivf_topk" -> q(t => Similarity.ivfCosineTopK(t.embeddings)),
    "q84_ffill_resample" -> q(Relational.q84),
    "q85_canonical_docs" -> q(t => Dedup.canonicalDocs(t.documents)),
    "q86_chunking" -> q(t => TextAnalysis.chunkDocs(t.documents)),
    "q87_zipf" -> q(t => TextAnalysis.zipfFit(t.documents)),
    "q88_growth_accounting" -> q(Relational.q88),
    "q89_rolling_wau" -> q(Relational.q89),
    "q90_heavy_hitters" -> q(t => TextAnalysis.heavyHitters(t.documents)),
    "q91_referential_audit" -> q(Relational.q91),
    "q92_pareto" -> q(Relational.q92),
    "q93_ab_lift" -> q(Relational.q93),
    "q94_repetition" -> q(t => TextAnalysis.repetitionStats(t.documents)),
    "q95_decontamination" ->
      q(t => Dedup.decontaminationPairs(t.documents)),
    "q96_scd2" -> q(Relational.q96),
    "q97_attribution" -> q(Relational.q97),
    "q98_ewma" -> q(Relational.q98),
    "q99_mad" -> q(Relational.q99),
    "q100_semdedup" -> q(t => Similarity.semanticDedupPortable(t.embeddings)),
    "q101_event_paths" -> q(Relational.q101),
    "q102_winsorized" -> q(Relational.q102),
    "q103_boilerplate" -> q(t => TextAnalysis.boilerplate(t.documents)),
    "q104_hist_sketch_rollup" -> q(t => Sketches.q104(t)),
    // rows-only (q78 precedent): KLL compaction is randomized;
    // SketchSpec pins its error bounds
    "q167_kll_quantiles" -> q(t => Sketches.q167(t)),
    // q168/q175: theta sketches run in EXACT mode on the fixture
    // (θ=1 while |users| < nomEntries, estimates are exact integers),
    // so both carry full hash oracles — the q79/q88 bodies
    // re-expressed on the estimate columns. nomEntries=65536 here so
    // exact mode survives EVERY parity fixture (sf0.01 150 users,
    // sf0.1 1.5k, sf1 15k — the sf1 sweep would otherwise see
    // sampled non-integers); SketchSpec keeps the sampling-mode
    // error-bound gates for the >nomEntries regime at the default
    // 4096.
    "q168_theta_overlap" -> q(t => Sketches.q168(t, nomEntries = 65536)),
    "q175_theta_retention" ->
      q(t => Sketches.q175(t, nomEntries = 65536)),
    "q105_length_batching" ->
      q(t => TextAnalysis.lengthBatching(t.documents)),
    "q106_data_mixture" -> q(t => TextAnalysis.dataMixture(t.documents)),
    "q107_click_to_purchase" -> q(Relational.q107),
    "q136_purchase_outer_clicks" -> q(Relational.q136),
    "q137_scd1_merge" -> q(Relational.q137),
    "q138_decimal_agg" -> q(Relational.q138),
    "q139_bloom_prune" -> q(Relational.q139),
    "q140_skyline" -> q(Relational.q140),
    "q141_dsir_weights" -> q(t => TextAnalysis.dsirWeights(t.documents)),
    "q142_basket_triangles" -> q(t => Graph.basketTriangles(t.lineitem)),
    "q143_snapshot_diff" -> q(Relational.q143),
    "q144_psi_drift" -> q(Relational.q144),
    "q145_event_sequences" -> q(Relational.q145(_)),
    "q146_pit_features" -> q(t => AsOf.q146(t.events)),
    "q147_scd2_lookup" -> q(Relational.q147),
    "q148_dim_corr" -> q(t => Similarity.dimCorrelation(t.embeddings)),
    "q149_mixture_sample" ->
      q(t => TextAnalysis.mixtureSample(t.documents)),
    "q150_pii_scrub" -> q(t => Scrub.q150(t.documents)),
    "q151_url_canonical" -> q(t => Scrub.q151(t.documents)),
    "q152_paragraph_dedup" -> q(t => Dedup.paragraphDedup(t.documents)),
    "q152b_paragraph_newline" -> q(t => Dedup.q152b(t.documents)),
    "q154_normalize" -> q(t => Scrub.q154(t.documents)),
    "q155_blocklist" -> q(t => Scrub.q155(t.documents)),
    "q156_shuffle_shards" ->
      q(t => TextAnalysis.shuffleShards(t.documents)),
    "q157_line_scrub" -> q(t => Scrub.q157(t.documents)),
    "q158_html_strip" -> q(t => Scrub.q158(t.documents)),
    "q159_constraint_audit" -> q(Constraints.q159),
    "q160_zorder" -> q(ZOrder.q160),
    "q161_cdc_chunks" -> q(t => Dedup.q161(t.documents)),
    "q162_sq8_ann" -> q(t => Similarity.sq8CosineTopK(t.embeddings)),
    // HASH-GATED since round 12: deterministic integer state admits a
    // 40-stage unrolled DuckDB replay (bpeMergesOracle) — the one-time
    // exception to the ml_ rows-only convention; BpeSpec still pins
    // the reference-implementation equality
    "ml_bpe_merges" -> q(t => Bpe.mlBpeMerges(t.documents)),
    // ml_bpe_encode: the train→apply loop closed — corpus-wide encode
    // under the trained merges with per-doc lossless verification
    // (hash-gated since round 12 via bpeEncodeOracle; BpeSpec too)
    "ml_bpe_encode" -> q(t => Bpe.mlBpeEncode(t.documents)),
    // ml_pca_stream: PCA off the stream-maintained moment ledger —
    // two increments absorbed, model read without a vector rescan
    // (rows-only; MomentLedgerSpec pins state==one-shot equality)
    "ml_pca_stream" ->
      q(t => graft.sources.MomentLedger.mlPcaStream(t.embeddings)),
    "q163_attrition" ->
      q(t => TextAnalysis.attritionFunnel(t.documents)),
    "q164_script_mix" -> q(t => TextAnalysis.scriptMix(t.documents)),
    "q165_k_anonymity" -> q(Constraints.q165),
    // rows-only (q83 precedent): the sample-trained coarse quantizer
    // has no DuckDB twin; recall asserted in SimilaritySpec
    "q166_ivf_sq8_ann" -> q(t => Similarity.ivfSq8TopK(t.embeddings)),
    // rows-only: PCA rotation (iterative Jacobi) ahead of SQ8; PcaSpec
    // measures recall on planted low-rank data
    "q171_pca_sq8_ann" ->
      q(t => Similarity.pcaSq8TopK(t.embeddings, dims = 16)),
    "q153_incremental_dedup" -> q(t => Dedup.incrementalDedup(
      t.documents.filter(
        org.apache.spark.sql.functions.col("doc_id") % 10 < 8),
      t.documents.filter(
        org.apache.spark.sql.functions.col("doc_id") % 10 >= 8))),
    // q170: q153's increment shape lifted to MinHash near-dup — same
    // corpus/batch split; pair-existence contract (see Dedup scaladoc)
    "q170_incremental_neardup" -> q(t => Dedup.incrementalNearDup(
      t.documents.filter(
        org.apache.spark.sql.functions.col("doc_id") % 10 < 8),
      t.documents.filter(
        org.apache.spark.sql.functions.col("doc_id") % 10 >= 8))),
    // q153b: the STATEFUL production form — init the persisted ledger
    // from the corpus once, then absorb two sequential increments; the
    // second increment sees the first's keys through the ledger, never
    // the corpus text. Fresh temp state per call (Bench re-runs it).
    "q153b_ledger_dedup" -> ((spark: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables(spark, dir).documents
      val root = java.nio.file.Files
        .createTempDirectory("graft_ledger_").toString
      val (state, out) = (s"$root/state", s"$root/out")
      graft.sources.DedupLedger.init(spark, state,
        docs.filter(col("doc_id") % 10 < 8))
      // absorbSink instead of absorb: absorb()'s return frame loses
      // its persist before the caller materializes it, so the old
      // r1/r2 union re-ran both dedup chains UNCACHED at result time
      // (round-16, guide §1.2 — the q180 lesson). The sink writes the
      // SAME kept rows once (overlapped with the keys commit) and the
      // result reads the committed bytes back.
      val sink = graft.sources.DedupLedger.absorbSink(spark, state, out)
      sink(docs.filter(col("doc_id") % 10 === 8), 0L)
      sink(docs.filter(col("doc_id") % 10 === 9), 1L)
      spark.read.parquet(s"$out/batch_0")
        .unionByName(spark.read.parquet(s"$out/batch_1"))
        .orderBy("doc_id")
    }),
    // q180: the persisted incremental ANN index (fifth ledger) — init
    // on 80% of the embeddings, absorb the rest as an increment (no
    // corpus rescan), serve quantized top-k from committed state only.
    // Rows-only (sample-trained quantizer, q83/q166 precedent);
    // IndexLedgerSpec gates recall ≥ the q166 bar, increment-
    // composition parity, exactly-once replay, and the no-corpus-rescan
    // scan set.
    "q180_index_ledger_ann" -> ((spark: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions.col
      val emb = Tables(spark, dir).embeddings
      val state = java.nio.file.Files
        .createTempDirectory("graft_ixledger_").toString + "/state"
      graft.sources.IndexLedger.init(spark, state,
        emb.filter(col("vec_id") % 10 < 8))
      // absorb commits the increment eagerly inside; the old .count()
      // on its RETURN frame re-ran the whole assign chain (the persist
      // backing it is released before return) purely to discard the
      // rows — work the query throws away (round-16, guide §1.2)
      graft.sources.IndexLedger.absorb(spark, state,
        emb.filter(col("vec_id") % 10 >= 8))
      graft.sources.IndexLedger.topK(spark, state,
        emb.filter(col("vec_id") < 10), excludeSelf = true)
    }),
    "q108_shipping_priority" -> q(Relational.q108),
    "q109_supplier_hhi" -> q(Relational.q109),
    "q110_string_suite" -> q(Relational.q110),
    "q111_subqueries" -> q(Relational.q111),
    "q112_leakage_safe_split" ->
      q(t => Dedup.leakageSafeSplit(t.documents)),
    "q113_null_semantics" -> q(Relational.q113),
    "q114_revenue_share" -> q(Relational.q114),
    "q115_debounce" -> q(Relational.q115),
    "q116_activity_gaps" -> q(Relational.q116),
    "q117_bounce_rate" -> q(Relational.q117),
    "q118_window_extras" -> q(Relational.q118),
    "q119_benford" -> q(Relational.q119),
    "q120_seasonality" -> q(Relational.q120),
    "q121_bag_setops" -> q(Relational.q121),
    "q122_lateral_top1" -> q(Relational.q122),
    "q123_customer_360" -> q(Relational.q123),
    "q124_gini" -> q(Relational.q124),
    "q125_novelty" -> q(t => TextAnalysis.noveltyScores(t.documents)),
    "q126_vocab_growth" -> q(t => TextAnalysis.vocabGrowth(t.documents)),
    "q127_temperature_mixture" ->
      q(t => TextAnalysis.temperatureMixture(t.documents)),
    "q128_conversion_survival" -> q(Relational.q128),
    "q129_split_contamination" ->
      q(t => Dedup.crossSplitContamination(t.documents)),
    "q130_bm25" -> q(t => TextAnalysis.bm25TopK(t.documents,
      Seq("spark", "table", "join", "vector", "stream"))),
    "q131_pagerank" -> q(t => Graph.pageRank(t.lineitem)),
    "q132_exact_substr" ->
      q(t => Dedup.exactSubstrRuns(t.documents)),
    "q133_basket_lift" -> q(Relational.q133(_)),
    "q134_personalized_pagerank" ->
      q(t => Graph.personalizedPageRank(t.lineitem, seedSupplier = 7L)),
    "q172_bfs_hops" -> q(t => Graph.bfsHops(t.lineitem)),
    // q177: the composed incremental corpus refresh — scrub →
    // DedupLedger → MinhashLedger → fixed quality gate, two real
    // increments over persisted state, one hash gate over the final
    // kept ledger (fresh temp state per call; Bench re-runs it)
    "q177_corpus_increment" ->
      q(t => graft.sources.CorpusIncrement.q177(t.documents)),
    // q183: the training-ready last mile — mixture quotas over the
    // kept ledger, token-balanced shard spans, BPE encode accounting
    // under the version's committed merges, one committed artifact
    // (n_bpe_tokens is merge-dependent → dropped here, spec-gated)
    "q183_training_shards" ->
      q(t => graft.sources.CorpusIncrement.q183(t.documents)),
    // q184/q185: the remaining trainer-side accounting — sequence
    // packing off the distributed prefix sum, and epoch repeat-factor
    // mixtures for budgets larger than a stratum
    "q184_sequence_packing" ->
      q(t => TextAnalysis.sequencePacking(t.documents)),
    "q185_epoch_mixture" ->
      q(t => TextAnalysis.epochMixture(t.documents)),
    // q186/q187: retrieval-quality eval over the exact ranked frame,
    // and the packing frame flipped to the per-sequence axis
    "q186_retrieval_eval" ->
      q(t => Similarity.retrievalEval(t.embeddings)),
    "q187_pack_composition" ->
      q(t => TextAnalysis.packComposition(t.documents)),
    // q188/q189: token-budget quality curation, and RRF hybrid fusion
    // of the exact and SQ8 rankings
    "q188_quality_budget" ->
      q(t => TextAnalysis.qualityBudgetCuration(t.documents)),
    "q189_rrf_fusion" ->
      q(t => Similarity.rrfFusion(t.embeddings)),
    // q190/q191/q192: hard-negative mining off the exact ranked frame,
    // the per-stratum corpus datasheet, and the source-pair shingle
    // containment matrix
    "q190_hard_negatives" ->
      q(t => Similarity.hardNegatives(t.embeddings)),
    "q191_corpus_datasheet" ->
      q(t => TextAnalysis.corpusDatasheet(t.documents)),
    "q192_corpus_containment" ->
      q(t => Dedup.corpusContainment(t.documents)),
    // q193: per-document memorization-risk audit — fraction of each
    // document built from corpus-frequent shingles (df >= minDf)
    "q193_memorization_risk" ->
      q(t => Dedup.memorizationRisk(t.documents)),
    // q194: per-class embedding-geometry panel — mean pairwise cosine
    // via the sum-norm identity, one pass, never O(n^2) pairs
    "q194_embedding_diagnostics" ->
      q(t => Similarity.embeddingDiagnostics(t.embeddings)),
    // q195: unigram JS-divergence source-pair matrix — the
    // distributional complement to q192's verbatim containment
    "q195_unigram_jsd" ->
      q(t => TextAnalysis.unigramJsDivergence(t.documents)),
    // q196: stride-scheduled curriculum interleave — integer-exact
    // global training order with every source spread evenly
    "q196_curriculum_interleave" ->
      q(t => TextAnalysis.curriculumInterleave(t.documents)),
    // q197: fixed-state bucketed-histogram JSD per source vs corpus —
    // the monitoring-loop twin of q195 (same statistic the
    // CorpusIncrement monitor commits per increment as jsd_tokens)
    "q197_token_hist_drift" ->
      q(t => TextAnalysis.tokenHistDrift(t.documents)),
    // q198: per-shard composition audit on the exact q156 spans —
    // dominant-lang share + language entropy per training shard
    "q198_shard_homogeneity" ->
      q(t => TextAnalysis.shardHomogeneity(t.documents)),
    // q199: temperature quotas recomputed after near-dup
    // canonicalization, with the per-stratum shift
    "q199_dedup_adjusted_mixture" ->
      q(t => TextAnalysis.dedupAdjustedMixture(t.documents)),
    // q200: the sixth ledger — q193's memorization risk against LIVE
    // committed df state: init on 80% by id, absorb the rest as one
    // increment (as-of dfs = committed + batch; no corpus rescan).
    // Fresh temp state per call (Bench re-runs it). FULL hash oracle:
    // the df state is additive integers, so the as-of risk replays
    // exactly in SQL on shingle strings.
    // q201/q202: the datasheet companions — Good–Turing
    // frequency-of-frequencies per source, and the exact-copy
    // cluster-size distribution with duplicate token mass
    "q201_frequency_spectrum" ->
      q(t => TextAnalysis.frequencySpectrum(t.documents)),
    // q203: rows-only — no DuckDB deflate scalar exists; TextSpec
    // pins exact equality vs a driver-side java.util.zip reference,
    // determinism, and the repetitive-vs-prose ordering
    "q203_compression_ratio" ->
      q(t => TextAnalysis.compressionRatio(t.documents)),
    // q204: per-language tokenizer fertility off the trained merges —
    // deterministic integer state, full hash oracle (BPE-replay CTEs)
    "q204_tokenizer_fertility" ->
      q(t => Bpe.tokenizerFertility(t.documents)),
    // q205: contamination SPANS (gaps-and-islands over matched gram
    // positions) against deterministic benchmark excerpts — the
    // planted positives must flag with full-length spans
    "q205_contamination_spans" ->
      q(t => Dedup.contaminationSpans(t.documents)),
    // q206: sequence→document provenance — the inverse packing lookup
    // (loss-spike forensics), probe set seq_id % 20 == 0
    "q206_seq_provenance" ->
      q(t => TextAnalysis.seqProvenance(t.documents)),
    // q207: canary/secret-leak audit — rare-but-cross-source grams,
    // fingerprint-aggregated then string-recovered for the tiny set
    "q207_canary_spans" ->
      q(t => Dedup.canarySpans(t.documents)),
    // q208: l-diversity (homogeneity-attack audit) over the q165
    // release with the acctbal band as the sensitive attribute
    "q208_l_diversity" -> q(Constraints.q208),
    // q209: largest-remainder stratified holdout — exact budget,
    // all-integer allocation, md5-ranked within-stratum selection
    "q209_stratified_holdout" ->
      q(t => TextAnalysis.stratifiedHoldout(t.documents)),
    // q210: gram novelty curve per arrival decile (crawl saturation)
    "q210_gram_novelty" ->
      q(t => TextAnalysis.gramNoveltyCurve(t.documents)),
    // q211: within-doc n-gram loop score (degeneration signal);
    // loops planted at doc_id % 31 — the q202 planting convention
    "q211_gram_loops" ->
      q(t => TextAnalysis.gramLoopScore(t.documents)),
    // q212: character-entropy quality signal (the hashable twin of
    // q203's deflate ratio); repetitive docs planted at doc_id % 29
    "q212_char_entropy" ->
      q(t => TextAnalysis.charEntropy(t.documents)),
    // q213: BPE round-trip — decode(encode(x)) == x, per doc, md5-gated
    "q213_bpe_roundtrip" ->
      q(t => Bpe.bpeRoundtrip(t.documents)),
    // q214: JSONL ingest round trip with corrupt-record isolation;
    // malformed lines planted at doc_id % 23
    "q214_jsonl_roundtrip" ->
      q(t => graft.sources.Formats.jsonlRoundtrip(t.spark, t.documents)),
    // q215: per-language quality-threshold calibration (bottom decile
    // per lang, integer-exact, GlobalRank — no per-lang window)
    "q215_lang_quality" ->
      q(t => TextAnalysis.langQualityCalibration(t.documents)),
    // q216: encoding-artifact (mojibake) audit; three artifact classes
    // planted on coprime keys %37/%41/%43
    "q216_mojibake_audit" ->
      q(t => TextAnalysis.mojibakeAudit(t.documents)),
    // q217: data-budget ("data wall") forecast off the shared q127
    // temperature-quota chain — exhaustion horizons per stratum
    "q217_data_budget" ->
      q(t => TextAnalysis.dataBudgetForecast(t.documents)),
    // q218: ORC write→read round trip folded to the q02 shape
    "q218_orc_roundtrip" ->
      q(t => graft.sources.Formats.orcRoundtrip(t.spark, t)),
    // q220: pairwise Pearson agreement between the four shipped
    // quality signals (q212/q23/q211) — the filter-redundancy table
    "q220_signal_agreement" ->
      q(t => TextAnalysis.signalAgreement(t.documents)),
    // q221: top-1000 vocabulary coverage — per-source OOV token/type
    // rates (the audit before freezing any fixed-vocab tokenizer)
    "q221_oov_rate" -> q(t => TextAnalysis.oovRate(t.documents)),
    // q222: within-cluster entropy spread over the q42 components —
    // the boilerplate-wrapper cluster class, all-integer gate
    "q222_cluster_quality" ->
      q(t => TextAnalysis.clusterQualitySpread(t.documents)),
    // q223: per-source quality-drift JSD over 64 fixed entropy
    // buckets — the q197 machinery on the q212 signal
    "q223_entropy_drift" ->
      q(t => TextAnalysis.entropyDrift(t.documents)),
    // q224: the per-doc curation manifest — keep/drop + reason under
    // a fixed precedence, composing the gated q155/q17/q42+q85/q95/
    // q63 stages; exact dups planted at %17 + 1e8 (q202 convention)
    "q224_curation_manifest" ->
      q(t => Curation.curationManifest(t.documents)),
    // q225: TF-IDF keyword extraction — top-3 per doc, all-integer
    // ranking on tf·idf6 (one ln per distinct df, scaled to BIGINT)
    "q225_tfidf_keywords" ->
      q(t => TextAnalysis.tfidfKeywords(t.documents)),
    // q226: Zipf-law OLS fit PER SOURCE over the top-100 ranks (q87's
    // global row, per source) — rank via cumSumBy (source is the
    // low-cardinality hazard key)
    "q226_zipf_fit" -> q(t => TextAnalysis.zipfFitBySource(t.documents)),
    // q227: interpolated Kneser–Ney held-out LM score — the smoothing
    // q68's self-scored MLE cannot exercise (unseen mass is real here)
    "q227_kneser_ney" -> q(t => TextAnalysis.knScore(t.documents)),
    // q228: magic-byte format audit — real PNG/JPEG/WAV signatures
    // planted at %5, declared metadata at %4 (coprime ⇒ every
    // mismatch class populated); the sniff reads bytes, not the key
    "q228_media_sniff" ->
      q(t => Multimodal.mediaSniff(t.documents)),
    // q229: SFT pair construction — deterministic prompt/response
    // split, fixed chat template (md5-gated), loss-mask accounting
    "q229_sft_pairs" -> q(t => TextAnalysis.sftPairs(t.documents)),
    // q230: Matryoshka truncation audit — top-5 overlap between full
    // 64-dim and first-16-dim cosine, q26's rounded-rank discipline
    "q230_matryoshka_recall" ->
      q(t => Similarity.matryoshkaRecall(t.embeddings)),
    // q231: merge-utilization (tokenizer drift) — how often each
    // committed merge fires on the %3 slice it was NOT trained for
    "q231_merge_utilization" ->
      q(t => Bpe.mergeUtilization(t.documents)),
    // q232: Markov removal-effect attribution — all-integer absorbing
    // chain (q131 discipline); the principled multi-touch counterpart
    // to q97's last-touch
    "q232_markov_attribution" -> q(Relational.q232),
    // q233: grid-cell-pruned radius search over planted integer
    // coordinates — the spatial-join shape, all-integer membership
    "q233_geo_radius" -> q(t => Geo.radiusSearch(t.customer)),
    // q234: grid distance SELF-join (each pair once, a < b) — the
    // corpus×corpus-avoiding spatial join, density-bound work
    "q234_geo_selfjoin" -> q(t => Geo.distanceSelfJoin(t.customer)),
    // q202 plants scale-covariant duplicates (doc_id % 17 copied
    // once more, % 51 twice — 51 = 3·17, so those reach d = 3): the
    // stock fixture has no exact copies at any sf, and a gate whose
    // duplicate buckets are structurally empty is vacuous (the
    // q181/q177 lesson). Modular keys keep all three buckets
    // populated at every scale factor.
    "q202_duplication_profile" ->
      q { t =>
        import org.apache.spark.sql.functions.col
        val d = t.documents
        TextAnalysis.duplicationProfile(
          d.unionByName(d.filter(col("doc_id") % 17 === 0))
            .unionByName(d.filter(col("doc_id") % 51 === 0)))
      },
    "q200_ngram_ledger_risk" -> ((spark: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables(spark, dir).documents
      val state = java.nio.file.Files
        .createTempDirectory("graft_ngledger_").toString + "/state"
      graft.sources.NgramLedger.init(spark, state,
        docs.filter(col("doc_id") % 10 < 8))
      graft.sources.NgramLedger.absorb(spark, state,
        docs.filter(col("doc_id") % 10 >= 8))
    }),
    "q173_cusum_changepoint" -> q(Relational.q173),
    "q174_theil_sen" -> q(Relational.q174),
    "q176_mann_kendall" -> q(Relational.q176),
    "q178_ks_drift" -> q(Relational.q178),
    // q179: the same KS statistic off the KLL sketch table (no event
    // rescan) — randomized sketch → rows-only; SketchSpec pins the
    // 2ε bound against q178's exact integers
    "q179_ks_drift_sketch" -> q(t => Sketches.q179(t)),
    // the AllPairs prefix-filtered path, declared under its own gate:
    // same semantics as q19, different (real-corpus-preferred) algorithm
    "q135_allpairs_jaccard" ->
      q(t => Dedup.ngramJaccardPairsPrefix(t.documents)),
    // q181/q182: the SAME two algorithms on the realistic-vocabulary
    // slice, where prefixes can actually prune — the crossover pair
    // that keeps the AllPairs path's value (and regressions) visible
    // in the bench instead of drowned in the known-bad 30-word vocab
    "q181_allpairs_realvocab" ->
      q(t => Dedup.ngramJaccardPairsPrefix(
        Dedup.realVocabDocs(t.documents))),
    "q182_jaccard_naive_realvocab" ->
      q(t => Dedup.ngramJaccardPairs(
        Dedup.realVocabDocs(t.documents))),
    "q71_lang_centroids" -> q { t =>
      import org.apache.spark.sql.functions.col
      Similarity.groupCentroids(
        t.embeddings,
        t.documents.select(col("doc_id").as("vec_id"), col("lang")),
        "lang")
    },
    "q27_feature_matrix" -> q(t => graft.ml.Features.q27(t.events)),
    "q28_session_window" -> q(t =>
      graft.streaming.EventsStreaming.sessionsPerUser(t.events)),
    "q31_sql_surface" -> q(Relational.q31),
    "q32_expr_join" -> q(Relational.q32),
    "q29_media_stats" -> q(t => Multimodal.mediaStats(t.documents)),
    "q30_frame_sample" -> q(t => Multimodal.frameSample(t.documents)),
    // ML queries: seeded but float/model-dependent — rows-only checks
    // (SURVEY §2.11 "non-declared"), no oracleSql entries.
    "ml_score_matrix" -> ((s, dir) =>
      graft.ml.Ranker.pipeline(s, Tables(s, dir).events)),
    "ml_rmse_report" -> ((s, dir) =>
      graft.ml.Ranker.rmseReport(Tables(s, dir).events)),
    "ml_als_recs" -> ((s, dir) => {
      val t = Tables(s, dir)
      graft.ml.Recommender.recommend(t.lineitem, t.orders)
    }),
    "ml_quality_scores" -> ((s, dir) =>
      graft.ml.QualityModel.ccnetScores(Tables(s, dir).documents)),
    // rows-only (ml_ convention): the Jacobi eigensolve is iterative
    // and the scores float; PcaSpec is the real gate (planted-subspace
    // recovery, eigenpair residuals, projection-vs-driver equality)
    "ml_pca_proj" -> q(t => Pca.mlPcaProj(t)),
  )

  /** DuckDB 3-token shingle list for `documents.text` (1-based slices). */
  private val duckShingles =
    "list_distinct([array_to_string(t[i:i+2],' ') for i in range(1, len(t)-1)])"

  // ---- BPE oracle (ml_bpe_merges / ml_bpe_encode) -----------------
  // Unrolled 40-stage DuckDB replay of Bpe.train: each word's symbol
  // sequence packs as US+tok+US concatenations (US = chr(31), absent
  // from whitespace-split tokens), so ONE plain replace() of
  // US·l·US·US·r·US -> US·lr·US is exactly Bpe.applyMerge's leftmost
  // non-overlapping scan — replace never rescans its own output,
  // matching the scan's i += 2 advance. Stage i aggregates weighted
  // adjacent-pair counts over the distinct-word working set, takes
  // the argmax (count desc, then lexicographic l, r — binary
  // collation on both engines), and rewrites; an argmax under
  // minCount=2 leaves b_i empty and the LEFT JOIN keeps w unchanged,
  // so the trainer's early stop falls out with fewer merge rows.
  // MATERIALIZED pins DuckDB to evaluate each stage once (every w_i
  // is referenced by both p_i and w_{i+1} — inlining would double
  // the expansion per stage).
  private val bpeUS = "chr(31)"
  private val bpeNumMerges = 40

  /** Pack one word column as the US-wrapped symbol string (chars +
    * terminal `</w>` marker, the Sennrich convention Bpe.toSyms uses). */
  private def bpePack(wordExpr: String): String =
    s"$bpeUS || list_aggr(str_split($wordExpr, ''), 'string_agg', " +
      s"$bpeUS||$bpeUS) || $bpeUS || $bpeUS || '</w>' || $bpeUS"

  /** The train chain: w0..wN, p0..p(N-1), b0..b(N-1). */
  private def bpeTrainCtes: Seq[String] = {
    val us = bpeUS
    val w0 =
      s"""w0 AS MATERIALIZED (
         |  SELECT ${bpePack("word")} AS w, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM (SELECT unnest(string_split_regex(text, '\\s+')) AS word
         |        FROM documents)
         |  WHERE len(word) > 0
         |  GROUP BY word)""".stripMargin
    w0 +: (0 until bpeNumMerges).flatMap { i =>
      Seq(
        s"""p$i AS (
           |  SELECT syms[i] AS l, syms[i+1] AS r, CAST(SUM(n) AS BIGINT) AS c
           |  FROM (SELECT string_split(trim(w, $us), $us||$us) AS syms, n FROM w$i),
           |       UNNEST(range(1, len(syms))) AS t(i)
           |  GROUP BY 1, 2)""".stripMargin,
        s"""b$i AS MATERIALIZED (
           |  SELECT l, r, c FROM p$i WHERE c >= 2 ORDER BY c DESC, l, r LIMIT 1)""".stripMargin,
        s"""w${i + 1} AS MATERIALIZED (
           |  SELECT CASE WHEN b.l IS NULL THEN w
           |         ELSE replace(w, $us||b.l||$us||$us||b.r||$us, $us||b.l||b.r||$us) END AS w, n
           |  FROM w$i LEFT JOIN b$i b ON TRUE)""".stripMargin)
    }
  }

  private def bpeMergesOracle: String = {
    val union = (0 until bpeNumMerges).map(i =>
      s"""SELECT CAST($i AS BIGINT) AS rank, l AS "left", r AS "right", """ +
        s"l||r AS merged, c AS support FROM b$i").mkString("\nUNION ALL ")
    "WITH " + bpeTrainCtes.mkString(",\n") + "\n" + union + "\nORDER BY rank"
  }

  /** Encode replay: the trained b_i scalars applied in rank order to
    * the DISTINCT-WORD table (e0..eN), then per-word token stats join
    * back to per-(doc, word) occurrence counts — the corpus is never
    * string-rewritten, mirroring the engine's broadcast-encode shape.
    * Shared by ml_bpe_encode and q204 (one chain, no gate desync). */
  private def bpeEncodeCtes: Seq[String] = {
    val us = bpeUS
    val n = bpeNumMerges
    val e0 =
      s"""e0 AS MATERIALIZED (
         |  SELECT DISTINCT word, ${bpePack("word")} AS w
         |  FROM (SELECT unnest(string_split_regex(text, '\\s+')) AS word
         |        FROM documents)
         |  WHERE len(word) > 0)""".stripMargin
    val apply = (0 until n).map { i =>
      s"""e${i + 1} AS MATERIALIZED (
         |  SELECT word, CASE WHEN b.l IS NULL THEN w
         |         ELSE replace(w, $us||b.l||$us||$us||b.r||$us, $us||b.l||b.r||$us) END AS w
         |  FROM e$i LEFT JOIN b$i b ON TRUE)""".stripMargin
    }
    val tail =
      s"""stats AS (
         |  SELECT word, CAST(len(toks) AS BIGINT) AS n_tok,
         |    CAST(len(list_filter(toks, t -> t LIKE '%</w>')) AS BIGINT) AS n_w,
         |    CAST(list_sum(list_transform(toks,
         |      t -> len(regexp_replace(t, '</w>$$', '')))) AS BIGINT) AS n_c
         |  FROM (SELECT word, string_split(trim(w, $us), $us||$us) AS toks FROM e$n)),
         |docwords AS (
         |  SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS k
         |  FROM (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS word
         |        FROM documents)
         |  WHERE len(word) > 0 GROUP BY 1, 2),
         |perdoc AS (
         |  SELECT doc_id, CAST(SUM(k*n_tok) AS BIGINT) AS n_bpe_tokens,
         |         CAST(SUM(k*n_w) AS BIGINT) AS n_words,
         |         CAST(SUM(k*n_c) AS BIGINT) AS n_chars
         |  FROM docwords JOIN stats USING(word) GROUP BY doc_id),
         |truth AS (
         |  SELECT doc_id,
         |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS wt,
         |    CAST(len(regexp_replace(text, '\\s+', '', 'g')) AS BIGINT) AS ct
         |  FROM documents)""".stripMargin
    bpeTrainCtes ++ (e0 +: apply) :+ tail
  }

  private def bpeEncodeOracle: String =
    "WITH " + bpeEncodeCtes.mkString(",\n") +
      """
        |SELECT doc_id, n_bpe_tokens, n_words, n_chars,
        |  (n_words = wt AND n_chars = ct) AS lossless
        |FROM perdoc JOIN truth USING(doc_id) ORDER BY doc_id""".stripMargin

  /** q204 fertility replay: the encode chain folded per language. */
  private def bpeFertilityOracle: String =
    "WITH " + bpeEncodeCtes.mkString(",\n") +
      """
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_words) AS BIGINT) AS n_words,
        |  CAST(SUM(n_bpe_tokens) AS BIGINT) AS n_bpe_tokens,
        |  ROUND(CAST(SUM(n_bpe_tokens) AS DOUBLE)
        |    / CAST(SUM(n_words) AS DOUBLE), 4) AS fertility,
        |  ROUND(CAST(SUM(perdoc.n_chars) AS DOUBLE)
        |    / CAST(SUM(n_bpe_tokens) AS DOUBLE), 4) AS chars_per_token
        |FROM perdoc JOIN documents USING(doc_id)
        |GROUP BY lang ORDER BY lang""".stripMargin

  /** q231 utilization replay: per-stage symbol-sequence lengths off
    * the SHARED encode chain (e0..eN — one chain, no gate desync with
    * ml_bpe_encode/q204/q213), length deltas per word via LEAD,
    * weighted by the %3 slice's word frequencies. Applying merge k
    * shrinks a word by exactly its application count, so the weighted
    * deltas ARE the utilization. */
  private def bpeUtilizationOracle: String = {
    val us = bpeUS
    val lens = (0 to bpeNumMerges).map(i =>
      s"SELECT word, CAST($i AS BIGINT) AS stage, " +
        s"CAST(len(string_split(trim(w, $us), $us||$us)) AS BIGINT) AS l " +
        s"FROM e$i").mkString("\nUNION ALL ")
    val mt = (0 until bpeNumMerges).map(i =>
      s"""SELECT CAST($i AS BIGINT) AS rank, l AS "left", r AS "right", """ +
        s"l||r AS merged, c AS support FROM b$i").mkString("\nUNION ALL ")
    "WITH " + bpeEncodeCtes.mkString(",\n") + ",\n" +
      s"""lens AS ($lens),
        |delta AS (SELECT word, stage AS rank,
        |    l - LEAD(l) OVER (PARTITION BY word ORDER BY stage) AS d
        |  FROM lens),
        |subwords AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS k
        |  FROM (SELECT unnest(string_split_regex(text, '\\s+')) AS word
        |        FROM documents WHERE doc_id % 3 = 0)
        |  WHERE len(word) > 0 GROUP BY word),
        |util AS (SELECT rank, CAST(SUM(d * k) AS BIGINT) AS applications
        |  FROM delta JOIN subwords USING (word)
        |  WHERE rank < $bpeNumMerges GROUP BY rank),
        |mt AS ($mt)
        |SELECT mt.rank, mt."left", mt."right", mt.merged, mt.support,
        |  CAST(COALESCE(u.applications, 0) AS BIGINT) AS applications,
        |  CAST(CASE WHEN COALESCE(u.applications, 0) > 0 THEN 1 ELSE 0 END
        |    AS BIGINT) AS used
        |FROM mt LEFT JOIN util u ON u.rank = mt.rank
        |ORDER BY mt.rank""".stripMargin
  }

  /** q232 replay: the journey/transition extraction in plain SQL,
    * then 25 unrolled ALL-INTEGER absorption iterations per scenario
    * (full + one per removed channel) — the q131 integer-PageRank
    * discipline, so the compare is exact. `states`/`ti` derive the
    * channel set from the data (matching the engine); only the
    * structurally-unrolled removal chains enumerate the fixture's
    * event-type enum, so an enum drift surfaces as a loud row-count
    * mismatch, never a silent absorbing-zero divergence. */
  private def markovOracle: String = {
    val channels = Seq("click", "error", "signup", "view")
    val iters = 25
    def vChain(tag: String, pCte: String): Seq[String] = {
      val v0 =
        s"v${tag}0 AS MATERIALIZED (SELECT st, CAST(0 AS BIGINT) AS v FROM states)"
      val steps = (0 until iters).map { k =>
        s"""v$tag${k + 1} AS MATERIALIZED (
           |  SELECT s.st, COALESCE(CAST(SUM(p.p6 *
           |      CASE WHEN p.dst = 'CONV' THEN 1000000
           |           WHEN p.dst = 'NULL' THEN 0
           |           ELSE COALESCE(v.v, 0) END) AS BIGINT), 0)
           |    // 1000000 AS v
           |  FROM states s LEFT JOIN $pCte p ON p.src = s.st
           |    LEFT JOIN v$tag$k v ON v.st = p.dst
           |  GROUP BY s.st)""".stripMargin
      }
      v0 +: steps
    }
    val base = Seq(
      """st AS (SELECT user_id, ts, event_id,
        |    CASE WHEN event_type = 'purchase' THEN 'CONV'
        |         ELSE event_type END AS state,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS rn
        |  FROM events)""".stripMargin,
      """fp AS (SELECT user_id, MIN(rn) AS prn FROM st
        |  WHERE state = 'CONV' GROUP BY user_id)""".stripMargin,
      """kept AS (SELECT s.*, f.prn FROM st s
        |  LEFT JOIN fp f USING (user_id)
        |  WHERE f.prn IS NULL OR s.rn <= f.prn)""".stripMargin,
      """chain AS (SELECT user_id, state AS dst,
        |    COALESCE(LAG(state) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id), 'START') AS src
        |  FROM kept)""".stripMargin,
      """lastr AS (SELECT user_id, MAX(rn) AS lrn FROM kept
        |  WHERE prn IS NULL GROUP BY user_id)""".stripMargin,
      """terms AS (SELECT k.state AS src, 'NULL' AS dst FROM kept k
        |  JOIN lastr l ON l.user_id = k.user_id AND k.rn = l.lrn)""".stripMargin,
      """alltr AS (SELECT src, dst FROM chain
        |  UNION ALL SELECT src, dst FROM terms)""".stripMargin,
      """cnt AS MATERIALIZED (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM alltr GROUP BY 1, 2)""".stripMargin,
      """tot AS (SELECT src, CAST(SUM(n) AS BIGINT) AS tt
        |  FROM cnt GROUP BY src)""".stripMargin,
      """p AS MATERIALIZED (SELECT c.src, c.dst, (n * 1000000) // tt AS p6
        |  FROM cnt c JOIN tot USING (src))""".stripMargin,
      // states/ti derive the channel set FROM THE DATA (like the
      // engine does), so a fixture regen that adds or drops an
      // event_type fails the row compare loudly (row-count mismatch
      // against the engine's derived list) instead of silently
      // treating the new channel as absorbing-zero; only the
      // structurally-unrolled per-channel removal chains below still
      // enumerate `channels`
      """states AS MATERIALIZED (SELECT 'START' AS st
        |  UNION SELECT DISTINCT event_type FROM events
        |  WHERE event_type <> 'purchase')""".stripMargin)
    val scen = channels.map(c =>
      s"p_$c AS MATERIALIZED (SELECT src, dst, p6 FROM p " +
        s"WHERE src <> '$c' AND dst <> '$c')")
    val chains = vChain("full", "p") ++
      channels.flatMap(c => vChain(c, s"p_$c"))
    val effs = channels.map(c =>
      s"SELECT '$c' AS channel, (SELECT v FROM v$c$iters WHERE st = 'START') AS p_removed6")
      .mkString("\nUNION ALL ")
    val tail =
      s"""effs AS ($effs),
        |ti AS (SELECT dst AS channel, CAST(SUM(n) AS BIGINT) AS tin
        |  FROM cnt WHERE dst IN (SELECT DISTINCT event_type FROM events
        |                         WHERE event_type <> 'purchase')
        |  GROUP BY dst),
        |fin AS (SELECT e.channel, COALESCE(t.tin, 0) AS transitions_in,
        |    (SELECT v FROM vfull$iters WHERE st = 'START') AS p_full6,
        |    e.p_removed6,
        |    (SELECT v FROM vfull$iters WHERE st = 'START') - e.p_removed6
        |      AS effect6
        |  FROM effs e LEFT JOIN ti t USING (channel)),
        |tote AS (SELECT CAST(SUM(effect6) AS BIGINT) AS te FROM fin)
        |SELECT channel, CAST(transitions_in AS BIGINT) AS transitions_in,
        |  CAST(p_full6 AS BIGINT) AS p_full6,
        |  CAST(p_removed6 AS BIGINT) AS p_removed6,
        |  CAST(effect6 AS BIGINT) AS effect6,
        |  CASE WHEN te > 0 THEN ROUND(CAST(effect6 AS DOUBLE) / te, 6) END
        |    AS share
        |FROM fin, tote ORDER BY channel""".stripMargin
    "WITH " + (base ++ scen ++ chains).mkString(",\n") + ",\n" + tail
  }

  /** Shared MinHash CTE chain (through `est`), reused by the q20 pair
    * oracle and the q42 connected-components oracle. Mirrors the
    * engine's Kirsch–Mitzenmacher form: one md5 per shingle split into
    * two 32-bit halves, permutation i = (h1 + i·h2) mod 2³². */
  private def minhashCtes: String = minhashCtesOver("documents")

  /** The same chain over an arbitrary (doc_id, text) CTE/table — q177
    * runs it over the scrubbed corpus ∪ exact-survivors pool. */
  private def minhashCtesOver(src: String): String = {
    val mhDefs = (0 until 16)
      .map(i => s"min((h1 + $i*h2) % 4294967296) AS mh$i").mkString(", ")
    val bandRows = (0 until 4).map { b =>
      val key = (0 until 4).map(r => s"CAST(mh${b * 4 + r} AS VARCHAR)")
        .mkString("||'|'||")
      s"SELECT doc_id, $b AS band, md5($key) AS bkey FROM sig"
    }.mkString("\nUNION ALL ")
    val eqSum = (0 until 16)
      .map(i => s"(CASE WHEN x.mh$i=y.mh$i THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""toks AS (SELECT doc_id, string_split(text,' ') AS t FROM $src),
       |sh AS (SELECT doc_id, unnest($duckShingles) AS shingle FROM toks),
       |hs AS (SELECT doc_id,
       |         CAST(concat('0x', substr(md5(shingle), 1, 8)) AS BIGINT) AS h1,
       |         CAST(concat('0x', substr(md5(shingle), 9, 8)) AS BIGINT) AS h2
       |       FROM sh),
       |sig AS (SELECT doc_id, $mhDefs FROM hs GROUP BY doc_id),
       |bands AS ($bandRows),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_i, b.doc_id AS doc_j
       |         FROM bands a JOIN bands b
       |           ON a.band=b.band AND a.bkey=b.bkey AND a.doc_id<b.doc_id),
       |est AS (SELECT doc_i, doc_j,
       |          ROUND(CAST($eqSum AS DOUBLE)/16, 4) AS est_jac
       |        FROM cand JOIN sig x ON x.doc_id=doc_i
       |                  JOIN sig y ON y.doc_id=doc_j)""".stripMargin
  }

  /** Shared by q19 (naive inverted index) and q135 (AllPairs prefix
    * filter): the two paths declare IDENTICAL semantics, so they share
    * ONE oracle text — a one-sided edit cannot desynchronize the gates.
    * [[jaccardTail]] is the same chain over an arbitrary (doc_id, text)
    * source, shared again by the q181/q182 realistic-vocabulary pair. */
  private def jaccardTail(src: String): String =
    s"""toks AS (SELECT doc_id, string_split(text,' ') AS t FROM $src),
       |idx AS (SELECT doc_id, unnest($duckShingles) AS shingle FROM toks),
       |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM idx GROUP BY doc_id),
       |shared AS (SELECT a.doc_id AS doc_i, b.doc_id AS doc_j, COUNT(*) AS shared
       |           FROM idx a JOIN idx b
       |             ON a.shingle=b.shingle AND a.doc_id<b.doc_id
       |           GROUP BY 1, 2)
       |SELECT doc_i, doc_j,
       |       ROUND(CAST(shared AS DOUBLE)/(si.n_sh + sj.n_sh - shared), 4) AS jac
       |FROM shared
       |JOIN sizes si ON si.doc_id = doc_i
       |JOIN sizes sj ON sj.doc_id = doc_j
       |WHERE ROUND(CAST(shared AS DOUBLE)/(si.n_sh + sj.n_sh - shared), 4) >= 0.5
       |ORDER BY doc_i, doc_j""".stripMargin

  private def jaccardOracle: String = "WITH " + jaccardTail("documents")

  /** ONE oracle for the q181 (prefix) / q182 (naive) realistic-vocab
    * pair: the [[graft.operators.Dedup.realVocabDocs]] slice rebuilt
    * in SQL (same md5 namespaces, same COUNT(*)-modular clique/group
    * keys), then the identical Jaccard chain. */
  private def realVocabJaccardOracle: String =
    """WITH mm AS (SELECT GREATEST(COUNT(*)//2, 1) AS m1,
      |             GREATEST(COUNT(*)//16, 1) AS m2 FROM documents),
      |rv AS (
      |  SELECT doc_id, array_to_string(
      |    [substr(md5('g:' || CAST(doc_id % m2 AS VARCHAR) || ':' ||
      |       CAST(j AS VARCHAR)), 1, 10) for j in range(0, 3)] ||
      |    [substr(md5('c:' || CAST(doc_id % m1 AS VARCHAR) || ':' ||
      |       CAST(j AS VARCHAR)), 1, 10) for j in range(3, 36)] ||
      |    [substr(md5('u:' || CAST(doc_id AS VARCHAR) || ':' ||
      |       CAST(j AS VARCHAR)), 1, 10) for j in range(36, 40)],
      |    ' ') AS text
      |  FROM documents, mm),
      |""".stripMargin + jaccardTail("rv")

  private def minhashOracle: String =
    s"""WITH $minhashCtes
       |SELECT doc_i, doc_j, est_jac FROM est WHERE est_jac >= 0.5
       |ORDER BY doc_i, doc_j""".stripMargin

  /** q42 oracle: transitive closure of the q20 pairs via a recursive
    * CTE, component = min reachable node. */
  /** Shared CTE chain of q35/q100: md5-hyperplane LSH candidate pairs
    * over the embeddings table, cosine-scored (DuckDB twin of
    * [[graft.operators.Similarity.embeddingNearDupsPortable]]). */
  private def embedPairCtes: String =
    """plane AS (
      |  SELECT i, j,
      |         CASE WHEN substr(md5(CAST(i AS VARCHAR)||':'||CAST(j AS VARCHAR)),1,1)
      |                   IN ('8','9','a','b','c','d','e','f')
      |              THEN 1.0 ELSE -1.0 END AS s
      |  FROM range(0,16) t1(i), range(0,64) t2(j)),
      |v AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e FROM embeddings),
      |proj AS (
      |  SELECT v.vec_id, p.i, SUM(v.e[p.j + 1] * p.s) AS d
      |  FROM v, plane p GROUP BY v.vec_id, p.i),
      |sig AS (
      |  SELECT vec_id,
      |         CAST(SUM(CASE WHEN d > 0 THEN 1 << i ELSE 0 END) AS BIGINT) AS sg
      |  FROM proj GROUP BY vec_id),
      |bands AS (
      |  SELECT vec_id, b, (sg >> (b * 4)) & 15 AS bkey
      |  FROM sig, range(0,4) t(b)),
      |cand AS (
      |  SELECT DISTINCT a.vec_id AS vi, b.vec_id AS vj
      |  FROM bands a JOIN bands b
      |    ON a.b = b.b AND a.bkey = b.bkey AND a.vec_id < b.vec_id),
      |scored AS (
      |  SELECT vi AS vec_i, vj AS vec_j,
      |    ROUND(list_sum(list_transform(range(1,65), k -> x.e[k]*y.e[k])) /
      |      (sqrt(list_sum(list_transform(range(1,65), k -> x.e[k]*x.e[k]))) *
      |       sqrt(list_sum(list_transform(range(1,65), k -> y.e[k]*y.e[k])))), 6) AS cos
      |  FROM cand JOIN v x ON x.vec_id = vi JOIN v y ON y.vec_id = vj)""".stripMargin

  /** Shared q212/q220 CTE chain: the planted-corpus non-space char
    * histogram through `enttot` (per-doc n/max) and the per-doc
    * entropy row `entv` (doc_id, n_chars_x, n_distinct, max_rep,
    * char_entropy) — one def so the entropy gate and the
    * signal-agreement gate cannot desynchronize. */
  private def charEntropyCtes: String =
    """entt0 AS (SELECT doc_id,
      |    CASE WHEN doc_id % 29 = 0 THEN
      |      text || ' ' || repeat(substr(text, 1, 1), length(text))
      |    ELSE text END AS text
      |  FROM documents),
      |entch AS (SELECT doc_id, unnest(string_split(text, '')) AS ch
      |          FROM entt0),
      |entc AS (SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS c
      |         FROM entch WHERE ch <> '' AND ch <> ' ' GROUP BY 1, 2),
      |enttot AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_chars_x,
      |                  CAST(COUNT(*) AS BIGINT) AS n_distinct,
      |                  CAST(MAX(c) AS BIGINT) AS max_rep
      |           FROM entc GROUP BY 1),
      |entv AS (SELECT t.doc_id, t.n_chars_x, t.n_distinct, t.max_rep,
      |    ROUND(-SUM((CAST(c.c AS DOUBLE) / t.n_chars_x)
      |      * log2(CAST(c.c AS DOUBLE) / t.n_chars_x)), 4) + 0.0
      |      AS char_entropy
      |  FROM entc c JOIN enttot t USING (doc_id)
      |  GROUP BY 1, 2, 3, 4)""".stripMargin

  /** Shared q211/q220 CTE chain: the planted-loop corpus through the
    * per-doc gram totals `lptot` (doc_id, n_positions, max_rep) and
    * the gram counts `lpcounts` — one def, both gates. */
  private def gramLoopCtes: String =
    """lpt0 AS (SELECT doc_id,
      |    CASE WHEN doc_id % 31 = 0 THEN
      |      text || ' ' ||
      |      array_to_string(string_split(text,' ')[1:8], ' ') || ' ' ||
      |      array_to_string(string_split(text,' ')[1:8], ' ') || ' ' ||
      |      array_to_string(string_split(text,' ')[1:8], ' ')
      |    ELSE text END AS text
      |  FROM documents),
      |lpt1 AS (SELECT doc_id, string_split(text,' ') AS t FROM lpt0),
      |lpg AS (SELECT doc_id, array_to_string(t[i:i+3],' ') AS g
      |        FROM lpt1, UNNEST(range(1, len(t)-2)) AS u(i)
      |        WHERE len(t) >= 4),
      |lpcounts AS (SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS c
      |             FROM lpg GROUP BY 1, 2),
      |lptot AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_positions,
      |                 CAST(MAX(c) AS BIGINT) AS max_rep
      |          FROM lpcounts GROUP BY 1)""".stripMargin

  /** Shared q156/q198 CTE prefix: the shard assignment through `s`
    * (one def so the shard writer's gate and the homogeneity audit's
    * gate cannot desynchronize about membership). */
  private def shardCtes: String =
    """base AS (
      |  SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |    CAST(concat('0x', substr(md5(
      |      CAST(doc_id AS VARCHAR) || ':shard'), 1, 8)) AS BIGINT)
      |      AS hkey
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, n_tokens, hkey,
      |    SUM(n_tokens) OVER (ORDER BY hkey, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    SUM(n_tokens) OVER () AS tot
      |  FROM base),
      |s AS (
      |  SELECT doc_id, n_tokens, hkey,
      |    LEAST(CAST(FLOOR((cum - n_tokens) * 8.0 / tot) AS BIGINT),
      |      7) AS shard
      |  FROM c)""".stripMargin

  /** Shared q184/q187 CTE prefix: the deterministic md5 shuffle order
    * and the running token sum (one def so the doc-axis and
    * sequence-axis gates cannot desynchronize). */
  private def packingCtes: String =
    """base AS (
      |  SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |    CAST(concat('0x', substr(md5(
      |      CAST(doc_id AS VARCHAR) || ':shard'), 1, 8)) AS BIGINT)
      |      AS hkey
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, n_tokens,
      |    CAST(SUM(n_tokens) OVER (ORDER BY hkey, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS BIGINT) AS cum
      |  FROM base)""".stripMargin

  /** Shared q26/q189 CTE prefix: exact rounded-cosine pair scores for
    * the bounded query panel (one def so the ranked-frame gates cannot
    * desynchronize). */
  private def cosinePairCtes: String =
    """v AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e FROM embeddings),
      |q AS (SELECT vec_id AS qid, e AS qv FROM v WHERE vec_id < 10),
      |c AS (SELECT vec_id AS cid, e AS cv FROM v),
      |scored AS (
      |  SELECT qid, cid,
      |    ROUND(list_sum(list_transform(range(1,65), i -> qv[i]*cv[i])) /
      |      (sqrt(list_sum(list_transform(range(1,65), i -> qv[i]*qv[i]))) *
      |       sqrt(list_sum(list_transform(range(1,65), i -> cv[i]*cv[i])))), 6) AS cos
      |  FROM q JOIN c ON qid <> cid)""".stripMargin

  /** Shared q162/q189 CTE prefix: the SQ8 integer-exact quantized pair
    * scores (same desync rationale). */
  private def sq8PairCtes: String =
    """s AS (
      |  SELECT vec_id,
      |    GREATEST(list_max([abs(x::DOUBLE) for x in embedding]),
      |      1e-12) / 127.0 AS sc
      |  FROM embeddings),
      |codes AS (
      |  SELECT e.vec_id,
      |    [CAST(floor(x::DOUBLE / s.sc + 0.5) AS BIGINT)
      |     for x in e.embedding] AS qc
      |  FROM embeddings e JOIN s ON e.vec_id = s.vec_id),
      |base AS (
      |  SELECT vec_id, qc, list_sum([c*c for c in qc]) AS d2
      |  FROM codes WHERE list_sum([c*c for c in qc]) > 0),
      |sq8pairs AS (
      |  SELECT q.vec_id AS qid, c.vec_id AS cid,
      |    ROUND(list_sum([q.qc[i] * c.qc[i]
      |        for i in range(1, len(q.qc)+1)])::DOUBLE /
      |      (sqrt(q.d2::DOUBLE) * sqrt(c.d2::DOUBLE)), 6) AS cos_q
      |  FROM base q JOIN base c
      |    ON q.vec_id < 10 AND q.vec_id <> c.vec_id)""".stripMargin

  /** The q127 temperature-quota chain over an arbitrary (lang,
    * source, …) table, CTE names prefixed — q127 runs it over
    * `documents`, q199 over both `documents` and the dedup-kept
    * frame (one def, three gates, no desync). */
  private def quotaCtesOver(src: String, p: String): String =
    s"""${p}s AS (
       |  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |         CAST(ROUND(1000000 * sqrt(COUNT(*))) AS BIGINT) AS w
       |  FROM $src GROUP BY lang, source),
       |${p}t AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM ${p}s),
       |${p}b AS (SELECT ${p}s.*, ${p}t.tw,
       |             CAST((100000 * w) // tw AS BIGINT) AS base,
       |             CAST((100000 * w) % tw AS BIGINT) AS rem
       |      FROM ${p}s, ${p}t),
       |${p}r AS (SELECT *, CAST(ROW_NUMBER() OVER
       |        (ORDER BY rem DESC, lang, source) AS BIGINT) AS rk
       |      FROM ${p}b),
       |${p}g AS (SELECT CAST(100000 - SUM(base) AS BIGINT) AS leftover
       |      FROM ${p}b),
       |${p}q AS (SELECT lang, source, n_docs,
       |        CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
       |             AS BIGINT) AS quota
       |      FROM ${p}r, ${p}g)""".stripMargin

  private def componentsOracle: String =
    s"""WITH RECURSIVE $minhashCtes,
       |pairs AS (SELECT doc_i, doc_j FROM est WHERE est_jac >= 0.5),
       |und(a, b) AS (SELECT doc_i, doc_j FROM pairs
       |              UNION SELECT doc_j, doc_i FROM pairs),
       |reach(a, b) AS (
       |  SELECT a, b FROM und
       |  UNION
       |  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a)
       |SELECT a AS doc_id, LEAST(a, MIN(b)) AS component
       |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin

  /** q85 oracle: q42's components + per-cluster argmax(n_chars, tie
    * min doc_id) and cluster sizes. */
  private def canonicalOracle: String =
    s"""WITH RECURSIVE $minhashCtes,
       |pairs AS (SELECT doc_i, doc_j FROM est WHERE est_jac >= 0.5),
       |und(a, b) AS (SELECT doc_i, doc_j FROM pairs
       |              UNION SELECT doc_j, doc_i FROM pairs),
       |reach(a, b) AS (
       |  SELECT a, b FROM und
       |  UNION
       |  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
       |comp AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS component
       |         FROM reach GROUP BY a),
       |cl AS (SELECT c.component, c.doc_id, d.n_chars
       |       FROM comp c JOIN documents d ON d.doc_id = c.doc_id),
       |ranked AS (SELECT component, doc_id,
       |             ROW_NUMBER() OVER (PARTITION BY component
       |               ORDER BY n_chars DESC, doc_id) AS rk
       |           FROM cl),
       |sizes AS (SELECT component, COUNT(*) AS n_docs,
       |                 MAX(n_chars) AS max_chars
       |          FROM cl GROUP BY component)
       |SELECT s.component, s.n_docs, r.doc_id AS canonical_doc, s.max_chars
       |FROM sizes s JOIN ranked r ON r.component = s.component AND r.rk = 1
       |ORDER BY s.component""".stripMargin

  private def simhashOracle: String = {
    val high = "('8','9','a','b','c','d','e','f')"
    val sums = (0 until 32).map(b =>
      s"SUM(CASE WHEN substr(h,${b + 1},1) IN $high THEN 1 ELSE -1 END) AS s$b")
      .mkString(", ")
    val fp = (0 until 32)
      .map(b => s"(CASE WHEN s$b>0 THEN ${1L << b} ELSE 0 END)")
      .mkString(" + ")
    s"""WITH tok AS (SELECT doc_id, md5(unnest(string_split(text,' '))) AS h FROM documents),
       |sums AS (SELECT doc_id, $sums FROM tok GROUP BY doc_id)
       |SELECT doc_id, CAST($fp AS BIGINT) AS simhash FROM sums
       |ORDER BY doc_id""".stripMargin
  }


  /** Shared CTE chain of the q177/q183 oracles: the FULL composed
    * refresh replay — q150 enrichment + scrub, keep-first exact
    * dedup, the q170 minhash chain over corpus ∪ exact survivors
    * with pair-existence drops, ending at `near_kept` (see the
    * q177 entry for the stage-by-stage rationale). One text, two
    * gates — a one-sided edit cannot desynchronize q177 and q183. */
  private def refreshKeptCtes: String =
    ("""WITH nn AS (SELECT COUNT(*) AS n FROM documents),
        |enriched AS (
        |  SELECT doc_id, lang, source,
        |    text ||
        |    CASE WHEN doc_id % 3 = 0 THEN ' contact user' || doc_id ||
        |      '@example' || (doc_id % 7) || '.com' ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0 THEN ' call 555-' ||
        |      lpad(CAST((doc_id * 7919) % 1000 AS VARCHAR), 3, '0') ||
        |      '-' ||
        |      lpad(CAST((doc_id * 104729) % 10000 AS VARCHAR), 4, '0')
        |      ELSE '' END ||
        |    CASE WHEN doc_id % 7 = 0 THEN ' from 10.' || (doc_id % 256)
        |      || '.0.' || ((doc_id * 31) % 256) ELSE '' END AS raw
        |  FROM documents),
        |scrubbed AS (
        |  SELECT doc_id, lang, source,
        |    CAST(len(regexp_extract_all(raw,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |      AS BIGINT) AS n_email,
        |    CAST(len(regexp_extract_all(raw,
        |      '(\+[0-9]{1,2} )?(\([0-9]{3}\) |\b[0-9]{3}[.-])[0-9]{3}[.-][0-9]{4}\b'))
        |      AS BIGINT) AS n_phone,
        |    CAST(len(regexp_extract_all(raw,
        |      '\b((25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9][0-9]|[0-9])\.){3}(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9][0-9]|[0-9])\b'))
        |      AS BIGINT) AS n_ip,
        |    regexp_replace(regexp_replace(regexp_replace(raw,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |      '<EMAIL>', 'g'),
        |      '(\+[0-9]{1,2} )?(\([0-9]{3}\) |\b[0-9]{3}[.-])[0-9]{3}[.-][0-9]{4}\b',
        |      '<PHONE>', 'g'),
        |      '\b((25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9][0-9]|[0-9])\.){3}(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9][0-9]|[0-9])\b',
        |      '<IP>', 'g') AS st
        |  FROM enriched),
        |cuts AS (SELECT n*6//10 AS c1 FROM nn),
        |corpus_keys AS (
        |  SELECT DISTINCT
        |    md5(array_to_string(string_split(st, ' ')[1:5], ' ')) AS k
        |  FROM scrubbed, cuts WHERE doc_id < c1),
        |batch AS (
        |  SELECT s.*,
        |    md5(array_to_string(string_split(st, ' ')[1:5], ' ')) AS k
        |  FROM scrubbed s, cuts WHERE doc_id >= c1),
        |newdocs AS (
        |  SELECT b.* FROM batch b
        |  WHERE NOT EXISTS (SELECT 1 FROM corpus_keys c WHERE c.k = b.k)),
        |exact_kept AS (
        |  SELECT * FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY k
        |      ORDER BY doc_id) AS rn
        |    FROM newdocs) WHERE rn = 1),
        |pool AS (
        |  SELECT doc_id, st AS text FROM scrubbed, cuts WHERE doc_id < c1
        |  UNION ALL SELECT doc_id, st AS text FROM exact_kept),
        |""".stripMargin + minhashCtesOver("pool") + """,
        |dropped AS (
        |  SELECT DISTINCT doc_j AS doc_id FROM est WHERE est_jac >= 0.5),
        |near_kept AS (
        |  SELECT e.* FROM exact_kept e
        |  WHERE NOT EXISTS (SELECT 1 FROM dropped d
        |                    WHERE d.doc_id = e.doc_id))""".stripMargin)
  def oracleSql: Map[String, String] = Map(
    "q01_scan_filter" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, ROUND(l_extendedprice, 2) AS price
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00' AND l_quantity > 45
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q02_agg" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
        |       ROUND(SUM(l_quantity), 2) AS sum_qty,
        |       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |       ROUND(AVG(l_discount), 4) AS avg_disc
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q03_groupby_having" ->
      """SELECT event_type AS site, user_id, ROUND(SUM(value), 2) AS pageviews
        |FROM events
        |GROUP BY event_type, user_id
        |HAVING SUM(value) > 50
        |ORDER BY site, user_id""".stripMargin,
    "q04_join" ->
      """SELECT o.o_orderkey, c.c_name, ROUND(o.o_totalprice, 2) AS total
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |ORDER BY o.o_orderkey""".stripMargin,
    "q05_multijoin" ->
      """SELECT n.n_name, COUNT(*) AS orders_cnt,
        |       ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
        |FROM lineitem l
        |JOIN orders o   ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey  = c.c_custkey
        |JOIN nation n   ON c.c_nationkey = n.n_nationkey
        |JOIN region r   ON n.n_regionkey = r.r_regionkey
        |WHERE r.r_name = 'ASIA'
        |GROUP BY n.n_name
        |ORDER BY n.n_name""".stripMargin,
    "q06_outer_chain" ->
      """WITH clicks AS (SELECT user_id, ROUND(SUM(value),2) AS click_v FROM events WHERE event_type='click' GROUP BY user_id),
        |     views  AS (SELECT user_id, ROUND(SUM(value),2) AS view_v  FROM events WHERE event_type='view'  GROUP BY user_id),
        |     buys   AS (SELECT user_id, ROUND(SUM(value),2) AS buy_v   FROM events WHERE event_type='purchase' GROUP BY user_id)
        |SELECT u.user_id,
        |       COALESCE(click_v, 0.0) AS click_v,
        |       COALESCE(view_v, 0.0)  AS view_v,
        |       COALESCE(buy_v, 0.0)   AS buy_v
        |FROM clicks u
        |FULL OUTER JOIN views USING (user_id)
        |FULL OUTER JOIN buys  USING (user_id)
        |ORDER BY user_id""".stripMargin,
    "q07_window_rank" ->
      """SELECT event_type, event_id,
        |       ROUND(CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS DOUBLE)
        |             / COUNT(*) OVER (PARTITION BY event_type), 6) AS rank_norm
        |FROM events
        |WHERE user_id < 50
        |ORDER BY event_type, event_id""".stripMargin,
    "q08_pivot" ->
      """SELECT user_id,
        |       ROUND(SUM(CASE WHEN event_type='click'    THEN value ELSE 0.0 END), 2) AS pageviews_click,
        |       MAX(CASE WHEN event_type='click'    THEN 1.0 ELSE 0.0 END) AS exists_click,
        |       ROUND(SUM(CASE WHEN event_type='view'     THEN value ELSE 0.0 END), 2) AS pageviews_view,
        |       MAX(CASE WHEN event_type='view'     THEN 1.0 ELSE 0.0 END) AS exists_view,
        |       ROUND(SUM(CASE WHEN event_type='purchase' THEN value ELSE 0.0 END), 2) AS pageviews_purchase,
        |       MAX(CASE WHEN event_type='purchase' THEN 1.0 ELSE 0.0 END) AS exists_purchase
        |FROM events
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,
    "q09_distinct" ->
      "SELECT DISTINCT event_type FROM events ORDER BY event_type",
    "q10_strings" ->
      """SELECT p_partkey,
        |       UPPER(p_brand) AS brand_u,
        |       REPLACE(p_name, ' ', '_') AS name_us,
        |       'Q' || CAST(p_partkey AS VARCHAR) AS qid,
        |       SUBSTR(p_type, 1, 5) AS type5,
        |       LENGTH(p_name) AS name_len
        |FROM part
        |WHERE p_type LIKE '%ARD'
        |ORDER BY p_partkey""".stripMargin,
    "q11_intersect" ->
      """SELECT c_nationkey AS k FROM customer
        |INTERSECT
        |SELECT s_nationkey AS k FROM supplier
        |ORDER BY k""".stripMargin,
    "q11b_except" ->
      """SELECT c_custkey AS k FROM customer WHERE c_acctbal > 5000
        |EXCEPT
        |SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
        |ORDER BY k""".stripMargin,
    "q12_topk" ->
      """SELECT o_orderkey, ROUND(o_totalprice, 2) AS total
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 10""".stripMargin,
    "q13_dates" ->
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
        |       COUNT(*) AS n,
        |       ROUND(SUM(value), 2) AS v
        |FROM events
        |WHERE EXTRACT(YEAR FROM ts) = 2024 AND EXTRACT(MONTH FROM ts) = 1
        |GROUP BY CAST(date_trunc('day', ts) AS DATE)
        |ORDER BY d""".stripMargin,
    "q14_tumbling" ->
      """SELECT date_trunc('hour', ts) AS w, event_type, COUNT(*) AS n
        |FROM events
        |GROUP BY date_trunc('hour', ts), event_type
        |ORDER BY w, event_type""".stripMargin,
    "q15_sessionize" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id,
        |         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |                   > INTERVAL 30 MINUTE
        |              THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |)
        |SELECT user_id, CAST(1 + SUM(new_sess) AS BIGINT) AS sessions, COUNT(*) AS events
        |FROM flagged
        |GROUP BY user_id
        |HAVING COUNT(*) >= 5
        |ORDER BY user_id""".stripMargin,
    "q16_semi" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin,
    "q16b_anti" ->
      """SELECT COUNT(*) AS cnt FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""".stripMargin,
    "q17_dedup_exact" ->
      """SELECT md5(text) AS h, COUNT(*) AS n, MIN(doc_id) AS keeper
        |FROM documents
        |GROUP BY md5(text)
        |HAVING COUNT(*) > 1
        |ORDER BY h""".stripMargin,
    "q17b_dedup_prefix" ->
      """SELECT md5(array_to_string(string_split(text,' ')[1:5],' ')) AS h,
        |       COUNT(*) AS n, MIN(doc_id) AS keeper
        |FROM documents
        |GROUP BY 1
        |HAVING COUNT(*) > 1
        |ORDER BY h""".stripMargin,
    // BPE pair: deterministic integer state, replayed by the unrolled
    // 40-stage trainer/encoder CTE chains (see bpeMergesOracle)
    "ml_bpe_merges" -> bpeMergesOracle,
    "ml_bpe_encode" -> bpeEncodeOracle,
    "q204_tokenizer_fertility" -> bpeFertilityOracle,
    "q231_merge_utilization" -> bpeUtilizationOracle,
    "q232_markov_attribution" -> markovOracle,
    // q233: the oracle replays the two-prime planting and decides
    // membership by FULL-SCAN exact integer d² — the engine must
    // reach the same rows through its pruned cell join
    "q233_geo_radius" ->
      """WITH pk AS (SELECT CAST(c_custkey AS BIGINT) AS c_custkey,
        |    CASE WHEN CAST(c_custkey AS BIGINT) % 50 = 1
        |      THEN CAST(c_custkey AS BIGINT) + 1
        |      ELSE CAST(c_custkey AS BIGINT) END AS ek,
        |    CASE WHEN CAST(c_custkey AS BIGINT) % 50 = 1 THEN 1 ELSE 0
        |      END AS tw
        |  FROM customer),
        |pts AS (SELECT c_custkey,
        |    CAST(concat('0x', substr(md5(CAST(ek AS VARCHAR)), 1, 8))
        |      AS BIGINT) % 10000 + tw AS x,
        |    CAST(concat('0x', substr(md5(CAST(ek AS VARCHAR)), 9, 8))
        |      AS BIGINT) % 10000 AS y
        |  FROM pk),
        |qs AS (SELECT CAST(i AS BIGINT) AS qid,
        |    (CAST(i AS BIGINT) * 2741 + 1234) % 10000 AS qx,
        |    (CAST(i AS BIGINT) * 6151 + 4321) % 10000 AS qy
        |  FROM range(0, 5) t(i)),
        |sc AS (SELECT q.qid, p.c_custkey,
        |    (p.x - q.qx)*(p.x - q.qx) + (p.y - q.qy)*(p.y - q.qy) AS d2
        |  FROM pts p, qs q
        |  WHERE (p.x - q.qx)*(p.x - q.qx) + (p.y - q.qy)*(p.y - q.qy)
        |    <= 422500),
        |ag AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_within,
        |    CAST(MIN(d2) AS BIGINT) AS min_d2,
        |    CAST(MIN(d2 * 10000000000 + c_custkey) % 10000000000
        |      AS BIGINT) AS nearest_custkey
        |  FROM sc GROUP BY qid)
        |SELECT q.qid, q.qx, q.qy,
        |  CAST(COALESCE(a.n_within, 0) AS BIGINT) AS n_within,
        |  a.min_d2, a.nearest_custkey
        |FROM qs q LEFT JOIN ag a USING (qid) ORDER BY q.qid""".stripMargin,
    // q234: the oracle replays the same grid equi-join (a DuckDB
    // full n² nested loop would not finish at sf1) — cells, ±1
    // replication, a<b once-per-pair, exact integer d²
    "q234_geo_selfjoin" ->
      """WITH pk AS (SELECT CAST(c_custkey AS BIGINT) AS c_custkey,
        |    CASE WHEN CAST(c_custkey AS BIGINT) % 50 = 1
        |      THEN CAST(c_custkey AS BIGINT) + 1
        |      ELSE CAST(c_custkey AS BIGINT) END AS ek,
        |    CASE WHEN CAST(c_custkey AS BIGINT) % 50 = 1 THEN 1 ELSE 0
        |      END AS tw
        |  FROM customer),
        |pts AS (SELECT c_custkey,
        |    CAST(concat('0x', substr(md5(CAST(ek AS VARCHAR)), 1, 8))
        |      AS BIGINT) % 10000 + tw AS x,
        |    CAST(concat('0x', substr(md5(CAST(ek AS VARCHAR)), 9, 8))
        |      AS BIGINT) % 10000 AS y
        |  FROM pk),
        |cells AS (SELECT c_custkey, x, y, x // 100 AS cx, y // 100 AS cy
        |  FROM pts),
        |offs AS (SELECT a.dx, b.dy
        |  FROM (SELECT unnest([-1, 0, 1]) AS dx) a,
        |       (SELECT unnest([-1, 0, 1]) AS dy) b),
        |repl AS (SELECT c.c_custkey AS a_custkey, c.x AS ax, c.y AS ay,
        |    c.cx + o.dx AS bx, c.cy + o.dy AS by
        |  FROM cells c, offs o),
        |pr AS (SELECT r.a_custkey, c.c_custkey AS b_custkey,
        |    (r.ax - c.x)*(r.ax - c.x) + (r.ay - c.y)*(r.ay - c.y) AS d2
        |  FROM repl r JOIN cells c ON r.bx = c.cx AND r.by = c.cy
        |  WHERE r.a_custkey < c.c_custkey)
        |SELECT a_custkey, b_custkey, CAST(d2 AS BIGINT) AS d2
        |FROM pr WHERE d2 <= 625
        |ORDER BY a_custkey, b_custkey""".stripMargin,
    // q205: islands of consecutive matched gram positions vs the
    // deterministic benchmark excerpts (tokens 11..40 of %97 docs)
    "q205_contamination_spans" ->
      """WITH t0 AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |cpos AS (
        |  SELECT doc_id, i AS pos, array_to_string(t[i:i+3], ' ') AS g
        |  FROM t0, UNNEST(range(1, len(t)-2)) AS u(i)
        |  WHERE len(t) >= 4),
        |bt AS (SELECT doc_id AS bench_id, t[11:40] AS bt FROM t0
        |       WHERE doc_id % 97 = 0 AND len(t) >= 40),
        |bg AS (
        |  SELECT DISTINCT bench_id,
        |    unnest(list_distinct(
        |      [array_to_string(bt[i:i+3],' ') for i in range(1, len(bt)-2)])) AS g
        |  FROM bt),
        |hit AS (
        |  SELECT c.doc_id, b.bench_id, c.pos,
        |    c.pos - ROW_NUMBER() OVER (
        |      PARTITION BY c.doc_id, b.bench_id ORDER BY c.pos) AS island
        |  FROM cpos c JOIN bg b USING (g)),
        |runs AS (
        |  SELECT doc_id, bench_id, island, CAST(COUNT(*) AS BIGINT) AS run_len
        |  FROM hit GROUP BY 1, 2, 3)
        |SELECT doc_id, bench_id,
        |  CAST(SUM(run_len) AS BIGINT) AS shared_positions,
        |  CAST(MAX(run_len) AS BIGINT) AS max_run,
        |  CAST(MAX(run_len) + 3 AS BIGINT) AS max_span_tokens,
        |  CAST(CASE WHEN MAX(run_len) + 3 >= 16 THEN 1 ELSE 0 END
        |    AS BIGINT) AS flagged
        |FROM runs GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q206: the inverse packing lookup off the SAME prefix-sum chain
    // as q184/q187 (packingCtes — desync-safe), probe seq_id % 20
    "q206_seq_provenance" ->
      ("WITH " + packingCtes + ",\n" +
      """d AS (SELECT doc_id, n_tokens, cum,
        |        CAST(cum - n_tokens AS BIGINT) AS gs,
        |        CAST((cum - n_tokens) // 512 AS BIGINT) AS s0,
        |        CAST((cum - 1) // 512 AS BIGINT) AS e
        |      FROM c),
        |x AS (SELECT doc_id, cum, gs,
        |        unnest(generate_series(s0, e)) AS seq_id
        |      FROM d)
        |SELECT seq_id, doc_id,
        |  CAST(greatest(gs, seq_id*512) - seq_id*512 AS BIGINT) AS seq_off,
        |  CAST(greatest(gs, seq_id*512) - gs AS BIGINT) AS doc_off,
        |  CAST(least(cum, (seq_id+1)*512) - greatest(gs, seq_id*512)
        |    AS BIGINT) AS n_tok
        |FROM x WHERE seq_id % 20 = 0
        |ORDER BY seq_id, doc_id""".stripMargin),
    // q208: l-diversity over the q165 release, acctbal-band sensitive
    "q208_l_diversity" ->
      """WITH cls AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    CAST(FLOOR(c_acctbal / 2000.0) AS BIGINT) AS band,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM customer GROUP BY 1, 2, 3),
        |tot AS (
        |  SELECT c_nationkey, c_mktsegment, CAST(SUM(c) AS BIGINT) AS n
        |  FROM cls GROUP BY 1, 2)
        |SELECT cls.c_nationkey, cls.c_mktsegment,
        |  CAST(ANY_VALUE(n) AS BIGINT) AS n_rows,
        |  CAST(COUNT(*) AS BIGINT) AS l_distinct,
        |  ROUND(-SUM((CAST(c AS DOUBLE) / n) * log2(CAST(c AS DOUBLE) / n)),
        |    4) + 0.0 AS sens_entropy,
        |  CAST(CASE WHEN COUNT(*) < 3 THEN 1 ELSE 0 END AS BIGINT)
        |    AS below_l
        |FROM cls JOIN tot USING (c_nationkey, c_mktsegment)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q209: largest-remainder allocation then md5-ranked selection
    "q209_stratified_holdout" ->
      """WITH s AS (SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n
        |           FROM documents GROUP BY 1, 2),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS tot_n FROM s),
        |q0 AS (SELECT lang, source, n,
        |         CAST((100 * n) // tot_n AS BIGINT) AS base,
        |         CAST((100 * n) % tot_n AS BIGINT) AS rem
        |       FROM s, t),
        |k AS (SELECT CAST(100 - SUM(base) AS BIGINT) AS K FROM q0),
        |qr AS (SELECT *, ROW_NUMBER() OVER (
        |         ORDER BY rem DESC, lang, source) AS srank FROM q0),
        |quota AS (SELECT lang, source,
        |            CAST(base + CASE WHEN srank <= K THEN 1 ELSE 0 END
        |              AS BIGINT) AS quota
        |          FROM qr, k),
        |d AS (SELECT doc_id, lang, source,
        |        CAST(concat('0x', substr(md5(
        |          CAST(doc_id AS VARCHAR) || ':holdout'), 1, 8))
        |          AS BIGINT) AS h
        |      FROM documents),
        |r AS (SELECT doc_id, lang, source,
        |        ROW_NUMBER() OVER (PARTITION BY lang, source
        |          ORDER BY h, doc_id) AS rn
        |      FROM d)
        |SELECT r.doc_id, r.lang, r.source,
        |  CAST(rn AS BIGINT) AS stratum_rank,
        |  CAST(CASE WHEN rn <= quota THEN 1 ELSE 0 END AS BIGINT)
        |    AS holdout
        |FROM r JOIN quota USING (lang, source)
        |ORDER BY doc_id""".stripMargin,
    // q210: first-occurrence decile per gram, per-decile novelty
    "q210_gram_novelty" ->
      ("""WITH t0 AS (SELECT doc_id, string_split(text,' ') AS t
        |            FROM documents),
        |mx AS (SELECT CAST(MAX(doc_id) AS BIGINT) AS m FROM documents),
        |sh AS (SELECT doc_id, unnest($DUCKSH) AS g
        |       FROM t0 WHERE len(t) >= 3),
        |per AS (SELECT DISTINCT
        |          LEAST((doc_id * 10) // (m + 1), 9) AS decile, g
        |        FROM sh, mx),
        |firstd AS (SELECT g, CAST(MIN(decile) AS BIGINT) AS fd
        |           FROM per GROUP BY g)
        |SELECT CAST(p.decile AS BIGINT) AS decile,
        |  CAST(COUNT(*) AS BIGINT) AS distinct_grams,
        |  CAST(SUM(CASE WHEN f.fd = p.decile THEN 1 ELSE 0 END)
        |    AS BIGINT) AS new_grams,
        |  ROUND(CAST(SUM(CASE WHEN f.fd = p.decile THEN 1 ELSE 0 END)
        |      AS DOUBLE) / COUNT(*), 4) AS novelty
        |FROM per p JOIN firstd f USING (g)
        |GROUP BY 1 ORDER BY 1""".stripMargin
        .replace("$DUCKSH", duckShingles)),
    // q211: loop score over the planted-loop corpus (first 8 tokens
    // appended x3 for doc_id % 31); argmax gram = min among maximal;
    // the per-doc chain is the SHARED gramLoopCtes (q220 reuses it)
    "q211_gram_loops" ->
      (s"""WITH $gramLoopCtes
        |SELECT t.doc_id, t.n_positions, t.max_rep,
        |  MIN(c.g) AS loop_gram,
        |  ROUND(CAST(t.max_rep AS DOUBLE) / t.n_positions, 4) AS loop_frac,
        |  CAST(CASE WHEN t.max_rep >= 3 THEN 1 ELSE 0 END AS BIGINT)
        |    AS loop_flag
        |FROM lptot t JOIN lpcounts c
        |  ON t.doc_id = c.doc_id AND c.c = t.max_rep
        |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin),
    // q212: non-space character histogram → entropy + dominant-char
    // flag (exact cross-multiplication); planting replayed at % 29;
    // the per-doc chain is the SHARED charEntropyCtes (q220 reuses it)
    "q212_char_entropy" ->
      (s"""WITH $charEntropyCtes
        |SELECT doc_id, n_chars_x, n_distinct, max_rep, char_entropy,
        |  CAST(CASE WHEN max_rep * 4 >= n_chars_x THEN 1 ELSE 0 END
        |    AS BIGINT) AS repetitive_flag
        |FROM entv ORDER BY doc_id""".stripMargin),
    // q213: decode∘encode is the identity on the (already whitespace-
    // normalized) fixture text — the oracle states the invariant; the
    // engine earns it through the actual encode→decode passes
    "q213_bpe_roundtrip" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |  md5(text) AS decoded_md5,
        |  md5(text) AS orig_md5,
        |  CAST(1 AS BIGINT) AS roundtrip_ok
        |FROM documents ORDER BY doc_id""".stripMargin,
    // q214: the JSONL round trip restores every good line exactly and
    // routes the % 23 planted corrupt lines with recovered ids
    "q214_jsonl_roundtrip" ->
      """SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 23 = 0 THEN 1 ELSE 0 END AS BIGINT)
        |    AS corrupt,
        |  CASE WHEN doc_id % 23 = 0 THEN NULL ELSE lang END AS lang,
        |  CASE WHEN doc_id % 23 = 0 THEN NULL ELSE source END AS source,
        |  CASE WHEN doc_id % 23 = 0 THEN NULL
        |       ELSE CAST(n_chars AS BIGINT) END AS n_chars,
        |  CASE WHEN doc_id % 23 = 0 THEN NULL ELSE md5(text) END
        |    AS text_md5
        |FROM documents ORDER BY doc_id""".stripMargin,
    // q215: within-language rank by the integer quality proxy, bottom
    // decile flagged — all integer arithmetic
    "q215_lang_quality" ->
      """WITH d AS (SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    CAST((n_chars * 1000) // len(string_split(text, ' '))
        |      AS BIGINT) AS iscore
        |  FROM documents),
        |r AS (SELECT *,
        |        ROW_NUMBER() OVER (PARTITION BY lang
        |          ORDER BY iscore, doc_id) AS lang_rank,
        |        COUNT(*) OVER (PARTITION BY lang) AS n_lang
        |      FROM d)
        |SELECT doc_id, lang, n_tokens, iscore,
        |  CAST(lang_rank AS BIGINT) AS lang_rank,
        |  CAST(n_lang AS BIGINT) AS n_lang,
        |  CAST(CASE WHEN lang_rank * 10 <= n_lang + 9 THEN 1 ELSE 0 END
        |    AS BIGINT) AS low_decile
        |FROM r ORDER BY doc_id""".stripMargin,
    // q216: planting replayed on the three coprime keys; counts via
    // the length-difference idiom (chr(65533)=U+FFFD, chr(195)=Ã,
    // chr(7)=BEL; chr(169)/chr(168) complete the mojibake run)
    "q216_mojibake_audit" ->
      """WITH t0 AS (SELECT doc_id, text ||
        |    CASE WHEN doc_id % 37 = 0
        |      THEN ' ' || repeat(chr(65533), 5) ELSE '' END ||
        |    CASE WHEN doc_id % 41 = 0
        |      THEN ' ' || chr(195) || chr(169) || chr(195) || chr(168)
        |      ELSE '' END ||
        |    CASE WHEN doc_id % 43 = 0
        |      THEN ' ' || repeat(chr(7), 3) ELSE '' END AS text
        |  FROM documents),
        |m AS (SELECT doc_id,
        |    CAST(length(text) AS BIGINT) AS n_chars_p,
        |    CAST(length(text) - length(replace(text, chr(65533), ''))
        |      AS BIGINT) AS n_replacement,
        |    CAST(length(text) - length(replace(text, chr(195), ''))
        |      AS BIGINT) AS n_mojibake,
        |    CAST(length(text) - length(replace(text, chr(7), ''))
        |      AS BIGINT) AS n_control
        |  FROM t0)
        |SELECT doc_id, n_chars_p, n_replacement, n_mojibake, n_control,
        |  CAST(CASE WHEN n_replacement + n_mojibake + n_control > 0
        |    THEN 1 ELSE 0 END AS BIGINT) AS artifact_flag,
        |  ROUND(CAST(n_chars_p - n_replacement - n_mojibake - n_control
        |      AS DOUBLE) / n_chars_p, 4) AS clean_ratio
        |FROM m ORDER BY doc_id""".stripMargin,
    // q217: exhaustion horizons off the SHARED q127 quota chain
    "q217_data_budget" ->
      (s"""WITH ${quotaCtesOver("documents", "m")},
        |mtok AS (SELECT lang, source,
        |           CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
        |             AS n_tokens
        |         FROM documents GROUP BY 1, 2)
        |SELECT q.lang, q.source, q.n_docs, k.n_tokens, q.quota,
        |  CASE WHEN q.quota = 0 THEN NULL
        |       ELSE CAST(q.n_docs // q.quota AS BIGINT) END
        |    AS epochs_full,
        |  CAST(CASE WHEN q.quota > q.n_docs THEN 1 ELSE 0 END AS BIGINT)
        |    AS overdraw_flag
        |FROM mq q JOIN mtok k USING (lang, source)
        |ORDER BY 1, 2""".stripMargin),
    // q220: corr over the SHARED per-doc signal chains (charEntropyCtes
    // + gramLoopCtes + the q23 ratio expressions) — inputs identical to
    // the signals' own gates, 6 dp absorbs aggregation order (q59 class)
    "q220_signal_agreement" ->
      (s"""WITH $charEntropyCtes,
        |$gramLoopCtes,
        |qsig AS (SELECT doc_id,
        |    ROUND(CAST(n_chars AS DOUBLE)/len(string_split(text,' ')), 4)
        |      AS chars_per_token,
        |    ROUND(CAST(len(list_filter(string_split(text,' '),
        |        x -> x IN ('the','a','of','and'))) AS DOUBLE)
        |      / len(string_split(text,' ')), 4) AS stopword_ratio
        |  FROM documents),
        |lsig AS (SELECT doc_id,
        |    ROUND(CAST(max_rep AS DOUBLE)/n_positions, 4) AS loop_frac
        |  FROM lptot),
        |j AS (SELECT e.char_entropy, q.chars_per_token,
        |             q.stopword_ratio, l.loop_frac
        |      FROM entv e JOIN qsig q USING (doc_id)
        |                  JOIN lsig l USING (doc_id)),
        |cm AS (SELECT
        |  corr(char_entropy, chars_per_token) AS c1,
        |  corr(char_entropy, loop_frac) AS c2,
        |  corr(char_entropy, stopword_ratio) AS c3,
        |  corr(chars_per_token, loop_frac) AS c4,
        |  corr(chars_per_token, stopword_ratio) AS c5,
        |  corr(loop_frac, stopword_ratio) AS c6
        |FROM j)
        |SELECT 'char_entropy' AS x, 'chars_per_token' AS y,
        |       ROUND(c1, 6) AS r FROM cm
        |UNION ALL SELECT 'char_entropy', 'loop_frac', ROUND(c2, 6) FROM cm
        |UNION ALL SELECT 'char_entropy', 'stopword_ratio', ROUND(c3, 6)
        |  FROM cm
        |UNION ALL SELECT 'chars_per_token', 'loop_frac', ROUND(c4, 6)
        |  FROM cm
        |UNION ALL SELECT 'chars_per_token', 'stopword_ratio', ROUND(c5, 6)
        |  FROM cm
        |UNION ALL SELECT 'loop_frac', 'stopword_ratio', ROUND(c6, 6)
        |  FROM cm
        |ORDER BY x, y""".stripMargin),
    // q221: top-V vocab by (count desc, token), per-source OOV rates
    "q221_oov_rate" ->
      """WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS t
        |             FROM documents),
        |cnt AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n
        |        FROM tok WHERE t <> '' GROUP BY t),
        |v AS (SELECT t FROM (
        |        SELECT t, ROW_NUMBER() OVER (ORDER BY n DESC, t) AS rk
        |        FROM cnt) WHERE rk <= 1000),
        |tag AS (SELECT source, tok.t,
        |          CASE WHEN v.t IS NULL THEN 1 ELSE 0 END AS oov
        |        FROM tok LEFT JOIN v ON tok.t = v.t WHERE tok.t <> ''),
        |tokside AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |                   CAST(SUM(oov) AS BIGINT) AS oov_tokens
        |            FROM tag GROUP BY source),
        |typeside AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_types,
        |                    CAST(SUM(oov) AS BIGINT) AS oov_types
        |             FROM (SELECT source, t, MAX(oov) AS oov
        |                   FROM tag GROUP BY 1, 2)
        |             GROUP BY source)
        |SELECT s.source, s.n_tokens, s.oov_tokens, y.n_types,
        |  y.oov_types,
        |  ROUND(CAST(s.oov_tokens AS DOUBLE) / s.n_tokens, 4)
        |    AS oov_token_rate,
        |  ROUND(CAST(y.oov_types AS DOUBLE) / y.n_types, 4)
        |    AS oov_type_rate
        |FROM tokside s JOIN typeside y USING (source)
        |ORDER BY source""".stripMargin,
    // q222: q42's component closure + the SHARED charEntropyCtes —
    // integer-scaled entropy spread per cluster
    "q222_cluster_quality" ->
      (s"""WITH RECURSIVE $minhashCtes,
        |pairs AS (SELECT doc_i, doc_j FROM est WHERE est_jac >= 0.5),
        |und(a, b) AS (SELECT doc_i, doc_j FROM pairs
        |              UNION SELECT doc_j, doc_i FROM pairs),
        |reach(a, b) AS (
        |  SELECT a, b FROM und
        |  UNION
        |  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
        |comp AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS component
        |         FROM reach GROUP BY a),
        |$charEntropyCtes,
        |ei AS (SELECT doc_id,
        |         CAST(ROUND(char_entropy * 10000) AS BIGINT) AS ent_i
        |       FROM entv)
        |SELECT component, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(MIN(ent_i) AS BIGINT) AS min_ent_i,
        |  CAST(MAX(ent_i) AS BIGINT) AS max_ent_i,
        |  CAST(MAX(ent_i) - MIN(ent_i) AS BIGINT) AS spread_i,
        |  CAST(CASE WHEN MAX(ent_i) - MIN(ent_i) >= 5000
        |    THEN 1 ELSE 0 END AS BIGINT) AS divergent_flag
        |FROM comp JOIN ei USING (doc_id)
        |GROUP BY component ORDER BY component""".stripMargin),
    // q223: the q197 JSD fold over 64 fixed entropy buckets
    "q223_entropy_drift" ->
      (s"""WITH $charEntropyCtes,
        |ei AS (SELECT doc_id,
        |         CAST(ROUND(char_entropy * 10000) AS BIGINT) AS ent_i
        |       FROM entv),
        |ds AS (SELECT d.source, LEAST(e.ent_i // 1250, 63) AS bucket
        |       FROM ei e JOIN documents d USING (doc_id)),
        |per AS (SELECT source, bucket, CAST(COUNT(*) AS BIGINT) AS c
        |        FROM ds GROUP BY source, bucket),
        |st AS (SELECT source, CAST(SUM(c) AS BIGINT) AS tot
        |       FROM per GROUP BY source),
        |co AS (SELECT bucket, CAST(SUM(c) AS BIGINT) AS cc
        |       FROM per GROUP BY bucket),
        |ct AS (SELECT CAST(SUM(cc) AS BIGINT) AS ctot FROM co),
        |j AS (SELECT per.source,
        |        CAST(c AS DOUBLE) / tot AS p,
        |        CAST(cc AS DOUBLE) / ctot AS q
        |      FROM per JOIN st USING (source)
        |        JOIN co USING (bucket), ct)
        |SELECT j.source, st.tot AS n_docs,
        |  CAST(COUNT(*) AS BIGINT) AS n_buckets,
        |  ROUND(SUM(0.5 * p * log2(2 * p / (p + q))
        |          + 0.5 * q * log2(2 * q / (p + q)))
        |    + 0.5 * (1.0 - SUM(q)), 4) + 0.0 AS jsd_vs_corpus
        |FROM j JOIN st ON st.source = j.source
        |GROUP BY j.source, st.tot ORDER BY j.source""".stripMargin),
    // q224: the manifest replayed stage-by-stage over the planted
    // frame (minhashCtesOver runs the SHARED chain over mdocs; the
    // q17/q63/q95/q155 class CTEs mirror their own oracles verbatim)
    "q224_curation_manifest" ->
      (s"""WITH RECURSIVE mdocs AS (
        |  SELECT doc_id, text, lang, source, n_chars FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000000, text, lang, source, n_chars
        |  FROM documents WHERE doc_id % 17 = 0),
        |${minhashCtesOver("mdocs")},
        |prs AS (SELECT doc_i, doc_j FROM est WHERE est_jac >= 0.5),
        |und(a, b) AS (SELECT doc_i, doc_j FROM prs
        |              UNION SELECT doc_j, doc_i FROM prs),
        |reach(a, b) AS (
        |  SELECT a, b FROM und
        |  UNION
        |  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
        |comp AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS component
        |         FROM reach GROUP BY a),
        |cl AS (SELECT c.component, c.doc_id, d.n_chars
        |       FROM comp c JOIN mdocs d ON d.doc_id = c.doc_id),
        |rkd AS (SELECT component, doc_id,
        |          ROW_NUMBER() OVER (PARTITION BY component
        |            ORDER BY n_chars DESC, doc_id) AS rk
        |        FROM cl),
        |canon AS (SELECT component, doc_id AS canonical_doc
        |          FROM rkd WHERE rk = 1),
        |nd AS (SELECT c.doc_id FROM comp c JOIN canon USING (component)
        |       WHERE c.doc_id <> canon.canonical_doc),
        |bl AS (SELECT doc_id FROM mdocs
        |       WHERE list_min(list_intersect(
        |         regexp_split_to_array(lower(text), '[^\\p{L}\\p{N}]+'),
        |         ['dup'])) IS NOT NULL),
        |xk AS (SELECT md5(text) AS h, MIN(doc_id) AS keeper
        |       FROM mdocs GROUP BY 1),
        |xd AS (SELECT d.doc_id FROM mdocs d
        |       JOIN xk ON md5(d.text) = xk.h
        |       WHERE d.doc_id <> xk.keeper),
        |ct0 AS (SELECT doc_id, string_split(text, ' ') AS t FROM mdocs),
        |ctsh AS (SELECT doc_id, unnest(list_distinct(
        |           [array_to_string(t[i:i+3], ' ')
        |            for i in range(1, len(t)-2)])) AS g
        |         FROM ct0 WHERE len(t) >= 4),
        |ctp AS (SELECT c.doc_id FROM ctsh c JOIN ctsh b ON c.g = b.g
        |        WHERE b.doc_id % 97 = 0 AND c.doc_id % 97 <> 0
        |        GROUP BY c.doc_id, b.doc_id HAVING COUNT(*) >= 1),
        |ctd AS (SELECT DISTINCT doc_id FROM ctp),
        |qsc AS (SELECT doc_id, lang,
        |          CAST(len(list_filter(t, x -> x IN ('the','a','of','and')))
        |            AS DOUBLE) / len(t) AS sw
        |        FROM (SELECT doc_id, lang, string_split(text, ' ') AS t
        |              FROM mdocs)),
        |qth AS (SELECT lang, quantile_disc(sw, 0.75) AS p75
        |        FROM qsc GROUP BY lang),
        |qf AS (SELECT s.doc_id FROM qsc s JOIN qth USING (lang)
        |       WHERE s.sw >= qth.p75)
        |SELECT d.doc_id, d.lang, d.source,
        |  CASE WHEN bl.doc_id IS NOT NULL THEN 'blocklist'
        |       WHEN xd.doc_id IS NOT NULL THEN 'exact_dup'
        |       WHEN nd.doc_id IS NOT NULL THEN 'near_dup'
        |       WHEN d.doc_id % 97 = 0 THEN 'benchmark'
        |       WHEN ctd.doc_id IS NOT NULL THEN 'contaminated'
        |       WHEN qf.doc_id IS NOT NULL THEN 'quality'
        |       ELSE 'keep' END AS reason,
        |  CAST(CASE WHEN bl.doc_id IS NULL AND xd.doc_id IS NULL
        |    AND nd.doc_id IS NULL AND d.doc_id % 97 <> 0
        |    AND ctd.doc_id IS NULL AND qf.doc_id IS NULL
        |    THEN 1 ELSE 0 END AS BIGINT) AS kept
        |FROM mdocs d
        |LEFT JOIN bl ON bl.doc_id = d.doc_id
        |LEFT JOIN xd ON xd.doc_id = d.doc_id
        |LEFT JOIN nd ON nd.doc_id = d.doc_id
        |LEFT JOIN ctd ON ctd.doc_id = d.doc_id
        |LEFT JOIN qf ON qf.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin),
    // q218: the ORC round trip must reproduce the parquet aggregate
    "q218_orc_roundtrip" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
        |       ROUND(SUM(l_quantity), 2) AS sum_qty,
        |       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)
        |         AS revenue,
        |       ROUND(AVG(l_tax), 4) AS avg_tax
        |FROM lineitem WHERE l_quantity >= 25
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    // q225: smoothed TF-IDF top-3 — the idf is scaled ONCE to BIGINT
    // (idf6) and ranking compares the exact product tf·idf6, so the
    // only float is one ln per distinct df (the q59 class minimized)
    "q225_tfidf_keywords" ->
      """WITH tk AS (SELECT doc_id, unnest(string_split(text, ' '))
        |              AS token FROM documents),
        |tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
        |       FROM tk WHERE len(token) > 0 GROUP BY doc_id, token),
        |dfx AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df
        |        FROM tf GROUP BY token),
        |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
        |idf AS (SELECT token, df,
        |          CAST(round((ln((n_docs + 1.0) / (df + 1.0)) + 1.0)
        |            * 1000000.0) AS BIGINT) AS idf6
        |        FROM dfx, nd),
        |sc AS (SELECT t.doc_id, t.token, t.tf, i.df,
        |         t.tf * i.idf6 AS score_scaled
        |       FROM tf t JOIN idf i USING (token)),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
        |        ORDER BY score_scaled DESC, token) AS rk FROM sc)
        |SELECT doc_id, CAST(rk AS BIGINT) AS rk, token, tf, df,
        |  CAST(score_scaled AS BIGINT) AS score_scaled
        |FROM r WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,
    // q226: Zipf OLS over the top-100 per-source ranks; ranking keys
    // are exact integers, the six OLS sums round at 6 dp (q59 class)
    "q226_zipf_fit" ->
      """WITH tk AS (SELECT source, unnest(string_split(text, ' '))
        |              AS token FROM documents),
        |c AS (SELECT source, token, CAST(COUNT(*) AS BIGINT) AS n
        |      FROM tk WHERE len(token) > 0 GROUP BY source, token),
        |tot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_types,
        |          CAST(SUM(n) AS BIGINT) AS n_tokens
        |        FROM c GROUP BY source),
        |r AS (SELECT source, token, n, ROW_NUMBER() OVER
        |        (PARTITION BY source ORDER BY n DESC, token) AS rk
        |      FROM c),
        |p AS (SELECT source, ln(CAST(rk AS DOUBLE)) AS x,
        |        ln(CAST(n AS DOUBLE)) AS y
        |      FROM r WHERE rk <= 100),
        |s AS (SELECT source, CAST(COUNT(*) AS DOUBLE) AS m,
        |        SUM(x) AS sx, SUM(y) AS sy, SUM(x*x) AS sxx,
        |        SUM(x*y) AS sxy, SUM(y*y) AS syy
        |      FROM p GROUP BY source)
        |SELECT s.source, t.n_types, t.n_tokens,
        |  CAST(m AS BIGINT) AS m_points,
        |  CASE WHEN m*sxx - sx*sx > 0 THEN
        |    ROUND((m*sxy - sx*sy) / (m*sxx - sx*sx), 6) END AS zipf_slope,
        |  CASE WHEN m*sxx - sx*sx > 0 THEN
        |    ROUND((sy - (m*sxy - sx*sy) / (m*sxx - sx*sx) * sx) / m, 6)
        |  END AS intercept,
        |  CASE WHEN m*sxx - sx*sx > 0 AND m*syy - sy*sy > 0 THEN
        |    ROUND((m*sxy - sx*sy) * (m*sxy - sx*sy)
        |      / ((m*sxx - sx*sx) * (m*syy - sy*sy)), 6) END AS r2
        |FROM s JOIN tot t USING (source) ORDER BY s.source""".stripMargin,
    // q227: interpolated Kneser–Ney (D=0.75) trained on %7≠0, scored
    // on the held-out %7=0 docs — unseen counts are exact integers,
    // the mean ln P rounds at 4 dp (the q68 float class)
    "q227_kneser_ney" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
        |              FROM documents),
        |bg AS (SELECT doc_id,
        |         unnest([t[i] || ' ' || t[i+1] for i in range(1, len(t))])
        |           AS bg
        |       FROM toks WHERE len(t) >= 2),
        |cxy AS (SELECT string_split(bg, ' ')[1] AS x,
        |          string_split(bg, ' ')[2] AS y,
        |          CAST(COUNT(*) AS BIGINT) AS cxy
        |        FROM bg WHERE doc_id % 7 <> 0 GROUP BY 1, 2),
        |ctx AS (SELECT x, CAST(SUM(cxy) AS BIGINT) AS cx,
        |          CAST(COUNT(*) AS BIGINT) AS n1f
        |        FROM cxy GROUP BY x),
        |cont AS (SELECT y, CAST(COUNT(*) AS BIGINT) AS n1r
        |         FROM cxy GROUP BY y),
        |n1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n1all FROM cxy),
        |hb AS (SELECT doc_id, string_split(bg, ' ')[1] AS x,
        |         string_split(bg, ' ')[2] AS y
        |       FROM bg WHERE doc_id % 7 = 0),
        |sc AS (SELECT h.doc_id, c.cxy, k.cx, k.n1f,
        |         COALESCE(CAST(o.n1r AS DOUBLE) / n1all,
        |           1.0 / (n1all + 1)) AS pcont
        |       FROM hb h
        |       LEFT JOIN cxy c ON c.x = h.x AND c.y = h.y
        |       LEFT JOIN ctx k ON k.x = h.x
        |       LEFT JOIN cont o ON o.y = h.y
        |       CROSS JOIN n1),
        |pr AS (SELECT doc_id, cxy, cx,
        |         CASE WHEN cx IS NOT NULL THEN
        |           (CASE WHEN cxy IS NOT NULL
        |              THEN (cxy - 0.75) / cx ELSE 0.0 END)
        |             + 0.75 * n1f / cx * pcont
        |         ELSE pcont END AS p
        |       FROM sc)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |  CAST(SUM(CASE WHEN cx IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_unseen_ctx,
        |  CAST(SUM(CASE WHEN cxy IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_unseen_bigram,
        |  ROUND(AVG(ln(p)), 4) AS avg_logprob
        |FROM pr GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // q228: the oracle replays BOTH plantings (declared %4, signature
    // %5 with its header length); the engine must EARN sniffed from
    // the actual payload bytes — MultimodalSpec feeds it contradicting
    // content to prove the sniff is content-based
    "q228_media_sniff" ->
      """WITH m AS (SELECT doc_id, CAST(strlen(text) AS BIGINT) AS tb,
        |    CASE doc_id % 4 WHEN 0 THEN 'image/png'
        |      WHEN 1 THEN 'image/jpeg' WHEN 2 THEN 'audio/wav'
        |      ELSE 'application/octet-stream' END AS declared,
        |    CASE doc_id % 5 WHEN 0 THEN 'image/png'
        |      WHEN 1 THEN 'image/jpeg' WHEN 2 THEN 'audio/wav'
        |      ELSE 'application/octet-stream' END AS sniffed,
        |    CASE doc_id % 5 WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 12
        |      ELSE 0 END AS hb
        |  FROM documents)
        |SELECT doc_id, CAST(hb + tb AS BIGINT) AS n_bytes, declared,
        |  sniffed,
        |  CAST(CASE WHEN declared = sniffed THEN 1 ELSE 0 END AS BIGINT)
        |    AS match_flag
        |FROM m ORDER BY doc_id""".stripMargin,
    // q229: the SFT split/template/mask arithmetic replayed on DuckDB
    // list slices; the rendered example is md5-gated
    "q229_sft_pairs" ->
      """WITH t0 AS (SELECT doc_id, string_split(text, ' ') AS t
        |            FROM documents),
        |d AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n,
        |        CAST(LEAST(8, len(t) // 2) AS BIGINT) AS pl, t
        |      FROM t0 WHERE len(t) >= 2),
        |r AS (SELECT doc_id, n AS n_tokens, pl AS n_prompt,
        |        array_to_string(t[1:pl], ' ') AS prompt,
        |        array_to_string(t[pl+1:n], ' ') AS response
        |      FROM d)
        |SELECT doc_id, n_tokens, n_prompt,
        |  n_tokens - n_prompt AS n_response,
        |  n_tokens + 2 AS total_tokens,
        |  n_prompt + 2 AS n_masked,
        |  n_tokens - n_prompt AS n_trained,
        |  ROUND(CAST(n_tokens - n_prompt AS DOUBLE) / (n_tokens + 2), 4)
        |    AS loss_frac,
        |  md5('INST: ' || prompt || ' RESP: ' || response) AS example_md5
        |FROM r ORDER BY doc_id""".stripMargin,
    // q230: both arms replay q26's rounded-cosine rank discipline —
    // full 64 dims vs the first 16; overlap/top1 are exact integers
    "q230_matryoshka_recall" ->
      """WITH v AS (SELECT vec_id,
        |    [CAST(x AS DOUBLE) for x in embedding] AS e FROM embeddings),
        |q AS (SELECT vec_id AS qid, e AS qv FROM v WHERE vec_id < 50),
        |c AS (SELECT vec_id AS cid, e AS cv FROM v),
        |sf AS (SELECT qid, cid,
        |    CASE WHEN sqrt(list_sum(list_transform(range(1,65), i -> qv[i]*qv[i]))) > 0
        |          AND sqrt(list_sum(list_transform(range(1,65), i -> cv[i]*cv[i]))) > 0
        |    THEN ROUND(list_sum(list_transform(range(1,65), i -> qv[i]*cv[i])) /
        |      (sqrt(list_sum(list_transform(range(1,65), i -> qv[i]*qv[i]))) *
        |       sqrt(list_sum(list_transform(range(1,65), i -> cv[i]*cv[i])))),
        |      6) ELSE -1.0 END AS cos
        |  FROM q JOIN c ON qid <> cid),
        |st AS (SELECT qid, cid,
        |    CASE WHEN sqrt(list_sum(list_transform(range(1,17), i -> qv[i]*qv[i]))) > 0
        |          AND sqrt(list_sum(list_transform(range(1,17), i -> cv[i]*cv[i]))) > 0
        |    THEN ROUND(list_sum(list_transform(range(1,17), i -> qv[i]*cv[i])) /
        |      (sqrt(list_sum(list_transform(range(1,17), i -> qv[i]*qv[i]))) *
        |       sqrt(list_sum(list_transform(range(1,17), i -> cv[i]*cv[i])))),
        |      6) ELSE -1.0 END AS cos
        |  FROM q JOIN c ON qid <> cid),
        |rf AS (SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid
        |         ORDER BY cos DESC, cid) AS rk FROM sf),
        |rt AS (SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid
        |         ORDER BY cos DESC, cid) AS rk FROM st),
        |f5 AS (SELECT qid, cid, rk FROM rf WHERE rk <= 5),
        |t5 AS (SELECT qid, cid, rk FROM rt WHERE rk <= 5),
        |ov AS (SELECT f.qid, CAST(COUNT(*) AS BIGINT) AS overlap,
        |    CAST(SUM(CASE WHEN f.rk = 1 AND t.rk = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS top1
        |  FROM f5 f JOIN t5 t ON f.qid = t.qid AND f.cid = t.cid
        |  GROUP BY f.qid)
        |SELECT f.qid, CAST(COUNT(*) AS BIGINT) AS n_full,
        |  CAST(COALESCE(MAX(ov.overlap), 0) AS BIGINT) AS overlap,
        |  CAST(COALESCE(MAX(ov.top1), 0) AS BIGINT) AS top1_match,
        |  ROUND(CAST(COALESCE(MAX(ov.overlap), 0) AS DOUBLE) / COUNT(*), 4)
        |    AS recall_k
        |FROM f5 f LEFT JOIN ov ON ov.qid = f.qid
        |GROUP BY f.qid ORDER BY f.qid""".stripMargin,
    // q207: rare-but-cross-source grams (canary/secret-leak audit)
    "q207_canary_spans" ->
      """WITH t0 AS (SELECT doc_id, source, string_split(text,' ') AS t
        |            FROM documents),
        |sh AS (SELECT DISTINCT doc_id, source, g FROM (
        |  SELECT doc_id, source,
        |    unnest(list_distinct(
        |      [array_to_string(t[i:i+3],' ') for i in range(1, len(t)-2)])) AS g
        |  FROM t0 WHERE len(t) >= 4))
        |SELECT g AS gram, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |       CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |       CAST(min(doc_id) AS BIGINT) AS min_doc,
        |       CAST(max(doc_id) AS BIGINT) AS max_doc
        |FROM sh GROUP BY g
        |HAVING count(DISTINCT doc_id) <= 3 AND count(DISTINCT source) >= 2
        |ORDER BY gram""".stripMargin,
    "q19_ngram_jaccard" -> jaccardOracle,
    "q135_allpairs_jaccard" -> jaccardOracle,
    "q181_allpairs_realvocab" -> realVocabJaccardOracle,
    "q182_jaccard_naive_realvocab" -> realVocabJaccardOracle,
    // q184: pure integer functions of the q156 running token sum —
    // the engine's GlobalRank cumsum replayed by a plain window
    "q184_sequence_packing" ->
      ("WITH " + packingCtes + "\n" +
      """SELECT doc_id, n_tokens,
        |  (cum - n_tokens) // 512 AS start_seq,
        |  (cum - 1) // 512 AS end_seq,
        |  (cum - 1) // 512 - (cum - n_tokens) // 512 + 1 AS seqs_spanned,
        |  (cum - n_tokens) % 512 AS seq_offset
        |FROM c ORDER BY doc_id""".stripMargin),
    // q187: the same prefix-sum chain flipped to the sequence axis —
    // per-doc overlap rows via generate_series, one group-by
    "q187_pack_composition" ->
      ("WITH " + packingCtes + ",\n" +
      """d AS (SELECT doc_id, n_tokens,
        |        CAST(cum AS BIGINT) AS cum,
        |        CAST(cum - n_tokens AS BIGINT) AS gs,
        |        CAST((cum - n_tokens) // 512 AS BIGINT) AS s0,
        |        CAST((cum - 1) // 512 AS BIGINT) AS e
        |      FROM c),
        |x AS (SELECT doc_id, cum, gs, s0, e,
        |        unnest(generate_series(s0, e)) AS seq_id
        |      FROM d),
        |o AS (SELECT seq_id,
        |        least(cum, (seq_id + 1) * 512)
        |          - greatest(gs, seq_id * 512) AS t,
        |        CASE WHEN e > s0 THEN 1 ELSE 0 END AS split
        |      FROM x)
        |SELECT seq_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(t) AS BIGINT) AS n_tokens,
        |  CAST(SUM(split) AS BIGINT) AS n_split_docs,
        |  CASE WHEN SUM(t) > 1
        |    THEN ROUND(CAST(1 AS DOUBLE)
        |      - CAST(SUM(t * (t - 1)) AS DOUBLE)
        |        / (SUM(t) * (SUM(t) - 1)), 6)
        |    ELSE 0.0 END AS cross_pair_frac
        |FROM o GROUP BY seq_id ORDER BY seq_id""".stripMargin),
    // q186: IR metrics over the exact q26-contract ranked frame with
    // label-match binary relevance; IDCG via a k x k series self-join
    "q186_retrieval_eval" ->
      """WITH v AS (SELECT vec_id,
        |             [CAST(x AS DOUBLE) for x in embedding] AS e,
        |             CAST(label AS BIGINT) AS label FROM embeddings),
        |q AS (SELECT vec_id AS qid, e AS qv, label AS q_label
        |      FROM v WHERE vec_id < 10),
        |c AS (SELECT vec_id AS cid, e AS cv, label AS c_label FROM v),
        |scored AS (
        |  SELECT qid, q_label, cid, c_label,
        |    ROUND(list_sum(list_transform(range(1,65), i -> qv[i]*cv[i])) /
        |      (sqrt(list_sum(list_transform(range(1,65), i -> qv[i]*qv[i]))) *
        |       sqrt(list_sum(list_transform(range(1,65), i -> cv[i]*cv[i])))), 6) AS cos
        |  FROM q JOIN c ON qid <> cid),
        |rk AS (SELECT qid, q_label, c_label,
        |         ROW_NUMBER() OVER (PARTITION BY qid
        |           ORDER BY cos DESC, cid) AS rk
        |       FROM scored),
        |topk AS (SELECT * FROM rk WHERE rk <= 10),
        |lc AS (SELECT label, COUNT(*) AS n_label FROM v GROUP BY label),
        |pq AS (SELECT qid, q_label,
        |         SUM(CASE WHEN c_label = q_label THEN 1 ELSE 0 END) AS hits,
        |         MIN(CASE WHEN c_label = q_label THEN rk END) AS frk,
        |         SUM(CASE WHEN c_label = q_label
        |             THEN CAST(1 AS DOUBLE) / log2(rk + 1)
        |             ELSE 0 END) AS dcg
        |       FROM topk GROUP BY qid, q_label),
        |idcg AS (SELECT mm.m AS m,
        |           SUM(CAST(1 AS DOUBLE) / log2(ii.i + 1)) AS idcg
        |         FROM (SELECT unnest(generate_series(1, 10)) AS m) mm
        |         JOIN (SELECT unnest(generate_series(1, 10)) AS i) ii
        |           ON ii.i <= mm.m
        |         GROUP BY mm.m),
        |j AS (SELECT pq.qid, pq.hits, pq.frk, pq.dcg,
        |        CAST(lc.n_label - 1 AS BIGINT) AS n_rel
        |      FROM pq JOIN lc ON lc.label = pq.q_label)
        |SELECT j.qid, j.n_rel, CAST(j.hits AS BIGINT) AS hits,
        |  ROUND(CAST(j.hits AS DOUBLE) / 10, 6) AS precision_k,
        |  CASE WHEN j.n_rel > 0
        |    THEN ROUND(CAST(j.hits AS DOUBLE) / j.n_rel, 6)
        |    ELSE 0.0 END AS recall_k,
        |  CASE WHEN j.frk IS NOT NULL
        |    THEN ROUND(CAST(1 AS DOUBLE) / j.frk, 6)
        |    ELSE 0.0 END AS mrr,
        |  CASE WHEN idcg.idcg IS NOT NULL
        |    THEN ROUND(j.dcg / idcg.idcg, 6)
        |    ELSE 0.0 END AS ndcg_k
        |FROM j LEFT JOIN idcg ON idcg.m = least(j.n_rel, 10)
        |ORDER BY j.qid""".stripMargin,
    // q188: greedy token-budget curation replayed as a cumulative sum
    // over the exact composite order (score desc via the 2^32-scaled
    // long, md5 tiebreak); kept/phase are pure integer div functions
    // of (cum, budget)
    "q188_quality_budget" ->
      """WITH b0 AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    CAST(n_chars AS BIGINT) AS n_chars,
        |    CAST(concat('0x', substr(md5(
        |      CAST(doc_id AS VARCHAR) || ':curate'), 1, 8)) AS BIGINT)
        |      AS hkey
        |  FROM documents),
        |sc AS (
        |  SELECT doc_id, n_tokens, hkey,
        |    LEAST(n_chars * 1000 // n_tokens, 1048575) AS score
        |  FROM b0),
        |c AS (
        |  SELECT doc_id, n_tokens, score,
        |    SUM(n_tokens) OVER (
        |      ORDER BY (1048576 - score) * 4294967296 + hkey, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS cum_tokens
        |  FROM sc),
        |t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total FROM b0),
        |j AS (SELECT c.*, CAST(t.total * 2 // 5 AS BIGINT) AS budget
        |      FROM c, t)
        |SELECT doc_id, n_tokens, CAST(score AS BIGINT) AS score,
        |  CAST(cum_tokens AS BIGINT) AS cum_tokens,
        |  CAST(CASE WHEN cum_tokens <= budget THEN 1 ELSE 0 END
        |    AS BIGINT) AS kept,
        |  CAST(CASE WHEN cum_tokens <= budget
        |    THEN (cum_tokens - 1) * 3 // budget + 1 ELSE 0 END
        |    AS BIGINT) AS phase
        |FROM j ORDER BY doc_id""".stripMargin,
    // q189: RRF fusion of the q26-contract exact ranking and the
    // q162-contract SQ8 ranking, both to depth 20 — the two shared
    // CTE prefixes guarantee the fused oracle and the standalone
    // ranking oracles can never disagree about either input ranking
    "q189_rrf_fusion" ->
      ("WITH " + cosinePairCtes + ",\n" + sq8PairCtes + ",\n" +
      """rke AS (SELECT qid, cid,
        |          ROW_NUMBER() OVER (PARTITION BY qid
        |            ORDER BY cos DESC, cid) AS rk
        |        FROM scored),
        |e AS (SELECT qid, cid, rk FROM rke WHERE rk <= 20),
        |rks AS (SELECT qid, cid,
        |          ROW_NUMBER() OVER (PARTITION BY qid
        |            ORDER BY cos_q DESC, cid) AS rk
        |        FROM sq8pairs),
        |s2 AS (SELECT qid, cid, rk FROM rks WHERE rk <= 20),
        |f AS (SELECT COALESCE(e.qid, s2.qid) AS qid,
        |        COALESCE(e.cid, s2.cid) AS cid,
        |        e.rk AS rk_e, s2.rk AS rk_s
        |      FROM e FULL JOIN s2 ON e.qid = s2.qid AND e.cid = s2.cid),
        |g AS (SELECT qid, cid,
        |        ROUND(COALESCE(1.0 / (60 + rk_e), 0)
        |          + COALESCE(1.0 / (60 + rk_s), 0), 6) AS rrf,
        |        CAST(COALESCE(rk_e, 0) AS BIGINT) AS rk_exact,
        |        CAST(COALESCE(rk_s, 0) AS BIGINT) AS rk_sq8
        |      FROM f)
        |SELECT qid, cid, rrf, rk_exact, rk_sq8,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY qid
        |    ORDER BY rrf DESC, cid) AS BIGINT) AS frk
        |FROM g QUALIFY frk <= 10 ORDER BY qid, frk""".stripMargin),
    // q190: the q186-contract label-scored frame split into the
    // negative ranking and the per-query best positive
    "q190_hard_negatives" ->
      """WITH v AS (SELECT vec_id,
        |             [CAST(x AS DOUBLE) for x in embedding] AS e,
        |             CAST(label AS BIGINT) AS label FROM embeddings),
        |q AS (SELECT vec_id AS qid, e AS qv, label AS q_label
        |      FROM v WHERE vec_id < 10),
        |c AS (SELECT vec_id AS cid, e AS cv, label AS c_label FROM v),
        |scored AS (
        |  SELECT qid, q_label, cid, c_label,
        |    ROUND(list_sum(list_transform(range(1,65), i -> qv[i]*cv[i])) /
        |      (sqrt(list_sum(list_transform(range(1,65), i -> qv[i]*qv[i]))) *
        |       sqrt(list_sum(list_transform(range(1,65), i -> cv[i]*cv[i])))), 6) AS cos
        |  FROM q JOIN c ON qid <> cid),
        |bp AS (SELECT qid, MAX(cos) AS bp FROM scored
        |       WHERE c_label = q_label GROUP BY qid),
        |neg AS (SELECT qid, cid, cos,
        |          ROW_NUMBER() OVER (PARTITION BY qid
        |            ORDER BY cos DESC, cid) AS rk
        |        FROM scored WHERE c_label <> q_label)
        |SELECT n.qid, n.cid, n.cos, CAST(n.rk AS BIGINT) AS neg_rank,
        |  COALESCE(bp.bp, -1.0) AS best_pos_cos,
        |  ROUND(COALESCE(bp.bp, -1.0) - n.cos, 6) AS margin
        |FROM neg n LEFT JOIN bp ON bp.qid = n.qid
        |WHERE n.rk <= 10
        |ORDER BY n.qid, n.rk""".stripMargin,
    // q191: the one-pass dataset card — doc-keyed aggregate + the
    // distinct (stratum, token) vocabulary aggregate
    "q191_corpus_datasheet" ->
      """WITH base AS (
        |  SELECT lang, source, doc_id,
        |    CAST(n_chars AS BIGINT) AS n_chars,
        |    string_split(text, ' ') AS toks, md5(text) AS tkey
        |  FROM documents),
        |d AS (
        |  SELECT lang, source,
        |    CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(COUNT(DISTINCT tkey) AS BIGINT) AS n_distinct_texts,
        |    CAST(SUM(len(toks)) AS BIGINT) AS total_tokens,
        |    CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |    CAST(SUM(CASE WHEN len(toks) < 40 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_short
        |  FROM base GROUP BY lang, source),
        |vv AS (SELECT DISTINCT lang, source, tok FROM (
        |         SELECT lang, source, unnest(toks) AS tok FROM base)),
        |v2 AS (SELECT lang, source,
        |         CAST(COUNT(*) AS BIGINT) AS distinct_tokens
        |       FROM vv GROUP BY lang, source)
        |SELECT d.lang, d.source, d.n_docs,
        |  d.n_docs - d.n_distinct_texts AS n_dup_docs,
        |  d.total_tokens, d.total_chars, d.n_short, v2.distinct_tokens,
        |  ROUND(CAST(d.total_chars AS DOUBLE) / d.total_tokens, 4)
        |    AS chars_per_token,
        |  ROUND(CAST(v2.distinct_tokens AS DOUBLE) / d.total_tokens, 6)
        |    AS type_token_ratio
        |FROM d JOIN v2 ON d.lang = v2.lang AND d.source = v2.source
        |ORDER BY d.lang, d.source""".stripMargin,
    // q192: distinct (source, shingle) frame self-joined on the
    // shingle STRING (the engine joins 8-byte xxhash64 fingerprints —
    // a collision would surface as a hash mismatch here)
    "q192_corpus_containment" ->
      s"""WITH toks AS (SELECT source, string_split(text,' ') AS t
         |              FROM documents),
         |g AS (SELECT DISTINCT source, shingle FROM (
         |        SELECT source, unnest($duckShingles) AS shingle
         |        FROM toks)),
         |sz AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_grams
         |       FROM g GROUP BY source),
         |i AS (SELECT a.source AS source_a, b.source AS source_b,
         |        CAST(COUNT(*) AS BIGINT) AS n_inter
         |      FROM g a JOIN g b
         |        ON a.shingle = b.shingle AND a.source <> b.source
         |      GROUP BY 1, 2),
         |d AS (SELECT x.source AS source_a, x.n_grams AS n_a,
         |             y.source AS source_b
         |      FROM sz x JOIN sz y ON x.source <> y.source)
         |SELECT d.source_a, d.source_b,
         |  CAST(COALESCE(i.n_inter, 0) AS BIGINT) AS n_inter, d.n_a,
         |  ROUND(CAST(COALESCE(i.n_inter, 0) AS DOUBLE) / d.n_a, 6)
         |    AS containment
         |FROM d LEFT JOIN i
         |  ON i.source_a = d.source_a AND i.source_b = d.source_b
         |ORDER BY d.source_a, d.source_b""".stripMargin,
    // q193: the oracle joins on the shingle STRING (the engine on the
    // xxhash64 fingerprint) — a collision would surface as a mismatch
    "q193_memorization_risk" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text,' ') AS t
         |              FROM documents),
         |idx AS (SELECT DISTINCT doc_id, shingle FROM (
         |          SELECT doc_id, unnest($duckShingles) AS shingle
         |          FROM toks)),
         |dfreq AS (SELECT shingle, CAST(COUNT(*) AS BIGINT) AS df
         |          FROM idx GROUP BY shingle)
         |SELECT idx.doc_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_shingles,
         |  CAST(SUM(CASE WHEN df >= 4 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_frequent,
         |  CAST(MAX(df) AS BIGINT) AS max_df,
         |  ROUND(CAST(SUM(CASE WHEN df >= 4 THEN 1 ELSE 0 END)
         |             AS DOUBLE) / COUNT(*), 6) AS frequent_frac,
         |  CAST(CASE WHEN 2 * SUM(CASE WHEN df >= 4 THEN 1 ELSE 0 END)
         |            >= COUNT(*) THEN 1 ELSE 0 END AS INT) AS risk_flag
         |FROM idx JOIN dfreq USING (shingle)
         |GROUP BY idx.doc_id ORDER BY idx.doc_id""".stripMargin,
    // q200: q193's as-of form — dfs = committed 80% state + the
    // batch's own contribution, additive integers, exact replay
    "q200_ngram_ledger_risk" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text,' ') AS t
         |              FROM documents),
         |idx AS (SELECT DISTINCT doc_id, shingle FROM (
         |          SELECT doc_id, unnest($duckShingles) AS shingle
         |          FROM toks)),
         |prior AS (SELECT shingle, CAST(COUNT(*) AS BIGINT) AS dfp
         |          FROM idx WHERE doc_id % 10 < 8 GROUP BY shingle),
         |bidx AS (SELECT * FROM idx WHERE doc_id % 10 >= 8),
         |bdf AS (SELECT shingle, CAST(COUNT(*) AS BIGINT) AS dfb
         |        FROM bidx GROUP BY shingle)
         |SELECT bidx.doc_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_shingles,
         |  CAST(SUM(CASE WHEN COALESCE(dfp, 0) + dfb >= 4
         |           THEN 1 ELSE 0 END) AS BIGINT) AS n_frequent,
         |  CAST(MAX(COALESCE(dfp, 0) + dfb) AS BIGINT) AS max_df,
         |  ROUND(CAST(SUM(CASE WHEN COALESCE(dfp, 0) + dfb >= 4
         |             THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
         |    AS frequent_frac,
         |  CAST(CASE WHEN 2 * SUM(CASE WHEN COALESCE(dfp, 0) + dfb >= 4
         |            THEN 1 ELSE 0 END) >= COUNT(*)
         |       THEN 1 ELSE 0 END AS INT) AS risk_flag
         |FROM bidx JOIN bdf USING (shingle)
         |  LEFT JOIN prior USING (shingle)
         |GROUP BY bidx.doc_id ORDER BY bidx.doc_id""".stripMargin,
    "q201_frequency_spectrum" ->
      """WITH toks AS (SELECT source, unnest(string_split(text, ' '))
        |                AS tok FROM documents),
        |cnt AS (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
        |        FROM toks WHERE len(tok) > 0 GROUP BY source, tok),
        |sp AS (SELECT source, LEAST(c, 11) AS k,
        |         CAST(COUNT(*) AS BIGINT) AS n_types,
        |         CAST(SUM(c) AS BIGINT) AS n_tokens
        |       FROM cnt GROUP BY source, LEAST(c, 11)),
        |tot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS tt,
        |          CAST(SUM(c) AS BIGINT) AS tk
        |        FROM cnt GROUP BY source)
        |SELECT sp.source, CAST(k AS BIGINT) AS k, n_types, n_tokens,
        |  ROUND(CAST(n_types AS DOUBLE) / tt, 6) AS type_share,
        |  ROUND(CAST(n_tokens AS DOUBLE) / tk, 6) AS token_share
        |FROM sp JOIN tot USING (source)
        |ORDER BY sp.source, k""".stripMargin,
    "q202_duplication_profile" ->
      """WITH pool AS (
        |  SELECT text FROM documents
        |  UNION ALL SELECT text FROM documents WHERE doc_id % 17 = 0
        |  UNION ALL SELECT text FROM documents WHERE doc_id % 51 = 0),
        |g AS (
        |  SELECT md5(text) AS h, CAST(COUNT(*) AS BIGINT) AS d,
        |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
        |      AS g_tokens,
        |    CAST(MAX(len(string_split(text, ' '))) AS BIGINT)
        |      AS keeper_tokens
        |  FROM pool GROUP BY md5(text)),
        |p AS (SELECT LEAST(d, 6) AS db,
        |        CAST(COUNT(*) AS BIGINT) AS n_groups,
        |        CAST(SUM(d) AS BIGINT) AS n_docs,
        |        CAST(SUM(d - 1) AS BIGINT) AS n_dup_docs,
        |        CAST(SUM(g_tokens) AS BIGINT) AS n_tokens,
        |        CAST(SUM(g_tokens - keeper_tokens) AS BIGINT)
        |          AS dup_tokens
        |      FROM g GROUP BY LEAST(d, 6)),
        |t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS td,
        |        CAST(SUM(n_tokens) AS BIGINT) AS tt FROM p)
        |SELECT CAST(db AS BIGINT) AS db, n_groups, n_docs, n_dup_docs,
        |  n_tokens, dup_tokens,
        |  ROUND(CAST(n_docs AS DOUBLE) / td, 6) AS doc_share,
        |  ROUND(CAST(dup_tokens AS DOUBLE) / tt, 6) AS dup_token_share
        |FROM p, t ORDER BY db""".stripMargin,
    // q194: per-row norm math is IEEE-deterministic on both engines;
    // only the final sums are order-sensitive -> 4 dp (q71 convention)
    "q194_embedding_diagnostics" ->
      """WITH e AS (SELECT label,
        |             [CAST(x AS DOUBLE) for x in embedding] AS v
        |           FROM embeddings),
        |nn AS (SELECT label, v, nrm FROM (
        |         SELECT label, v,
        |           sqrt(list_sum([x * x for x in v])) AS nrm FROM e)
        |       WHERE nrm > 0),
        |ex AS (SELECT label, nrm,
        |         unnest([{'d': i, 'x': v[i]}
        |                 for i in range(1, len(v)+1)]) AS s
        |       FROM nn),
        |dims AS (SELECT label, s.d AS d, SUM(s.x) AS sv,
        |           SUM(s.x / nrm) AS su
        |         FROM ex GROUP BY label, s.d),
        |persum AS (SELECT label, SUM(sv * sv) AS sv2,
        |             SUM(su * su) AS su2
        |           FROM dims GROUP BY label),
        |scal AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
        |           AVG(nrm) AS mean_norm,
        |           STDDEV_SAMP(nrm) AS sd_norm
        |         FROM nn GROUP BY label)
        |SELECT scal.label, scal.n_vecs,
        |  ROUND(mean_norm, 4) AS mean_norm,
        |  CASE WHEN n_vecs > 1 THEN ROUND(sd_norm, 4) END AS sd_norm,
        |  ROUND(sqrt(sv2) / n_vecs, 4) AS centroid_norm,
        |  CASE WHEN n_vecs > 1 THEN
        |    ROUND((su2 - n_vecs) / (n_vecs * (n_vecs - 1.0)), 4) + 0.0
        |  END AS mean_cos
        |FROM scal JOIN persum USING (label)
        |ORDER BY label""".stripMargin,
    // q195: intersection terms + closed-form tail mass (tokens outside
    // the intersection contribute 0.5*p exactly); 4 dp, -0.0 folded
    "q195_unigram_jsd" ->
      """WITH toks AS (SELECT source, unnest(string_split(text, ' '))
        |                AS tok FROM documents),
        |cnt AS (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
        |        FROM toks WHERE len(tok) > 0 GROUP BY source, tok),
        |tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS tot
        |        FROM cnt GROUP BY source),
        |prob AS (SELECT cnt.source, tok,
        |           CAST(c AS DOUBLE) / CAST(tot AS DOUBLE) AS p
        |         FROM cnt JOIN tot USING (source)),
        |joint AS (
        |  SELECT a.source AS source_a, b.source AS source_b,
        |    CAST(COUNT(*) AS BIGINT) AS n_common,
        |    SUM(a.p) AS sp, SUM(b.p) AS sq,
        |    SUM(0.5 * a.p * log2(2 * a.p / (a.p + b.p))
        |      + 0.5 * b.p * log2(2 * b.p / (a.p + b.p))) AS core
        |  FROM prob a JOIN prob b
        |    ON a.tok = b.tok AND a.source < b.source
        |  GROUP BY 1, 2),
        |dims AS (SELECT x.source AS source_a, y.source AS source_b
        |         FROM tot x JOIN tot y ON x.source < y.source)
        |SELECT d.source_a, d.source_b,
        |  CAST(COALESCE(j.n_common, 0) AS BIGINT) AS n_common,
        |  ROUND(COALESCE(j.core, 0)
        |    + 0.5 * (1.0 - COALESCE(j.sp, 0))
        |    + 0.5 * (1.0 - COALESCE(j.sq, 0)), 4) + 0.0 AS jsd
        |FROM dims d LEFT JOIN joint j
        |  ON j.source_a = d.source_a AND j.source_b = d.source_b
        |ORDER BY d.source_a, d.source_b""".stripMargin,
    // q196: all-integer stride arithmetic — the oracle replays the
    // same scaled div, so the gate is exact (no float anywhere)
    "q196_curriculum_interleave" ->
      """WITH b AS (
        |  SELECT doc_id, source,
        |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),
        |         1, 8)) AS BIGINT) AS h
        |  FROM documents),
        |r AS (SELECT *, CAST(ROW_NUMBER() OVER (
        |        PARTITION BY source ORDER BY h, doc_id) AS BIGINT)
        |        AS rank_in_source FROM b),
        |sz AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_src
        |       FROM b GROUP BY source),
        |k AS (SELECT r.*, sz.n_src,
        |        CAST((2 * rank_in_source - 1) * 4294967296
        |             // (2 * n_src) AS BIGINT) AS stride_key
        |      FROM r JOIN sz USING (source))
        |SELECT doc_id, source, rank_in_source, n_src, stride_key,
        |  CAST(ROW_NUMBER() OVER (ORDER BY stride_key, h, doc_id)
        |       AS BIGINT) AS global_pos
        |FROM k ORDER BY doc_id""".stripMargin,
    // q197: exact integer bucket counts (portable md5 mod 4096);
    // the only floats are the final per-source sums -> 4 dp
    "q197_token_hist_drift" ->
      """WITH toks AS (SELECT source, unnest(string_split(text, ' '))
        |                AS tok FROM documents),
        |bk AS (SELECT source,
        |         CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT)
        |           % 4096 AS bucket
        |       FROM toks WHERE len(tok) > 0),
        |per AS (SELECT source, bucket, CAST(COUNT(*) AS BIGINT) AS c
        |        FROM bk GROUP BY source, bucket),
        |st AS (SELECT source, CAST(SUM(c) AS BIGINT) AS tot
        |       FROM per GROUP BY source),
        |co AS (SELECT bucket, CAST(SUM(c) AS BIGINT) AS cc
        |       FROM per GROUP BY bucket),
        |ct AS (SELECT CAST(SUM(cc) AS BIGINT) AS ctot FROM co),
        |j AS (SELECT per.source,
        |        CAST(c AS DOUBLE) / tot AS p,
        |        CAST(cc AS DOUBLE) / ctot AS q
        |      FROM per JOIN st USING (source)
        |        JOIN co USING (bucket), ct)
        |SELECT j.source, st.tot AS n_tokens,
        |  CAST(COUNT(*) AS BIGINT) AS n_buckets,
        |  ROUND(SUM(0.5 * p * log2(2 * p / (p + q))
        |          + 0.5 * q * log2(2 * q / (p + q)))
        |    + 0.5 * (1.0 - SUM(q)), 4) + 0.0 AS jsd_vs_corpus
        |FROM j JOIN st ON st.source = j.source
        |GROUP BY j.source, st.tot ORDER BY j.source""".stripMargin,
    // q185: the q149 quota chain at budget 1200 (> |corpus| per-stratum
    // — the epoch regime), repeat = quota div n + 1 for the first
    // quota mod n docs in the md5 order
    "q185_epoch_mixture" ->
      """WITH s AS (
        |  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |         CAST(ROUND(1000000 * sqrt(COUNT(*))) AS BIGINT) AS w
        |  FROM documents GROUP BY lang, source),
        |t AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM s),
        |b AS (SELECT s.*, t.tw,
        |             CAST((1200 * w) // tw AS BIGINT) AS base,
        |             CAST((1200 * w) % tw AS BIGINT) AS rem
        |      FROM s, t),
        |r AS (SELECT *, CAST(ROW_NUMBER() OVER
        |        (ORDER BY rem DESC, lang, source) AS BIGINT) AS rk FROM b),
        |g AS (SELECT CAST(1200 - SUM(base) AS BIGINT) AS leftover FROM b),
        |qd AS (SELECT lang, source, n_docs,
        |         base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS quota
        |       FROM r, g),
        |ranked AS (
        |  SELECT doc_id, lang, source,
        |    ROW_NUMBER() OVER (PARTITION BY lang, source
        |      ORDER BY CAST(concat('0x', substr(md5(
        |        CAST(doc_id AS VARCHAR) || ':epoch'), 1, 8)) AS BIGINT),
        |        doc_id) AS rn
        |  FROM documents)
        |SELECT ranked.doc_id, ranked.lang, ranked.source,
        |  quota // n_docs
        |    + CASE WHEN rn <= quota % n_docs THEN 1 ELSE 0 END
        |    AS n_repeats
        |FROM ranked JOIN qd
        |  ON qd.lang = ranked.lang AND qd.source = ranked.source
        |ORDER BY doc_id""".stripMargin,
    "q20_minhash_lsh" -> minhashOracle,
    "q42_near_dup_components" -> componentsOracle,
    "q43_containment" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
         |idx AS (SELECT doc_id, unnest($duckShingles) AS shingle FROM toks),
         |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM idx GROUP BY doc_id),
         |shared AS (SELECT a.doc_id AS doc_i, b.doc_id AS doc_j, COUNT(*) AS shared
         |           FROM idx a JOIN idx b
         |             ON a.shingle=b.shingle AND a.doc_id<b.doc_id
         |           GROUP BY 1, 2)
         |SELECT doc_i, doc_j,
         |       ROUND(CAST(shared AS DOUBLE)/si.n_sh, 4) AS cont_i,
         |       ROUND(CAST(shared AS DOUBLE)/sj.n_sh, 4) AS cont_j
         |FROM shared
         |JOIN sizes si ON si.doc_id = doc_i
         |JOIN sizes sj ON sj.doc_id = doc_j
         |WHERE ROUND(CAST(shared AS DOUBLE)/si.n_sh, 4) >= 0.8
         |   OR ROUND(CAST(shared AS DOUBLE)/sj.n_sh, 4) >= 0.8
         |ORDER BY doc_i, doc_j""".stripMargin,
    "q21_simhash" -> simhashOracle,
    // q170: the q20 pair chain (SHARED CTE text — one-sided edits
    // cannot desynchronize the gates) restricted to pairs touching the
    // batch half, folded to per-batch-doc partner stats
    "q170_incremental_neardup" ->
      s"""WITH $minhashCtes,
         |p AS (SELECT doc_i, doc_j, est_jac FROM est
         |      WHERE est_jac >= 0.5),
         |dirs AS (SELECT doc_i AS doc_id, doc_j AS partner, est_jac
         |         FROM p
         |         UNION ALL
         |         SELECT doc_j AS doc_id, doc_i AS partner, est_jac
         |         FROM p)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_partners,
         |       MIN(partner) AS first_partner,
         |       ROUND(MAX(est_jac), 4) AS best_est
         |FROM dirs WHERE doc_id % 10 >= 8
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q18_text_stats" ->
      """SELECT lang, COUNT(*) AS docs,
        |       ROUND(AVG(CAST(n_chars AS DOUBLE)), 2) AS avg_chars,
        |       CAST(MIN(LENGTH(text)) AS BIGINT) AS min_len,
        |       CAST(MAX(LENGTH(text)) AS BIGINT) AS max_len
        |FROM documents
        |GROUP BY lang
        |ORDER BY lang""".stripMargin,
    "q22_token_counts" ->
      """SELECT doc_id,
        |       CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
        |       CAST(len(list_distinct(string_split(text,' '))) AS BIGINT) AS n_unique
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    "q23_quality" ->
      """SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |       CAST(len(t) AS BIGINT) AS n_tokens,
        |       ROUND(CAST(n_chars AS DOUBLE)/len(t), 4) AS chars_per_token,
        |       ROUND(CAST(len(list_filter(t, x -> x IN ('the','a','of','and'))) AS DOUBLE)/len(t), 4) AS stopword_ratio
        |FROM (SELECT doc_id, n_chars, string_split(text,' ') AS t FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "q24_langid" ->
      """WITH s AS (SELECT doc_id, lang AS lang_true, string_split(text,' ') AS t FROM documents),
        |sc AS (SELECT doc_id, lang_true,
        |  CAST(len(list_filter(t, x -> x IN ('der','die','das'))) AS BIGINT) AS score_de,
        |  CAST(len(list_filter(t, x -> x IN ('the','a','of'))) AS BIGINT) AS score_en,
        |  CAST(len(list_filter(t, x -> x IN ('el','la','de'))) AS BIGINT) AS score_es,
        |  CAST(len(list_filter(t, x -> x IN ('le','la','et'))) AS BIGINT) AS score_fr,
        |  CAST(len(list_filter(t, x -> x IN ('de','le','shi'))) AS BIGINT) AS score_zh
        |FROM s)
        |SELECT doc_id, lang_true,
        |  CASE WHEN score_de = g THEN 'de' WHEN score_en = g THEN 'en'
        |       WHEN score_es = g THEN 'es' WHEN score_fr = g THEN 'fr'
        |       ELSE 'zh' END AS pred_lang,
        |  score_de, score_en, score_es, score_fr, score_zh
        |FROM (SELECT *, greatest(score_de, score_en, score_es, score_fr, score_zh) AS g FROM sc)
        |ORDER BY doc_id""".stripMargin,
    "q25_fingerprint" ->
      """SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fingerprint
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    "q26_cosine_topk" ->
      ("WITH " + cosinePairCtes + ",\n" +
      """rk AS (SELECT qid, cid, cos,
        |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rk
        |       FROM scored)
        |SELECT qid, cid, cos, CAST(rk AS BIGINT) AS rk
        |FROM rk WHERE rk <= 5
        |ORDER BY qid, rk""".stripMargin),
    "q33_corpus_filter" ->
      """WITH keyed AS (
        |  SELECT doc_id, n_chars,
        |         len(string_split(text,' ')) AS n_toks,
        |         md5(array_to_string(string_split(text,' ')[1:5],' ')) AS pk
        |  FROM documents),
        |keepers AS (SELECT pk, MIN(doc_id) AS doc_id FROM keyed GROUP BY pk)
        |SELECT k.doc_id,
        |       CAST(k.n_toks AS BIGINT) AS n_tokens,
        |       ROUND(CAST(k.n_chars AS DOUBLE)/k.n_toks, 4) AS chars_per_token
        |FROM keyed k
        |WHERE EXISTS (SELECT 1 FROM keepers x
        |              WHERE x.pk = k.pk AND x.doc_id = k.doc_id)
        |  AND k.n_toks BETWEEN 20 AND 100
        |  AND ROUND(CAST(k.n_chars AS DOUBLE)/k.n_toks, 4) < 8.0
        |ORDER BY k.doc_id""".stripMargin,
    "q34_top_tokens" ->
      """SELECT token, COUNT(*) AS n
        |FROM (SELECT unnest(string_split(text,' ')) AS token FROM documents)
        |GROUP BY token
        |ORDER BY n DESC, token
        |LIMIT 20""".stripMargin,
    // identical md5-derived hyperplane matrix on both sides: sign(i,j)
    // = high bit of md5('i:j'); candidates from 4-bit band collisions.
    "q35_embed_near_dup" ->
      s"""WITH $embedPairCtes
        |SELECT vec_i, vec_j, cos FROM scored WHERE cos >= 0.4
        |ORDER BY vec_i, vec_j""".stripMargin,
    // q219: the SAME scored CTE (shared embedPairCtes — the two gates
    // cannot desync) joined to both sides' language tags
    "q219_crosslingual_neardup" ->
      s"""WITH $embedPairCtes
        |SELECT vec_i, vec_j, di.lang AS lang_i, dj.lang AS lang_j, cos
        |FROM scored
        |  JOIN documents di ON di.doc_id = vec_i
        |  JOIN documents dj ON dj.doc_id = vec_j
        |WHERE cos >= 0.4 AND di.lang <> dj.lang
        |ORDER BY vec_i, vec_j""".stripMargin,
    "q36_rollup" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS flag,
        |       COALESCE(l_linestatus, 'ALL') AS status,
        |       COUNT(*) AS cnt, ROUND(SUM(l_quantity), 2) AS qty
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY flag, status""".stripMargin,
    "q37_distinct_agg" ->
      """SELECT c_nationkey AS nation,
        |       COUNT(DISTINCT c_mktsegment) AS segs,
        |       COUNT(*) AS custs
        |FROM customer
        |GROUP BY c_nationkey
        |ORDER BY nation""".stripMargin,
    "q39_cube" ->
      """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
        |       COALESCE(o_orderpriority, 'ALL') AS priority,
        |       COUNT(*) AS cnt, ROUND(SUM(o_totalprice), 2) AS total
        |FROM orders
        |GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin,
    "q40_asof_join" ->
      """WITH u AS (
        |  SELECT user_id, ts, event_id, event_type,
        |         CASE WHEN event_type='click' THEN 0 ELSE 1 END AS side,
        |         CASE WHEN event_type='click' THEN event_id END AS payload
        |  FROM events WHERE event_type IN ('click','purchase')),
        |w AS (
        |  SELECT user_id, event_id, event_type,
        |         last_value(payload IGNORE NULLS) OVER (
        |           PARTITION BY user_id ORDER BY ts, side, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS click_event
        |  FROM u)
        |SELECT user_id, event_id AS p_event, click_event
        |FROM w
        |WHERE event_type='purchase' AND click_event IS NOT NULL
        |ORDER BY p_event""".stripMargin,
    "q41_range_join" ->
      """SELECT a.o_orderkey, COUNT(*) AS nearby
        |FROM orders a JOIN orders b
        |  ON b.o_orderdate BETWEEN a.o_orderdate - INTERVAL 7 DAY
        |                       AND a.o_orderdate + INTERVAL 7 DAY
        | AND a.o_orderkey <> b.o_orderkey
        |GROUP BY a.o_orderkey
        |ORDER BY a.o_orderkey""".stripMargin,
    // first md5 hex nibble: 0..b (12 values) -> train, c..f -> test
    "q46_hash_split" ->
      """SELECT doc_id,
        |       CASE WHEN substr(md5(text), 1, 1) < 'c' THEN 'train' ELSE 'test' END AS split
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    "q47_grouping_sets" ->
      """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
        |       COALESCE(o_orderpriority, 'ALL') AS priority,
        |       COUNT(*) AS cnt, ROUND(SUM(o_totalprice), 2) AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY status, priority""".stripMargin,
    "q48_range_frame" ->
      """SELECT event_type, event_id,
        |       ROUND(SUM(value) OVER w, 2) AS run_sum,
        |       CAST(COUNT(*) OVER w AS BIGINT) AS n_frame
        |FROM events
        |WHERE user_id < 20
        |WINDOW w AS (PARTITION BY event_type ORDER BY value
        |             RANGE BETWEEN 5.0 PRECEDING AND CURRENT ROW)
        |ORDER BY event_type, event_id""".stripMargin,
    "q49_quantile_suite" ->
      """SELECT event_type,
        |       ROUND(quantile_cont(value, 0.25), 4) AS p25,
        |       ROUND(quantile_cont(value, 0.5), 4) AS p50,
        |       ROUND(quantile_cont(value, 0.75), 4) AS p75,
        |       ROUND(quantile_cont(value, 0.99), 4) AS p99
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q50_edit_distance" ->
      """SELECT a.p_partkey AS id_i, b.p_partkey AS id_j,
        |       CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
        |FROM part a JOIN part b
        |  ON a.p_brand = b.p_brand AND a.p_type = b.p_type
        | AND (a.p_size // 10) = (b.p_size // 10)
        | AND a.p_partkey < b.p_partkey
        |WHERE levenshtein(a.p_name, b.p_name) <= 6
        |ORDER BY id_i, id_j""".stripMargin,
    "q51_regression" ->
      """SELECT l_returnflag,
        |       ROUND(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
        |       ROUND(regr_intercept(l_extendedprice, l_quantity), 4) AS icept,
        |       ROUND(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
        |       ROUND(covar_samp(l_quantity, l_extendedprice), 4) AS cov
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q55_profile" -> Profile.q55OracleSql,
    "q56_topk_per_key" ->
      """SELECT event_type, event_id, user_id, ROUND(value, 4) AS value
        |FROM events
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY event_type
        |                           ORDER BY value DESC, event_id) <= 5
        |ORDER BY event_type, event_id""".stripMargin,
    "q57_quantile_disc_mode" ->
      """WITH vals AS (SELECT l_returnflag AS flag, l_quantity AS v FROM lineitem),
        |counts AS (SELECT flag, v, COUNT(*) AS cnt FROM vals GROUP BY flag, v),
        |modes AS (
        |  SELECT flag, v AS mode_qty FROM counts
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY flag ORDER BY cnt DESC, v) = 1),
        |qd AS (
        |  SELECT flag, quantile_disc(v, 0.5) AS p50_qty,
        |         quantile_disc(v, 0.9) AS p90_qty
        |  FROM vals GROUP BY flag)
        |SELECT qd.flag AS l_returnflag, ROUND(p50_qty, 2) AS p50_qty,
        |       ROUND(p90_qty, 2) AS p90_qty, ROUND(mode_qty, 2) AS mode_qty
        |FROM qd JOIN modes USING (flag)
        |ORDER BY l_returnflag""".stripMargin,
    "q58_listagg" ->
      """SELECT r.r_name AS region, COUNT(*) AS n_nations,
        |       string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations
        |FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY r.r_name
        |ORDER BY region""".stripMargin,
    "q59_corr_matrix" ->
      """WITH c AS (SELECT
        |  corr(l_quantity, l_extendedprice) AS qty_price,
        |  corr(l_quantity, l_discount)      AS qty_disc,
        |  corr(l_quantity, l_tax)           AS qty_tax,
        |  corr(l_extendedprice, l_discount) AS price_disc,
        |  corr(l_extendedprice, l_tax)      AS price_tax,
        |  corr(l_discount, l_tax)           AS disc_tax
        |FROM lineitem)
        |SELECT 'l_quantity' AS x, 'l_extendedprice' AS y, ROUND(qty_price, 6) AS r FROM c
        |UNION ALL SELECT 'l_quantity', 'l_discount', ROUND(qty_disc, 6) FROM c
        |UNION ALL SELECT 'l_quantity', 'l_tax', ROUND(qty_tax, 6) FROM c
        |UNION ALL SELECT 'l_extendedprice', 'l_discount', ROUND(price_disc, 6) FROM c
        |UNION ALL SELECT 'l_extendedprice', 'l_tax', ROUND(price_tax, 6) FROM c
        |UNION ALL SELECT 'l_discount', 'l_tax', ROUND(disc_tax, 6) FROM c
        |ORDER BY x, y""".stripMargin,
    "q60_cohort_retention" ->
      """WITH weeks AS (
        |  SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk FROM events),
        |cohorts AS (SELECT user_id, MIN(wk) AS cohort_wk FROM weeks GROUP BY user_id),
        |activity AS (SELECT DISTINCT w.user_id, c.cohort_wk,
        |    CAST((w.wk - c.cohort_wk) // 7 AS BIGINT) AS wk_offset
        |  FROM weeks w JOIN cohorts c USING (user_id))
        |SELECT cohort_wk, wk_offset, COUNT(*) AS n_users
        |FROM activity
        |GROUP BY cohort_wk, wk_offset
        |ORDER BY cohort_wk, wk_offset""".stripMargin,
    "q61_bigram_pmi" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |uni AS (SELECT unnest(t) AS tok FROM toks),
        |unic AS (SELECT tok, COUNT(*) AS c FROM uni GROUP BY tok),
        |nt AS (SELECT COUNT(*) AS nt FROM uni),
        |big AS (SELECT unnest([t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS bg
        |        FROM toks WHERE len(t) >= 2),
        |bigc AS (SELECT bg, COUNT(*) AS cxy FROM big GROUP BY bg),
        |nb AS (SELECT COUNT(*) AS nb FROM big)
        |SELECT bg AS bigram, cxy AS cnt,
        |       ROUND(ln((CAST(cxy AS DOUBLE) / nb.nb) /
        |         ((CAST(x.c AS DOUBLE) / nt.nt) * (CAST(y.c AS DOUBLE) / nt.nt))), 4) AS pmi
        |FROM bigc
        |JOIN unic x ON x.tok = string_split(bg, ' ')[1]
        |JOIN unic y ON y.tok = string_split(bg, ' ')[2]
        |CROSS JOIN nb CROSS JOIN nt
        |WHERE cxy >= 5
        |ORDER BY pmi DESC, bigram
        |LIMIT 20""".stripMargin,
    "q62_zscore_anomaly" ->
      """WITH stats AS (
        |  SELECT event_type, AVG(value) AS mu, stddev_samp(value) AS sd
        |  FROM events GROUP BY event_type)
        |SELECT e.event_id, e.event_type, ROUND(e.value, 4) AS value,
        |       ROUND((e.value - s.mu) / s.sd, 4) AS z
        |FROM events e JOIN stats s USING (event_type)
        |WHERE ABS((e.value - s.mu) / s.sd) > 2.5
        |ORDER BY e.event_id""".stripMargin,
    "q63_quality_gate" ->
      """WITH scored AS (
        |  SELECT doc_id, lang,
        |         CAST(len(list_filter(t, x -> x IN ('the','a','of','and'))) AS DOUBLE)/len(t) AS sw_ratio
        |  FROM (SELECT doc_id, lang, string_split(text,' ') AS t FROM documents)),
        |thresh AS (SELECT lang, quantile_disc(sw_ratio, 0.75) AS p75
        |           FROM scored GROUP BY lang)
        |SELECT s.doc_id, s.lang, ROUND(s.sw_ratio, 4) AS sw_ratio
        |FROM scored s JOIN thresh t USING (lang)
        |WHERE s.sw_ratio >= t.p75
        |ORDER BY s.doc_id""".stripMargin,
    "q64_weighted_sample" ->
      """WITH keyed AS (
        |  SELECT doc_id, lang, n_chars,
        |         ROUND(ln((CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS DOUBLE) + 1)
        |               / 4294967296.0) / n_chars, 6) + 0.0 AS skey
        |  FROM documents WHERE n_chars > 0)
        |SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars, skey
        |FROM keyed
        |QUALIFY ROW_NUMBER() OVER (ORDER BY skey DESC, doc_id) <= 50
        |ORDER BY doc_id""".stripMargin,
    "q65_unpivot" ->
      """WITH agg AS (
        |  SELECT l_returnflag, ROUND(SUM(l_quantity),2) AS qty,
        |         ROUND(SUM(l_extendedprice),2) AS price, ROUND(SUM(l_tax),2) AS tax
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, measure, val
        |FROM agg UNPIVOT (val FOR measure IN (qty, price, tax))
        |ORDER BY l_returnflag, measure""".stripMargin,
    "q66_rows_frame" ->
      """SELECT event_type, event_id,
        |       ROUND(AVG(value) OVER w, 4) AS avg3,
        |       ROUND(SUM(value) OVER w, 4) AS sum3,
        |       CAST(COUNT(*) OVER w AS BIGINT) AS cnt3
        |FROM events
        |WHERE user_id < 10
        |WINDOW w AS (PARTITION BY event_type ORDER BY event_id
        |             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY event_type, event_id""".stripMargin,
    "q67_hof_suite" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents)
        |SELECT doc_id,
        |  CAST(len(list_filter(toks, x -> len(x) > 4)) AS BIGINT) AS long_toks,
        |  CAST(list_reduce(list_transform(toks, x -> len(x)), (a, b) -> a + b) AS BIGINT) AS char_sum,
        |  -- list_max, not a second list_reduce: DuckDB 1.0 leaks reduce
        |  -- accumulator state across rows in a chunk when a SELECT has
        |  -- two list_reduce columns (doc 185 got a neighbor's max)
        |  CAST(list_max(list_transform(toks, x -> len(x))) AS BIGINT) AS max_tok,
        |  array_to_string(list_transform(toks[1:3], x -> upper(x)), '|') AS head3
        |FROM t ORDER BY doc_id LIMIT 200""".stripMargin,
    "q68_lm_score" ->
      """WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
        |uni AS (SELECT unnest(t) AS tok FROM toks),
        |unic AS (SELECT tok, COUNT(*) AS c FROM uni GROUP BY tok),
        |big AS (SELECT doc_id, unnest([t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS bg
        |        FROM toks WHERE len(t) >= 2),
        |bigc AS (SELECT bg, COUNT(*) AS cxy FROM big GROUP BY bg),
        |scored AS (
        |  SELECT b.doc_id, ln(CAST(bc.cxy AS DOUBLE) / ux.c) AS lp
        |  FROM big b
        |  JOIN bigc bc USING (bg)
        |  JOIN unic ux ON ux.tok = string_split(b.bg, ' ')[1])
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |       ROUND(AVG(lp), 4) AS avg_logprob
        |FROM scored GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,
    "q69_corpus_pipeline" ->
      """WITH dedup AS (
        |  SELECT doc_id, lang, text FROM documents
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1),
        |scored AS (
        |  SELECT doc_id, lang,
        |         CAST(len(list_filter(t, x -> x IN ('the','a','of','and'))) AS DOUBLE)/len(t) AS sw_ratio,
        |         text
        |  FROM (SELECT doc_id, lang, text, string_split(text,' ') AS t FROM dedup)),
        |thresh AS (SELECT lang, quantile_disc(sw_ratio, 0.5) AS p50
        |           FROM scored GROUP BY lang),
        |gated AS (
        |  SELECT s.doc_id, s.lang, s.sw_ratio, s.text
        |  FROM scored s JOIN thresh t USING (lang)
        |  WHERE s.sw_ratio >= t.p50)
        |SELECT doc_id, lang, ROUND(sw_ratio, 4) AS sw_ratio,
        |       CASE WHEN CAST(concat('0x', substr(md5(text), 1, 1)) AS INT) < 12
        |            THEN 'train' ELSE 'test' END AS split
        |FROM gated
        |ORDER BY doc_id""".stripMargin,
    "q71_lang_centroids" ->
      """WITH ex AS (
        |  SELECT vec_id, unnest([{'d': i, 'v': embedding[i]} for i in range(1, len(embedding)+1)]) AS s
        |  FROM embeddings)
        |SELECT d.lang, CAST(ex.s.d AS BIGINT) AS dim,
        |       ROUND(AVG(CAST(ex.s.v AS DOUBLE)), 4) + 0.0 AS centroid
        |FROM ex JOIN documents d ON d.doc_id = ex.vec_id
        |GROUP BY d.lang, ex.s.d
        |ORDER BY lang, dim""".stripMargin,
    "q72_interarrival" ->
      """WITH d AS (
        |  SELECT event_type,
        |         CAST(epoch_ms(ts) - epoch_ms(LAG(ts) OVER (PARTITION BY event_type, user_id ORDER BY ts, event_id)) AS DOUBLE) / 1000 AS gap_s
        |  FROM events)
        |SELECT event_type,
        |       CAST(COUNT(gap_s) AS BIGINT) AS n_gaps,
        |       ROUND(quantile_cont(gap_s, 0.5), 2) AS p50_s,
        |       ROUND(quantile_cont(gap_s, 0.9), 2) AS p90_s
        |FROM d GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q73_markov_transitions" ->
      """WITH p AS (
        |  SELECT LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src,
        |         event_type AS dst
        |  FROM events),
        |c AS (
        |  SELECT src, dst, COUNT(*) AS n FROM p WHERE src IS NOT NULL GROUP BY src, dst)
        |SELECT src, dst, n,
        |       ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY src), 4) AS p
        |FROM c ORDER BY src, dst""".stripMargin,
    "q74_lexical_diversity" ->
      """WITH tok AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents),
        |c AS (SELECT lang, token, COUNT(*) AS n FROM tok GROUP BY lang, token)
        |SELECT lang,
        |       CAST(SUM(n) AS BIGINT) AS n_tokens,
        |       CAST(COUNT(*) AS BIGINT) AS n_types,
        |       ROUND(LN(SUM(n)) - SUM(n * LN(n)) / SUM(n), 4) AS entropy,
        |       ROUND(CAST(COUNT(*) AS DOUBLE) / SUM(n), 4) AS ttr
        |FROM c GROUP BY lang ORDER BY lang""".stripMargin,
    "q75_rfm_segments" ->
      """WITH u AS (
        |  SELECT user_id, MAX(ts) AS last_ts, COUNT(*) AS freq,
        |         SUM(CASE WHEN event_type = 'purchase' THEN COALESCE(value, 0) ELSE 0 END) AS monetary
        |  FROM events GROUP BY user_id),
        |s AS (
        |  SELECT user_id, freq, monetary,
        |         date_diff('day', CAST(last_ts AS DATE), CAST((SELECT MAX(last_ts) FROM u) AS DATE)) AS recency_d,
        |         CAST(ROUND(monetary * 100) AS BIGINT) AS cents
        |  FROM u),
        |b AS (
        |  SELECT monetary,
        |         NTILE(4) OVER (ORDER BY recency_d, user_id) AS rq,
        |         NTILE(4) OVER (ORDER BY freq DESC, user_id) AS fq,
        |         NTILE(4) OVER (ORDER BY cents DESC, user_id) AS mq
        |  FROM s)
        |SELECT rq, fq, mq, CAST(COUNT(*) AS BIGINT) AS n_users,
        |       ROUND(SUM(monetary), 2) AS total_m
        |FROM b GROUP BY rq, fq, mq ORDER BY rq, fq, mq""".stripMargin,
    "q76_sql_topk_tvf" ->
      """WITH rk AS (
        |  SELECT event_type, event_id, user_id, value,
        |         ROW_NUMBER() OVER (PARTITION BY event_type
        |                            ORDER BY value DESC, event_id) AS rk
        |  FROM events)
        |SELECT event_type, event_id, user_id, ROUND(value, 4) AS value
        |FROM rk WHERE rk <= 3
        |ORDER BY event_type, event_id""".stripMargin,
    "q77_sql_vector" ->
      """WITH v AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e FROM embeddings),
        |q AS (SELECT vec_id AS qid, e AS qv FROM v WHERE vec_id < 5),
        |s AS (
        |  SELECT qid, vec_id AS cid,
        |    ROUND(list_sum(list_transform(range(1,65), i -> qv[i]*e[i])) /
        |      (sqrt(list_sum(list_transform(range(1,65), i -> qv[i]*qv[i]))) *
        |       sqrt(list_sum(list_transform(range(1,65), i -> e[i]*e[i])))), 6) AS cos
        |  FROM v JOIN q ON vec_id <> qid),
        |rk AS (SELECT qid, cid, cos,
        |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rk
        |       FROM s)
        |SELECT qid, cid, cos, CAST(rk AS BIGINT) AS rk
        |FROM rk WHERE rk <= 3
        |ORDER BY qid, rk""".stripMargin,
    "q79_audience_overlap" ->
      """WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
        |s AS (SELECT event_type, COUNT(*) AS n FROM tu GROUP BY event_type),
        |p AS (
        |  SELECT a.event_type AS ta, b.event_type AS tb, COUNT(*) AS inter
        |  FROM tu a JOIN tu b
        |    ON a.user_id = b.user_id AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT ta, tb, inter,
        |       ROUND(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 4) AS jaccard
        |FROM p JOIN s sa ON sa.event_type = ta
        |       JOIN s sb ON sb.event_type = tb
        |ORDER BY ta, tb""".stripMargin,
    "q80_value_histogram" ->
      """WITH f AS (SELECT MIN(value) AS lo, MAX(value) AS hi
        |           FROM events WHERE value IS NOT NULL)
        |SELECT event_type,
        |       LEAST(CAST(FLOOR((value - lo) / ((hi - lo) / 10)) AS BIGINT), 9) AS bin,
        |       COUNT(*) AS n
        |FROM events, f WHERE value IS NOT NULL
        |GROUP BY event_type, bin
        |ORDER BY event_type, bin""".stripMargin,
    "q81_streaks" ->
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |r AS (SELECT user_id, day,
        |        ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS rn
        |      FROM ud),
        |g AS (SELECT user_id, day - CAST(rn AS INTEGER) AS grp, COUNT(*) AS len
        |      FROM r GROUP BY user_id, grp)
        |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_streaks,
        |       MAX(len) AS max_streak
        |FROM g GROUP BY user_id
        |ORDER BY max_streak DESC, user_id
        |LIMIT 20""".stripMargin,
    "q82_activity_profile" ->
      """SELECT event_type,
        |       CAST(EXTRACT(isodow FROM ts) AS BIGINT) AS isodow,
        |       CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hr,
        |       COUNT(*) AS n,
        |       SUM(CAST(ROUND(value * 100) AS BIGINT)) /
        |       (COUNT(value) * 100.0) AS avg_value
        |FROM events
        |GROUP BY event_type, isodow, hr
        |ORDER BY event_type, isodow, hr""".stripMargin,
    "q84_ffill_resample" ->
      """WITH o AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hr,
        |         MAX(CAST(ROUND(value * 100) AS BIGINT)) AS cents
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |b AS (SELECT MIN(hr) AS lo, MAX(hr) AS hi FROM o),
        |g AS (
        |  SELECT t.event_type,
        |         unnest(generate_series(b.lo, b.hi, INTERVAL 1 HOUR)) AS hr
        |  FROM (SELECT DISTINCT event_type FROM events) t, b)
        |SELECT g.event_type, g.hr,
        |       CAST(LAST_VALUE(o.cents IGNORE NULLS) OVER (
        |         PARTITION BY g.event_type ORDER BY g.hr) AS DOUBLE) / 100
        |         AS filled
        |FROM g LEFT JOIN o ON o.event_type = g.event_type AND o.hr = g.hr
        |ORDER BY g.event_type, g.hr""".stripMargin,
    "q85_canonical_docs" -> canonicalOracle,
    "q86_chunking" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |d AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0),
        |c AS (SELECT doc_id, t,
        |        unnest(generate_series(0, CAST(CEIL(n / 25.0) AS BIGINT) - 1)) AS chunk_id
        |      FROM d)
        |SELECT doc_id, chunk_id,
        |       CAST(len(list_slice(t, chunk_id * 25 + 1, chunk_id * 25 + 50)) AS BIGINT) AS chunk_len,
        |       md5(array_to_string(list_slice(t, chunk_id * 25 + 1, chunk_id * 25 + 50), ' ')) AS chunk_md5
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
    "q87_zipf" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |cnt AS (SELECT token, COUNT(*) AS n FROM tok
        |        GROUP BY token ORDER BY n DESC, token LIMIT 200),
        |rk AS (SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, token) AS rk FROM cnt)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |       ROUND(regr_slope(LN(n), LN(rk)), 4) AS zipf_slope,
        |       ROUND(regr_r2(LN(n), LN(rk)), 4) AS r2
        |FROM rk""".stripMargin,
    "q88_growth_accounting" ->
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |f AS (SELECT user_id, day,
        |        LAG(day) OVER (PARTITION BY user_id ORDER BY day) AS prev,
        |        LEAD(day) OVER (PARTITION BY user_id ORDER BY day) AS next
        |      FROM ud),
        |act AS (
        |  SELECT day,
        |    SUM(CASE WHEN prev IS NULL THEN 1 ELSE 0 END) AS new_users,
        |    SUM(CASE WHEN prev = day - 1 THEN 1 ELSE 0 END) AS retained,
        |    SUM(CASE WHEN prev IS NOT NULL AND prev < day - 1 THEN 1 ELSE 0 END) AS resurrected
        |  FROM f GROUP BY day),
        |ch AS (
        |  SELECT day + 1 AS day, COUNT(*) AS churned
        |  FROM f, (SELECT MAX(day) AS max_day FROM ud) m
        |  WHERE day < max_day AND (next IS NULL OR next > day + 1)
        |  GROUP BY day + 1)
        |SELECT COALESCE(act.day, ch.day) AS day,
        |       CAST(COALESCE(new_users, 0) AS BIGINT) AS new_users,
        |       CAST(COALESCE(retained, 0) AS BIGINT) AS retained,
        |       CAST(COALESCE(resurrected, 0) AS BIGINT) AS resurrected,
        |       CAST(COALESCE(churned, 0) AS BIGINT) AS churned
        |FROM act FULL OUTER JOIN ch ON act.day = ch.day
        |ORDER BY day""".stripMargin,
    "q89_rolling_wau" ->
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |days AS (SELECT DISTINCT day FROM ud)
        |SELECT d.day, CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS wau
        |FROM days d JOIN ud u ON u.day BETWEEN d.day - 6 AND d.day
        |GROUP BY d.day ORDER BY d.day""".stripMargin,
    "q90_heavy_hitters" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |tot AS (SELECT COUNT(*) AS n_total FROM tok),
        |c AS (SELECT token, COUNT(*) AS n FROM tok GROUP BY token)
        |SELECT token, n, n_total FROM c, tot
        |WHERE n * 200 > n_total
        |ORDER BY n DESC, token""".stripMargin,
    "q91_referential_audit" ->
      """SELECT * FROM (
        |  SELECT 'lineitem->orders' AS relation,
        |    CAST((SELECT COUNT(*) FROM lineitem l
        |          WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                            WHERE l.l_orderkey = o.o_orderkey)) AS BIGINT) AS orphans,
        |    CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT) AS total
        |  UNION ALL
        |  SELECT 'orders->customer',
        |    CAST((SELECT COUNT(*) FROM orders o
        |          WHERE NOT EXISTS (SELECT 1 FROM customer c
        |                            WHERE o.o_custkey = c.c_custkey)) AS BIGINT),
        |    CAST((SELECT COUNT(*) FROM orders) AS BIGINT)
        |  UNION ALL
        |  SELECT 'customer->nation',
        |    CAST((SELECT COUNT(*) FROM customer c
        |          WHERE NOT EXISTS (SELECT 1 FROM nation n
        |                            WHERE c.c_nationkey = n.n_nationkey)) AS BIGINT),
        |    CAST((SELECT COUNT(*) FROM customer) AS BIGINT)
        |  UNION ALL
        |  SELECT 'supplier->nation',
        |    CAST((SELECT COUNT(*) FROM supplier s
        |          WHERE NOT EXISTS (SELECT 1 FROM nation n
        |                            WHERE s.s_nationkey = n.n_nationkey)) AS BIGINT),
        |    CAST((SELECT COUNT(*) FROM supplier) AS BIGINT))
        |ORDER BY relation""".stripMargin,
    "q92_pareto" ->
      """WITH cust AS (
        |  SELECT o_custkey,
        |         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY o_custkey),
        |d AS (SELECT NTILE(10) OVER (ORDER BY cents DESC, o_custkey) AS decile, cents
        |      FROM cust),
        |p AS (SELECT decile, COUNT(*) AS n_customers,
        |             CAST(SUM(cents) AS BIGINT) AS dc
        |      FROM d GROUP BY decile),
        |t AS (SELECT CAST(SUM(dc) AS BIGINT) AS tc FROM p)
        |SELECT CAST(decile AS BIGINT) AS decile,
        |       CAST(n_customers AS BIGINT) AS n_customers,
        |       CAST(dc AS DOUBLE) / 100 AS revenue,
        |       CAST(SUM(dc) OVER (ORDER BY decile) AS DOUBLE) / CAST(tc AS DOUBLE) AS cum_share
        |FROM p, t ORDER BY decile""".stripMargin,
    "q93_ab_lift" ->
      """WITH armed AS (
        |  SELECT event_type,
        |         CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
        |                   IN ('0','1','2','3','4','5','6','7')
        |              THEN 'A' ELSE 'B' END AS arm,
        |         CAST(ROUND(COALESCE(value, 0) * 100) AS BIGINT) AS cents
        |  FROM events),
        |g AS (
        |  SELECT event_type,
        |    CAST(SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    CAST(SUM(CASE WHEN arm = 'A' THEN cents ELSE 0 END) AS BIGINT) AS ca,
        |    CAST(SUM(CASE WHEN arm = 'B' THEN cents ELSE 0 END) AS BIGINT) AS cb
        |  FROM armed GROUP BY event_type)
        |SELECT event_type, n_a, n_b,
        |       CAST(ca AS DOUBLE) / CAST(n_a * 100 AS DOUBLE) AS avg_a,
        |       CAST(cb AS DOUBLE) / CAST(n_b * 100 AS DOUBLE) AS avg_b,
        |       (CAST(cb AS DOUBLE) / CAST(n_b * 100 AS DOUBLE)) /
        |       (CAST(ca AS DOUBLE) / CAST(n_a * 100 AS DOUBLE)) - 1.0 AS lift
        |FROM g ORDER BY event_type""".stripMargin,
    "q94_repetition" ->
      """WITH t0 AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |t AS (SELECT doc_id, t, len(t) AS n FROM t0 WHERE len(t) >= 3),
        |g AS (
        |  SELECT doc_id, n, 'uni' AS k, unnest(t) AS g FROM t
        |  UNION ALL
        |  SELECT doc_id, n, 'bi' AS k,
        |         unnest([array_to_string(t[i:i+1], ' ') for i in range(1, n)]) AS g
        |  FROM t
        |  UNION ALL
        |  SELECT doc_id, n, 'tri' AS k,
        |         unnest([array_to_string(t[i:i+2], ' ') for i in range(1, n-1)]) AS g
        |  FROM t),
        |c AS (SELECT doc_id, n, k, g, COUNT(*) AS cnt
        |      FROM g GROUP BY doc_id, n, k, g),
        |s AS (SELECT doc_id, n, k, MAX(cnt) AS mx, COUNT(*) AS dist,
        |             SUM(cnt) AS tot
        |      FROM c GROUP BY doc_id, n, k),
        |r AS (
        |  SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
        |    CAST(MAX(CASE WHEN k='uni' THEN mx END) AS DOUBLE)
        |      / CAST(n AS DOUBLE) AS top_token_frac,
        |    CAST(MAX(CASE WHEN k='bi' THEN mx END) AS DOUBLE)
        |      / CAST(n-1 AS DOUBLE) AS top_bigram_frac,
        |    CAST(MAX(CASE WHEN k='tri' THEN tot END)
        |         - MAX(CASE WHEN k='tri' THEN dist END) AS DOUBLE)
        |      / CAST(MAX(CASE WHEN k='tri' THEN tot END) AS DOUBLE)
        |      AS dup_trigram_frac
        |  FROM s GROUP BY doc_id, n)
        |SELECT *, CAST(CASE WHEN top_token_frac <= 0.20
        |                     AND top_bigram_frac <= 0.18
        |                     AND dup_trigram_frac <= 0.30
        |               THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM r ORDER BY doc_id""".stripMargin,
    "q95_decontamination" ->
      """WITH t0 AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    unnest(list_distinct(
        |      [array_to_string(t[i:i+3], ' ') for i in range(1, len(t)-2)])) AS g
        |  FROM t0 WHERE len(t) >= 4)
        |SELECT c.doc_id, b.doc_id AS bench_id,
        |       CAST(COUNT(*) AS BIGINT) AS shared_ngrams
        |FROM sh c JOIN sh b ON c.g = b.g
        |WHERE b.doc_id % 97 = 0 AND c.doc_id % 97 <> 0
        |GROUP BY c.doc_id, b.doc_id
        |ORDER BY 1, 2""".stripMargin,
    "q96_scd2" ->
      """WITH o AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN lag(event_type) OVER w IS NULL
        |           OR lag(event_type) OVER w <> event_type
        |         THEN 1 ELSE 0 END AS chg
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |r AS (
        |  SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS version
        |  FROM o),
        |iv AS (
        |  SELECT user_id, CAST(version AS BIGINT) AS version, event_type,
        |         MIN(ts) AS valid_from, CAST(COUNT(*) AS BIGINT) AS n_events
        |  FROM r GROUP BY user_id, version, event_type)
        |SELECT user_id, version, event_type, valid_from, n_events,
        |  lead(valid_from) OVER wv AS valid_to,
        |  CAST(CASE WHEN lead(valid_from) OVER wv IS NULL
        |            THEN 1 ELSE 0 END AS BIGINT) AS is_current
        |FROM iv
        |WINDOW wv AS (PARTITION BY user_id ORDER BY version)
        |ORDER BY user_id, version""".stripMargin,
    "q97_attribution" ->
      """WITH w0 AS (
        |  SELECT user_id, ts, event_id, event_type, value,
        |    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
        |               IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS channel
        |  FROM events)
        |SELECT COALESCE(channel, 'direct') AS channel,
        |       CAST(COUNT(*) AS BIGINT) AS purchases,
        |       CAST(SUM(CAST(ROUND(COALESCE(value, 0) * 100) AS BIGINT))
        |            AS DOUBLE) / 100 AS revenue
        |FROM w0 WHERE event_type = 'purchase'
        |GROUP BY channel ORDER BY channel""".stripMargin,
    "q98_ewma" ->
      """WITH c AS (
        |  SELECT event_id, user_id, ts,
        |         CAST(ROUND(COALESCE(value, 0) * 100) AS BIGINT) AS cents
        |  FROM events)
        |SELECT event_id, user_id,
        |  (COALESCE(CAST(cents AS DOUBLE), 0) * 1.0
        |   + COALESCE(CAST(lag(cents, 1) OVER w AS DOUBLE), 0) * 0.5
        |   + COALESCE(CAST(lag(cents, 2) OVER w AS DOUBLE), 0) * 0.25
        |   + COALESCE(CAST(lag(cents, 3) OVER w AS DOUBLE), 0) * 0.125
        |   + COALESCE(CAST(lag(cents, 4) OVER w AS DOUBLE), 0) * 0.0625
        |   + COALESCE(CAST(lag(cents, 5) OVER w AS DOUBLE), 0) * 0.03125
        |   + COALESCE(CAST(lag(cents, 6) OVER w AS DOUBLE), 0) * 0.015625
        |   + COALESCE(CAST(lag(cents, 7) OVER w AS DOUBLE), 0) * 0.0078125
        |  ) / 100 AS ewma
        |FROM c
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY event_id""".stripMargin,
    "q99_mad" ->
      """WITH m AS (SELECT event_type, quantile_cont(value, 0.5) AS med
        |           FROM events GROUP BY event_type),
        |d AS (SELECT e.event_type, abs(e.value - m.med) AS adev
        |      FROM events e JOIN m USING (event_type)),
        |md AS (SELECT event_type, quantile_cont(adev, 0.5) AS mad
        |       FROM d GROUP BY event_type)
        |SELECT event_type, ROUND(m.med, 4) AS median, ROUND(md.mad, 4) AS mad
        |FROM m JOIN md USING (event_type) ORDER BY event_type""".stripMargin,
    "q100_semdedup" ->
      s"""WITH RECURSIVE $embedPairCtes,
        |pairs AS (SELECT vec_i, vec_j FROM scored WHERE cos >= 0.4),
        |und(a, b) AS (SELECT vec_i, vec_j FROM pairs
        |              UNION SELECT vec_j, vec_i FROM pairs),
        |reach(a, b) AS (
        |  SELECT a, b FROM und
        |  UNION
        |  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
        |comp AS (SELECT a AS vec_id, LEAST(a, MIN(b)) AS component
        |         FROM reach GROUP BY a)
        |SELECT vec_id, component AS kept_id FROM comp
        |WHERE vec_id <> component ORDER BY vec_id""".stripMargin,
    "q101_event_paths" ->
      """WITH s AS (
        |  SELECT user_id, event_type, ts, event_id,
        |         lag(event_type, 1) OVER w AS p1,
        |         lag(event_type, 2) OVER w AS p2
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT p2 || '>' || p1 || '>' || event_type AS path,
        |       CAST(COUNT(*) AS BIGINT) AS n
        |FROM s WHERE p2 IS NOT NULL
        |GROUP BY 1 ORDER BY n DESC, path LIMIT 20""".stripMargin,
    "q102_winsorized" ->
      """WITH q AS (
        |  SELECT event_type,
        |         quantile_cont(value, 0.05) AS p05,
        |         quantile_cont(value, 0.95) AS p95
        |  FROM events GROUP BY event_type),
        |j AS (
        |  SELECT e.event_type,
        |         CAST(ROUND(e.value * 100) AS BIGINT) AS cents,
        |         CAST(ROUND(q.p05 * 100) AS BIGINT) AS lo,
        |         CAST(ROUND(q.p95 * 100) AS BIGINT) AS hi
        |  FROM events e JOIN q USING (event_type)
        |  WHERE e.value IS NOT NULL)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(GREATEST(lo, LEAST(hi, cents))) AS DOUBLE)
        |    / CAST(COUNT(*) * 100 AS DOUBLE) AS winsorized_mean,
        |  CAST(SUM(CASE WHEN cents BETWEEN lo AND hi THEN cents END) AS DOUBLE)
        |    / CAST(COUNT(CASE WHEN cents BETWEEN lo AND hi THEN cents END) * 100
        |           AS DOUBLE) AS trimmed_mean,
        |  CAST(COUNT(CASE WHEN cents BETWEEN lo AND hi THEN cents END) AS BIGINT)
        |    AS n_kept
        |FROM j GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q103_boilerplate" ->
      """WITH p AS (
        |  SELECT source, doc_id,
        |         array_to_string(string_split(text, ' ')[1:3], ' ') AS prefix
        |  FROM documents WHERE len(string_split(text, ' ')) >= 3)
        |SELECT source, prefix, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       MIN(doc_id) AS first_doc
        |FROM p GROUP BY source, prefix HAVING COUNT(*) >= 2
        |ORDER BY source, prefix""".stripMargin,
    "q104_hist_sketch_rollup" ->
      """WITH nn AS (SELECT event_type, CAST(ts AS DATE) AS day, value
        |            FROM events WHERE value IS NOT NULL),
        |f AS (SELECT event_type, MIN(value) AS lo, MAX(value) AS hi
        |      FROM nn GROUP BY event_type),
        |sk AS (
        |  SELECT n.event_type, n.day,
        |         CASE WHEN f.hi = f.lo THEN 0
        |              ELSE LEAST(31, CAST(FLOOR((n.value - f.lo)
        |                                        / ((f.hi - f.lo) / 32))
        |                             AS INT)) END AS bin,
        |         f.lo, f.hi, COUNT(*) AS cnt
        |  FROM nn n JOIN f USING (event_type)
        |  GROUP BY n.event_type, n.day, bin, f.lo, f.hi),
        |m AS (SELECT event_type, bin, lo, hi, SUM(cnt) AS cnt
        |      FROM sk GROUP BY event_type, bin, lo, hi),
        |c AS (SELECT *, SUM(cnt) OVER (PARTITION BY event_type) AS n,
        |        SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |      FROM m)
        |SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
        |  ROUND(MIN(CASE WHEN cum >= CEIL(n * 0.5)
        |                 THEN lo + (hi - lo) / 32 * bin END), 4) AS p50_bin_edge,
        |  ROUND(MIN(CASE WHEN cum >= CEIL(n * 0.9)
        |                 THEN lo + (hi - lo) / 32 * bin END), 4) AS p90_bin_edge,
        |  CAST(COUNT(*) AS BIGINT) AS bins_used
        |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q105_length_batching" ->
      """WITH d AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
        |           FROM documents),
        |b AS (SELECT doc_id, n_tokens,
        |             CAST(FLOOR(n_tokens / 32.0) AS BIGINT) AS bucket FROM d),
        |r AS (SELECT *, ROW_NUMBER() OVER
        |        (PARTITION BY bucket ORDER BY doc_id) - 1 AS rk FROM b)
        |SELECT bucket, CAST(FLOOR(rk / 16.0) AS BIGINT) AS batch_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(MAX(n_tokens) AS BIGINT) AS max_tokens,
        |       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
        |       CAST(COUNT(*) * MAX(n_tokens) - SUM(n_tokens) AS BIGINT)
        |         AS padded_waste
        |FROM r GROUP BY bucket, batch_id
        |ORDER BY bucket, batch_id""".stripMargin,
    "q106_data_mixture" ->
      """WITH d AS (
        |  SELECT source, doc_id,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |         md5(CAST(doc_id AS VARCHAR)) AS rkey
        |  FROM documents),
        |c AS (SELECT *, SUM(n_tokens) OVER
        |        (PARTITION BY source ORDER BY rkey, doc_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |      FROM d)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(n_tokens) AS BIGINT) AS selected_tokens
        |FROM c WHERE cum - n_tokens < 3000
        |GROUP BY source ORDER BY source""".stripMargin,
    "q107_click_to_purchase" ->
      """SELECT p.user_id, p.event_id AS p_event, c.event_id AS c_event
        |FROM events p JOIN events c ON c.user_id = p.user_id
        |WHERE p.event_type = 'purchase' AND c.event_type = 'click'
        |  AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
        |ORDER BY 1, 2, 3""".stripMargin,
    "q138_decimal_agg" ->
      """WITH d AS (SELECT l_returnflag AS flag,
        |         CAST(l_extendedprice AS DECIMAL(12,2)) AS p,
        |         CAST(l_discount AS DECIMAL(12,2)) AS disc
        |       FROM lineitem)
        |SELECT flag, COUNT(*) AS n,
        |  CAST(SUM(p) AS VARCHAR) AS sum_price,
        |  CAST(MIN(p) AS VARCHAR) AS min_price,
        |  CAST(MAX(p) AS VARCHAR) AS max_price,
        |  CAST(SUM(p * (1 - disc)) AS VARCHAR) AS sum_disc_price,
        |  ROUND(CAST(SUM(p) AS DOUBLE) / COUNT(*), 4) AS avg_price
        |FROM d GROUP BY flag ORDER BY flag""".stripMargin,
    // the bloom filter is a pre-shuffle prune, invisible in the
    // result: the oracle is the PLAIN join — exactness is the gate
    "q139_bloom_prune" ->
      """SELECT date_trunc('month', o.o_orderdate) AS month,
        |  COUNT(*) AS n_items,
        |  ROUND(CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount)
        |                            * 10000) AS BIGINT)) AS DOUBLE)
        |        / 10000, 2) AS revenue
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_orderpriority = '1-URGENT'
        |  AND o.o_orderdate >= TIMESTAMP '1997-07-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // oracle is the quadratic NOT EXISTS dominance anti-join; the
    // Spark side is the linear prefix-max plan — same frontier
    "q140_skyline" ->
      """WITH pts AS (SELECT p_partkey,
        |    CAST(ROUND(p_retailprice * 100) AS BIGINT) AS price_cents,
        |    CAST(p_size AS BIGINT) AS size
        |  FROM part)
        |SELECT p_partkey, price_cents, size FROM pts p
        |WHERE NOT EXISTS (SELECT 1 FROM pts q
        |  WHERE q.price_cents <= p.price_cents AND q.size >= p.size
        |    AND (q.price_cents < p.price_cents OR q.size > p.size))
        |ORDER BY p_partkey""".stripMargin,
    // oracle ranks with a global row_number window; the Spark side
    // computes the same membership via a broadcast k-th-row threshold
    "q141_dsir_weights" ->
      """WITH tok AS (
        |  SELECT doc_id, lang,
        |    CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) % 256 AS b
        |  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        |        FROM documents)),
        |rawc AS (SELECT b, COUNT(*) AS cr FROM tok GROUP BY b),
        |tgtc AS (SELECT b, COUNT(*) AS ct FROM tok
        |         WHERE lang = 'en' GROUP BY b),
        |model AS (SELECT r.b, cr, COALESCE(ct, 0) AS ct
        |          FROM rawc r LEFT JOIN tgtc t USING (b)),
        |tot AS (SELECT SUM(cr) AS nr, SUM(ct) AS nt FROM model),
        |llr AS (SELECT b,
        |          ln(CAST(ct + 1 AS DOUBLE) / (nt + 256)) -
        |          ln(CAST(cr + 1 AS DOUBLE) / (nr + 256)) AS llr
        |        FROM model CROSS JOIN tot),
        |perdoc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
        |             ROUND(SUM(llr), 4) + 0.0 AS logw
        |           FROM tok JOIN llr USING (b) GROUP BY doc_id),
        |rk AS (SELECT *, row_number() OVER (ORDER BY logw DESC, doc_id)
        |         AS rn FROM perdoc)
        |SELECT doc_id, n_tok, logw, CAST(rn <= 150 AS INT) AS selected
        |FROM rk ORDER BY doc_id""".stripMargin,
    // oracle counts the same triangles via the plain id-ordered triple
    // join; the Spark side uses the degree-ordered orientation
    "q142_basket_triangles" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |            FROM lineitem),
        |e AS (SELECT a, b FROM (
        |        SELECT x.p AS a, y.p AS b, COUNT(*) AS c
        |        FROM op x JOIN op y ON x.o = y.o AND x.p < y.p
        |        GROUP BY 1, 2)
        |      WHERE c >= 2),
        |tri AS (SELECT e1.a AS t1, e1.b AS t2, e2.b AS t3
        |        FROM e e1
        |        JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
        |        JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b)
        |SELECT p_partkey, CAST(COUNT(*) AS BIGINT) AS n_triangles
        |FROM (SELECT unnest([t1, t2, t3]) AS p_partkey FROM tri)
        |GROUP BY p_partkey ORDER BY p_partkey""".stripMargin,
    "q143_snapshot_diff" ->
      """WITH oldt AS (SELECT c_custkey AS k, c_mktsegment AS seg,
        |                CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal
        |              FROM customer),
        |newt AS (
        |  SELECT k, seg,
        |         CASE WHEN k % 7 = 0 THEN bal + 100 ELSE bal END AS bal
        |  FROM oldt WHERE k % 23 <> 0
        |  UNION ALL
        |  SELECT k + (SELECT MAX(k) + 1 FROM oldt), seg, 0
        |  FROM oldt WHERE k % 31 = 0),
        |j AS (SELECT COALESCE(o.k, n.k) AS k,
        |        CASE WHEN o.k IS NULL THEN 'insert'
        |             WHEN n.k IS NULL THEN 'delete'
        |             WHEN o.bal IS DISTINCT FROM n.bal
        |               OR o.seg IS DISTINCT FROM n.seg THEN 'update'
        |        END AS change,
        |        o.bal AS old_bal, n.bal AS new_bal
        |      FROM oldt o FULL OUTER JOIN newt n ON o.k = n.k)
        |SELECT k, change, old_bal, new_bal FROM j
        |WHERE change IS NOT NULL ORDER BY k""".stripMargin,
    "q144_psi_drift" ->
      """WITH binned AS (SELECT source,
        |    LEAST(CAST(FLOOR(n_chars / 100) AS BIGINT), 9) AS bin
        |  FROM documents),
        |exp AS (SELECT bin, COUNT(*) AS ce FROM binned
        |        WHERE source = 'src0' GROUP BY bin),
        |act AS (SELECT source, bin, COUNT(*) AS ca FROM binned
        |        WHERE source <> 'src0' GROUP BY source, bin),
        |dense AS (
        |  SELECT s.source, b.bin, COALESCE(a.ca, 0) AS ca,
        |         COALESCE(e.ce, 0) AS ce
        |  FROM (SELECT DISTINCT source FROM act) s
        |  CROSS JOIN (SELECT unnest(range(10)) AS bin) b
        |  LEFT JOIN act a ON a.source = s.source AND a.bin = b.bin
        |  LEFT JOIN exp e ON e.bin = b.bin),
        |tot AS (SELECT (SELECT SUM(ce) FROM exp) AS ne),
        |na AS (SELECT source, SUM(ca) AS na FROM act GROUP BY source),
        |terms AS (SELECT d.source, na.na,
        |    (CAST(ca + 1 AS DOUBLE) / (na.na + 10) -
        |     CAST(ce + 1 AS DOUBLE) / (tot.ne + 10)) *
        |    ln((CAST(ca + 1 AS DOUBLE) / (na.na + 10)) /
        |       (CAST(ce + 1 AS DOUBLE) / (tot.ne + 10))) AS term
        |  FROM dense d JOIN na ON na.source = d.source CROSS JOIN tot)
        |SELECT source, CAST(MAX(na) AS BIGINT) AS n_docs,
        |       ROUND(SUM(term), 4) AS psi
        |FROM terms GROUP BY source ORDER BY source""".stripMargin,
    "q145_event_sequences" ->
      """WITH seq AS (SELECT user_id, event_type AS e1,
        |    lead(event_type, 1) OVER w AS e2,
        |    lead(event_type, 2) OVER w AS e3
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT e1, e2, e3,
        |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users,
        |       CAST(COUNT(*) AS BIGINT) AS occurrences
        |FROM seq WHERE e3 IS NOT NULL
        |GROUP BY e1, e2, e3
        |HAVING COUNT(DISTINCT user_id) >= 5
        |ORDER BY users DESC, occurrences DESC, e1, e2, e3
        |LIMIT 20""".stripMargin,
    // independent-implementation oracle: DuckDB's NATIVE chained ASOF
    // LEFT JOINs vs the engine's single-window union PIT algorithm
    "q146_pit_features" ->
      """WITH p AS (SELECT user_id, ts, event_id AS p_event FROM events
        |           WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, ts, value AS cv FROM events
        |      WHERE event_type = 'click'
        |      QUALIFY row_number() OVER (PARTITION BY user_id, ts
        |                                 ORDER BY event_id DESC) = 1),
        |e AS (SELECT user_id, ts, value AS ev FROM events
        |      WHERE event_type = 'error'
        |      QUALIFY row_number() OVER (PARTITION BY user_id, ts
        |                                 ORDER BY event_id DESC) = 1),
        |v AS (SELECT user_id, ts, value AS vv FROM events
        |      WHERE event_type = 'view'
        |      QUALIFY row_number() OVER (PARTITION BY user_id, ts
        |                                 ORDER BY event_id DESC) = 1)
        |SELECT p.user_id, p.p_event, c.cv AS last_click_v,
        |       e.ev AS last_error_v, v.vv AS last_view_v
        |FROM p
        |ASOF LEFT JOIN c ON p.user_id = c.user_id AND c.ts <= p.ts
        |ASOF LEFT JOIN e ON p.user_id = e.user_id AND e.ts <= p.ts
        |ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts
        |ORDER BY p_event""".stripMargin,
    "q147_scd2_lookup" ->
      """WITH o AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN lag(event_type) OVER w IS NULL
        |           OR lag(event_type) OVER w <> event_type
        |         THEN 1 ELSE 0 END AS chg
        |  FROM events WHERE event_type <> 'purchase'
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |r AS (
        |  SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS version
        |  FROM o),
        |iv AS (
        |  SELECT user_id, CAST(version AS BIGINT) AS version, event_type,
        |         MIN(ts) AS valid_from
        |  FROM r GROUP BY user_id, version, event_type),
        |dim AS (
        |  SELECT user_id AS d_user, version, event_type AS status,
        |         valid_from, lead(valid_from) OVER wv AS valid_to
        |  FROM iv WINDOW wv AS (PARTITION BY user_id ORDER BY version)),
        |p AS (SELECT user_id, event_id AS p_event, ts FROM events
        |      WHERE event_type = 'purchase')
        |SELECT p.user_id, p.p_event, dim.status, dim.version
        |FROM p LEFT JOIN dim
        |  ON p.user_id = dim.d_user AND dim.valid_from <= p.ts
        |  AND (dim.valid_to IS NULL OR p.ts < dim.valid_to)
        |ORDER BY p_event""".stripMargin,
    // DuckDB arrays are 1-based; the WHERE i<=j / i<j split mirrors the
    // engine's upper-triangle moment accumulation
    "q148_dim_corr" ->
      """WITH x AS (
        |  SELECT vec_id, i - 1 AS i, CAST(embedding[i] AS DOUBLE) AS v
        |  FROM embeddings, (SELECT unnest(range(1, 65)) AS i)),
        |p AS (SELECT a.i AS i, b.i AS j, SUM(a.v * b.v) AS sxy,
        |             COUNT(*) AS n
        |      FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
        |      GROUP BY 1, 2),
        |m AS (SELECT i, SUM(v) / COUNT(*) AS mu FROM x GROUP BY i),
        |var AS (SELECT p.i, p.sxy / p.n - m.mu * m.mu AS s2
        |        FROM p JOIN m ON m.i = p.i WHERE p.i = p.j)
        |SELECT p.i AS dim_i, p.j AS dim_j,
        |       ROUND((p.sxy / p.n - mi.mu * mj.mu)
        |             / sqrt(vi.s2 * vj.s2), 4) + 0.0 AS corr
        |FROM p
        |JOIN m mi ON mi.i = p.i JOIN m mj ON mj.i = p.j
        |JOIN var vi ON vi.i = p.i JOIN var vj ON vj.i = p.j
        |WHERE p.i < p.j
        |ORDER BY dim_i, dim_j""".stripMargin,
    // q127's quota CTE chain at budget 300, then the deterministic
    // md5-ranked per-stratum truncation
    "q149_mixture_sample" ->
      """WITH s AS (
        |  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |         CAST(ROUND(1000000 * sqrt(COUNT(*))) AS BIGINT) AS w
        |  FROM documents GROUP BY lang, source),
        |t AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM s),
        |b AS (SELECT s.*, t.tw,
        |             CAST((300 * w) // tw AS BIGINT) AS base,
        |             CAST((300 * w) % tw AS BIGINT) AS rem
        |      FROM s, t),
        |r AS (SELECT *, CAST(ROW_NUMBER() OVER
        |        (ORDER BY rem DESC, lang, source) AS BIGINT) AS rk FROM b),
        |g AS (SELECT CAST(300 - SUM(base) AS BIGINT) AS leftover FROM b),
        |q AS (SELECT lang, source,
        |        base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS quota
        |      FROM r, g),
        |ranked AS (SELECT d.doc_id, d.lang, d.source,
        |        ROW_NUMBER() OVER (PARTITION BY d.lang, d.source
        |          ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id) AS rn
        |      FROM documents d)
        |SELECT ranked.lang, ranked.source, ranked.doc_id
        |FROM ranked JOIN q
        |  ON q.lang = ranked.lang AND q.source = ranked.source
        |WHERE rn <= quota
        |ORDER BY doc_id""".stripMargin,
    // q150/q151: the PII / URL material is planted deterministically
    // from doc_id on BOTH sides (the fixture text is PII-free word
    // soup), so the redaction/canonicalization logic itself is what the
    // hash compares — same construction as the q35 hyperplane oracle.
    "q150_pii_scrub" ->
      """WITH enriched AS (
        |  SELECT doc_id,
        |    text ||
        |    CASE WHEN doc_id % 3 = 0 THEN ' contact user' || doc_id ||
        |      '@example' || (doc_id % 7) || '.com' ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0 THEN ' call 555-' ||
        |      lpad(CAST((doc_id * 7919) % 1000 AS VARCHAR), 3, '0') ||
        |      '-' ||
        |      lpad(CAST((doc_id * 104729) % 10000 AS VARCHAR), 4, '0')
        |      ELSE '' END ||
        |    CASE WHEN doc_id % 7 = 0 THEN ' from 10.' || (doc_id % 256)
        |      || '.0.' || ((doc_id * 31) % 256) ELSE '' END AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |    AS BIGINT) AS n_email,
        |  CAST(len(regexp_extract_all(t,
        |    '(\+[0-9]{1,2} )?(\([0-9]{3}\) |\b[0-9]{3}[.-])[0-9]{3}[.-][0-9]{4}\b'))
        |    AS BIGINT) AS n_phone,
        |  CAST(len(regexp_extract_all(t,
        |    '\b((25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9][0-9]|[0-9])\.){3}(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9][0-9]|[0-9])\b'))
        |    AS BIGINT) AS n_ip,
        |  md5(regexp_replace(regexp_replace(regexp_replace(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |    '<EMAIL>', 'g'),
        |    '(\+[0-9]{1,2} )?(\([0-9]{3}\) |\b[0-9]{3}[.-])[0-9]{3}[.-][0-9]{4}\b',
        |    '<PHONE>', 'g'),
        |    '\b((25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9][0-9]|[0-9])\.){3}(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9][0-9]|[0-9])\b',
        |    '<IP>', 'g')) AS red_md5
        |FROM enriched ORDER BY doc_id""".stripMargin,
    "q151_url_canonical" ->
      """WITH urls AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END) ||
        |    '://' ||
        |    (CASE WHEN doc_id % 5 = 0 THEN upper(h) ELSE h END) ||
        |    '/p/' || (doc_id % 11) ||
        |    (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END) ||
        |    (CASE WHEN doc_id % 6 = 0 THEN '?utm_source=x' ELSE '' END)
        |      AS url
        |  FROM (SELECT doc_id,
        |      (CASE WHEN doc_id % 3 = 0 THEN 'www.'
        |            WHEN doc_id % 3 = 1 THEN 'WWW.' ELSE '' END) ||
        |      'site' || (doc_id % 37) || '.example.com' AS h
        |    FROM documents)),
        |canon AS (
        |  SELECT regexp_replace(lower(
        |           regexp_extract(url, '^[a-z]+://([^/?#]+)', 1)),
        |           '^www\.', '') AS host,
        |         regexp_replace(
        |           regexp_extract(url, '^[a-z]+://[^/?#]+([^?#]*)', 1),
        |           '/$', '') AS path
        |  FROM urls)
        |SELECT host, COUNT(*) AS n_docs,
        |  COUNT(DISTINCT path) AS n_paths,
        |  COUNT(*) - COUNT(DISTINCT path) AS dup_mass
        |FROM canon GROUP BY host ORDER BY host""".stripMargin,
    "q152_paragraph_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |paras AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS pidx,
        |         md5(array_to_string(tk[i*10+1 : i*10+10], ' ')) AS pmd5
        |  FROM toks, UNNEST(generate_series(0,
        |    CAST(ceil(len(tk)/10.0) AS INT) - 1)) AS t(i)),
        |kept AS (
        |  SELECT doc_id, pidx, pmd5,
        |         ROW_NUMBER() OVER (PARTITION BY pmd5
        |           ORDER BY doc_id, pidx) AS rn
        |  FROM paras)
        |SELECT doc_id, pidx, pmd5 FROM kept WHERE rn = 1
        |ORDER BY doc_id, pidx""".stripMargin,
    // q152b: real \n\n paragraph boundaries, planted from doc_id (the
    // q150 construction) — licence header shared by doc_id%3==0 docs,
    // body = the doc's own text, footer shared by doc_id%4==0 docs.
    // concat_ws skips the NULL footer identically in both engines.
    "q152b_paragraph_newline" ->
      """WITH enriched AS (
        |  SELECT doc_id, concat_ws(chr(10) || chr(10),
        |    CASE WHEN doc_id % 3 = 0 THEN 'license header alpha beta'
        |         ELSE 'intro note ' || doc_id END,
        |    text,
        |    CASE WHEN doc_id % 4 = 0 THEN 'contact footer omega' END)
        |      AS t
        |  FROM documents),
        |split AS (
        |  SELECT doc_id, string_split(t, chr(10) || chr(10)) AS p
        |  FROM enriched),
        |paras AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS pidx, md5(p[i+1]) AS pmd5
        |  FROM split,
        |    UNNEST(generate_series(0, len(p) - 1)) AS t(i)),
        |kept AS (
        |  SELECT doc_id, pidx, pmd5,
        |         ROW_NUMBER() OVER (PARTITION BY pmd5
        |           ORDER BY doc_id, pidx) AS rn
        |  FROM paras)
        |SELECT doc_id, pidx, pmd5 FROM kept WHERE rn = 1
        |ORDER BY doc_id, pidx""".stripMargin,
    // q153: the bloom pre-filter is engine-internal — the oracle
    // replays the plain anti-join + within-batch-first semantics.
    "q153_incremental_dedup" ->
      """WITH corpus AS (
        |  SELECT DISTINCT
        |    md5(array_to_string(string_split(text, ' ')[1:5], ' ')) AS k
        |  FROM documents WHERE doc_id % 10 < 8),
        |batch AS (
        |  SELECT doc_id, lang, source,
        |    md5(array_to_string(string_split(text, ' ')[1:5], ' ')) AS k
        |  FROM documents WHERE doc_id % 10 >= 8),
        |newdocs AS (
        |  SELECT b.* FROM batch b
        |  WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.k = b.k)),
        |first AS (
        |  SELECT doc_id, lang, source,
        |    ROW_NUMBER() OVER (PARTITION BY k ORDER BY doc_id) AS rn
        |  FROM newdocs)
        |SELECT doc_id, lang, source FROM first WHERE rn = 1
        |ORDER BY doc_id""".stripMargin,
    // q153b: the ledger/bloom machinery is engine-internal state — the
    // oracle replays SEQUENTIAL arrival semantics: b1 (%10=8) absorbs
    // before b2 (%10=9), so for a key seen in both, the b1 occurrence
    // wins even when a b2 doc_id is smaller (rank by arrival, then id).
    "q153b_ledger_dedup" ->
      """WITH corpus AS (
        |  SELECT DISTINCT
        |    md5(array_to_string(string_split(text, ' ')[1:5], ' ')) AS k
        |  FROM documents WHERE doc_id % 10 < 8),
        |batch AS (
        |  SELECT doc_id, lang, source, doc_id % 10 AS arrival,
        |    md5(array_to_string(string_split(text, ' ')[1:5], ' ')) AS k
        |  FROM documents WHERE doc_id % 10 >= 8),
        |newdocs AS (
        |  SELECT b.* FROM batch b
        |  WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.k = b.k)),
        |first AS (
        |  SELECT doc_id, lang, source,
        |    ROW_NUMBER() OVER (PARTITION BY k
        |      ORDER BY arrival, doc_id) AS rn
        |  FROM newdocs)
        |SELECT doc_id, lang, source FROM first WHERE rn = 1
        |ORDER BY doc_id""".stripMargin,
    // q154: unicode planted via chr() codepoints (SQL side) / \u
    // escapes (Scala side) — identical strings; the hash proves JVM
    // Normalizer NFC == DuckDB nfc_normalize byte-for-byte.
    "q154_normalize" ->
      """WITH enriched AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 4 = 0 THEN ' cafe' || chr(769) ||
        |      ' nai' || chr(776) || 've' ELSE '' END ||
        |    CASE WHEN doc_id % 4 = 1 THEN ' caf' || chr(233) ||
        |      ' na' || chr(239) || 've' ELSE '' END ||
        |    CASE WHEN doc_id % 4 = 2 THEN '  tab' || chr(9) ||
        |      'and   runs  ' ELSE '' END AS raw
        |  FROM documents),
        |n AS (
        |  SELECT doc_id, raw,
        |    trim(regexp_replace(nfc_normalize(raw), '\s+', ' ', 'g'))
        |      AS norm
        |  FROM enriched)
        |SELECT doc_id, norm <> raw AS changed, md5(norm) AS norm_md5
        |FROM n ORDER BY doc_id""".stripMargin,
    "q155_blocklist" ->
      """SELECT source,
        |  COALESCE(list_min(list_intersect(
        |    regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'),
        |    ['slow', 'merge', 'window'])), '') AS term,
        |  COUNT(*) AS n
        |FROM documents
        |GROUP BY source, term
        |ORDER BY source, term""".stripMargin,
    // q156: the md5 shuffle key uses the established portable mapping
    // (Spark conv(substr(md5,1,8),16,10) == DuckDB '0x'||substr cast,
    // q64 precedent); shard boundaries from the running token sum in
    // shuffle order — the engine computes that sum via GlobalRank (no
    // unpartitioned window), the oracle via a plain window.
    "q156_shuffle_shards" ->
      s"""WITH $shardCtes
         |SELECT doc_id, CAST(shard AS INT) AS shard,
         |  ROW_NUMBER() OVER (PARTITION BY shard
         |    ORDER BY hkey, doc_id) AS pos,
         |  n_tokens
         |FROM s ORDER BY doc_id""".stripMargin,
    // q198: the SAME shard-assignment CTE as q156 — the shard writer
    // and the homogeneity audit cannot disagree about membership
    "q198_shard_homogeneity" ->
      s"""WITH $shardCtes,
         |a AS (SELECT s.doc_id, CAST(s.shard AS INT) AS shard,
         |        s.n_tokens, d.lang, d.source
         |      FROM s JOIN documents d USING (doc_id)),
         |ps AS (SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |         CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
         |         CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
         |       FROM a GROUP BY shard),
         |pl AS (SELECT shard, lang, CAST(COUNT(*) AS BIGINT) AS c
         |       FROM a GROUP BY shard, lang),
         |dom AS (SELECT shard, lang, c, ROW_NUMBER() OVER (
         |          PARTITION BY shard ORDER BY c DESC, lang DESC) AS rk
         |        FROM pl),
         |ent AS (SELECT pl.shard,
         |          ROUND(-SUM((CAST(c AS DOUBLE) / n_docs)
         |            * log2(CAST(c AS DOUBLE) / n_docs)), 4) + 0.0
         |            AS lang_entropy
         |        FROM pl JOIN ps USING (shard) GROUP BY pl.shard)
         |SELECT ps.shard, ps.n_docs, ps.n_tokens, ps.n_sources,
         |  dom.lang AS dominant_lang,
         |  ROUND(CAST(dom.c AS DOUBLE) / ps.n_docs, 6) AS dominant_frac,
         |  ent.lang_entropy
         |FROM ps JOIN dom ON dom.shard = ps.shard AND dom.rk = 1
         |JOIN ent ON ent.shard = ps.shard
         |ORDER BY ps.shard""".stripMargin,
    // q157: parallel unnest(range, ls) zips positionally in DuckDB —
    // the posexplode twin; string_agg(... ORDER BY pos) rebuilds the
    // doc in original line order; concat_ws skips NULL branches in
    // both engines, so the planted chrome lines drop out identically.
    "q157_line_scrub" ->
      """WITH enriched AS (
        |  SELECT doc_id, concat_ws(chr(10),
        |    CASE WHEN doc_id % 2 = 0 THEN 'home about contact login' END,
        |    text,
        |    CASE WHEN doc_id % 3 = 0
        |      THEN 'sign up for our newsletter today' END,
        |    CASE WHEN doc_id % 4 = 0
        |      THEN 'copyright acme corp all rights reserved' END,
        |    'ref code ' || doc_id) AS t
        |  FROM documents),
        |split AS (
        |  SELECT doc_id, string_split(t, chr(10)) AS ls FROM enriched),
        |lines AS (
        |  SELECT doc_id, unnest(range(1, len(ls)+1)) AS pos,
        |         unnest(ls) AS line
        |  FROM split),
        |keyed AS (
        |  SELECT doc_id, pos, line, trim(line) AS key FROM lines),
        |freq AS (
        |  SELECT key FROM keyed WHERE len(key) > 0
        |  GROUP BY key HAVING COUNT(DISTINCT doc_id) >= 30),
        |kept AS (
        |  SELECT k.doc_id, k.pos, k.line FROM keyed k
        |  LEFT JOIN freq f ON k.key = f.key WHERE f.key IS NULL),
        |agg AS (
        |  SELECT doc_id, COUNT(*) AS n_kept,
        |         string_agg(line, chr(10) ORDER BY pos) AS clean
        |  FROM kept GROUP BY doc_id),
        |tot AS (
        |  SELECT doc_id, COUNT(*) AS n_lines FROM keyed GROUP BY doc_id)
        |SELECT t.doc_id, CAST(t.n_lines AS BIGINT) AS n_lines,
        |       CAST(t.n_lines - COALESCE(a.n_kept, 0) AS BIGINT)
        |         AS n_removed,
        |       md5(COALESCE(a.clean, '')) AS clean_md5
        |FROM tot t LEFT JOIN agg a ON t.doc_id = a.doc_id
        |ORDER BY t.doc_id""".stripMargin,
    // q158: lazy quantifiers + (?s) behave identically in Java regex
    // and RE2; entity replaces run in the same fixed order (&amp;
    // last) on both sides.
    "q158_html_strip" ->
      """WITH enriched AS (
        |  SELECT doc_id,
        |    '<html><head><title>Doc ' || doc_id || '</title>' ||
        |    CASE WHEN doc_id % 3 = 0
        |      THEN '<script>var x = 1 < 2 && true;</script>'
        |      ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0
        |      THEN '<style>.nav { color: #fff; }</style>'
        |      ELSE '' END ||
        |    '</head><body><h1>Doc ' || doc_id || '</h1><p>' || text ||
        |    '</p>' ||
        |    CASE WHEN doc_id % 2 = 0
        |      THEN '<p>Tom &amp; Jerry &lt;tag&gt; &quot;q&quot;' ||
        |           ' &#39;s&nbsp;end</p>'
        |      ELSE '' END ||
        |    '</body></html>' AS raw
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, regexp_replace(regexp_replace(raw,
        |    '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
        |    '(?s)<style[^>]*>.*?</style>', ' ', 'g') AS nb
        |  FROM enriched),
        |s AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(nb, '<[^>]+>')) AS BIGINT)
        |      AS n_tags,
        |    regexp_replace(nb, '<[^>]+>', ' ', 'g') AS nt
        |  FROM b),
        |u AS (
        |  SELECT doc_id, n_tags,
        |    replace(replace(replace(replace(replace(replace(nt,
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |      '&#39;', chr(39)), '&nbsp;', ' '), '&amp;', '&') AS ut
        |  FROM s)
        |SELECT doc_id, n_tags,
        |  md5(trim(regexp_replace(ut, '\s+', ' ', 'g'))) AS clean_md5,
        |  CAST(len(trim(regexp_replace(ut, '\s+', ' ', 'g'))) AS BIGINT)
        |    AS n_chars
        |FROM u ORDER BY doc_id""".stripMargin,
    // q159: each engine computes integer sum/count ratios rounded to
    // 6 — bit-stable across engines; 'constraint' is reserved in
    // DuckDB, hence check_name.
    "q159_constraint_audit" ->
      """SELECT 'completeness_l_shipdate' AS check_name,
        |  ROUND(SUM(CASE WHEN l_shipdate IS NOT NULL THEN 1 ELSE 0
        |    END)::DOUBLE / COUNT(*), 6) AS metric,
        |  ROUND(SUM(CASE WHEN l_shipdate IS NOT NULL THEN 1 ELSE 0
        |    END)::DOUBLE / COUNT(*), 6) >= 1.0 AS passed
        |FROM lineitem
        |UNION ALL
        |SELECT 'uniqueness_l_orderkey_linenumber',
        |  ROUND((SELECT COUNT(*) FROM (SELECT DISTINCT l_orderkey,
        |    l_linenumber FROM lineitem))::DOUBLE / COUNT(*), 6),
        |  ROUND((SELECT COUNT(*) FROM (SELECT DISTINCT l_orderkey,
        |    l_linenumber FROM lineitem))::DOUBLE / COUNT(*), 6) >= 1.0
        |FROM lineitem
        |UNION ALL
        |SELECT 'range_l_quantity_1_50',
        |  ROUND(SUM(CASE WHEN l_quantity BETWEEN 1.0 AND 50.0 THEN 1
        |    ELSE 0 END)::DOUBLE / COUNT(*), 6),
        |  ROUND(SUM(CASE WHEN l_quantity BETWEEN 1.0 AND 50.0 THEN 1
        |    ELSE 0 END)::DOUBLE / COUNT(*), 6) >= 1.0
        |FROM lineitem
        |UNION ALL
        |SELECT 'nonneg_l_extendedprice',
        |  ROUND(SUM(CASE WHEN l_extendedprice >= 0.0 THEN 1 ELSE 0
        |    END)::DOUBLE / COUNT(*), 6),
        |  ROUND(SUM(CASE WHEN l_extendedprice >= 0.0 THEN 1 ELSE 0
        |    END)::DOUBLE / COUNT(*), 6) >= 1.0
        |FROM lineitem
        |UNION ALL
        |SELECT 'bound_l_discount_le_005',
        |  ROUND(SUM(CASE WHEN l_discount <= 0.05 THEN 1 ELSE 0
        |    END)::DOUBLE / COUNT(*), 6),
        |  ROUND(SUM(CASE WHEN l_discount <= 0.05 THEN 1 ELSE 0
        |    END)::DOUBLE / COUNT(*), 6) >= 1.0
        |FROM lineitem
        |UNION ALL
        |SELECT 'set_o_orderstatus',
        |  ROUND(SUM(CASE WHEN o_orderstatus IN ('O','F','P') THEN 1
        |    ELSE 0 END)::DOUBLE / COUNT(*), 6),
        |  ROUND(SUM(CASE WHEN o_orderstatus IN ('O','F','P') THEN 1
        |    ELSE 0 END)::DOUBLE / COUNT(*), 6) >= 1.0
        |FROM orders
        |UNION ALL
        |SELECT 'pattern_o_orderpriority',
        |  ROUND(SUM(CASE WHEN regexp_matches(o_orderpriority,
        |    '^[1-5]-[A-Z ]+$') THEN 1 ELSE 0 END)::DOUBLE / COUNT(*), 6),
        |  ROUND(SUM(CASE WHEN regexp_matches(o_orderpriority,
        |    '^[1-5]-[A-Z ]+$') THEN 1 ELSE 0 END)::DOUBLE / COUNT(*), 6)
        |    >= 1.0
        |FROM orders
        |UNION ALL
        |SELECT 'positive_o_totalprice',
        |  ROUND(SUM(CASE WHEN o_totalprice > 0.0 THEN 1 ELSE 0
        |    END)::DOUBLE / COUNT(*), 6),
        |  ROUND(SUM(CASE WHEN o_totalprice > 0.0 THEN 1 ELSE 0
        |    END)::DOUBLE / COUNT(*), 6) >= 1.0
        |FROM orders
        |UNION ALL
        |SELECT 'ref_lineitem_orderkey_in_orders',
        |  ROUND(SUM(CASE WHEN o.o_orderkey IS NOT NULL THEN 1 ELSE 0
        |    END)::DOUBLE / COUNT(*), 6),
        |  ROUND(SUM(CASE WHEN o.o_orderkey IS NOT NULL THEN 1 ELSE 0
        |    END)::DOUBLE / COUNT(*), 6) >= 1.0
        |FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey
        |  FROM orders) o ON l.l_orderkey = o.o_orderkey
        |ORDER BY check_name""".stripMargin,
    // q160: the oracle builds the Morton code arithmetically (list
    // comprehension over 16 bit positions); the engine's native
    // expression must agree bit-for-bit.
    "q160_zorder" ->
      """WITH z AS (
        |  SELECT l_partkey, l_suppkey,
        |    CAST(list_sum([
        |      ((((l_partkey % 65536) >> i) & 1) << (2*i)) +
        |      ((((l_suppkey % 65536) >> i) & 1) << (2*i+1))
        |      for i in range(16)]) AS BIGINT) AS z
        |  FROM lineitem)
        |SELECT CAST(z >> 16 AS BIGINT) AS bucket,
        |  COUNT(*)::BIGINT AS n,
        |  MIN(l_partkey) AS min_pk, MAX(l_partkey) AS max_pk,
        |  MIN(l_suppkey) AS min_sk, MAX(l_suppkey) AS max_sk,
        |  MIN(z) AS min_z, MAX(z) AS max_z
        |FROM z GROUP BY bucket ORDER BY bucket""".stripMargin,
    // q161: boundary rule = first md5 hex nibble of the token < '2'
    // (hex-string compare, the q46 portable-mapping precedent);
    // parallel unnests zip positionally (q157 precedent).
    "q161_cdc_chunks" ->
      """WITH enriched AS (
        |  SELECT doc_id, CASE
        |    WHEN doc_id % 4 = 0 THEN text ||
        |      ' terms of service apply to all users of this site' ||
        |      ' without notice'
        |    WHEN doc_id % 4 = 1 THEN
        |      'terms of service apply to all users of this site' ||
        |      ' without notice ' || text
        |    ELSE text END AS t
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, unnest(range(1, len(ls)+1)) AS pos,
        |         unnest(ls) AS tok
        |  FROM (SELECT doc_id, string_split(t, ' ') AS ls
        |        FROM enriched)),
        |f AS (
        |  SELECT doc_id, pos, tok,
        |    CASE WHEN substr(md5(tok), 1, 1) < '2' THEN 1 ELSE 0 END
        |      AS b
        |  FROM toks),
        |c AS (
        |  SELECT doc_id, pos, tok,
        |    COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS chunk_idx
        |  FROM f),
        |ch AS (
        |  SELECT doc_id, chunk_idx,
        |    md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_md5,
        |    COUNT(*)::BIGINT AS n_tokens
        |  FROM c GROUP BY doc_id, chunk_idx)
        |SELECT chunk_md5, COUNT(*)::BIGINT AS n_occ,
        |  COUNT(DISTINCT doc_id)::BIGINT AS n_docs,
        |  MAX(n_tokens)::BIGINT AS n_tokens
        |FROM ch GROUP BY chunk_md5
        |HAVING COUNT(DISTINCT doc_id) >= 2
        |ORDER BY n_occ DESC, chunk_md5 LIMIT 100""".stripMargin,
    // q162: symmetric per-vector SQ8 — the quantized cosine is scale-
    // free, so the score is exact-integer sums under IEEE sqrt/divide
    // (bit-identical across engines); floor(x+0.5) is the one rounding
    // rule both engines share on negative halves.
    "q162_sq8_ann" ->
      ("WITH " + sq8PairCtes + "\n" +
      """SELECT qid, cid, cos_q,
        |  ROW_NUMBER() OVER (PARTITION BY qid
        |    ORDER BY cos_q DESC, cid) AS rk
        |FROM sq8pairs QUALIFY rk <= 5 ORDER BY qid, rk""".stripMargin),
    // q163: stage rules are byte-identical to q69's oracle (dedup
    // keep-first window, per-lang quantile_disc(0.5) gate, md5-nibble
    // split); the funnel only adds the counts.
    "q163_attrition" ->
      """WITH base AS (
        |  SELECT doc_id, lang, text,
        |    CAST(len(list_filter(t, x -> x IN ('the','a','of','and')))
        |      AS DOUBLE)/len(t) AS sw_ratio,
        |    CASE WHEN ROW_NUMBER() OVER (PARTITION BY md5(text)
        |      ORDER BY doc_id) = 1 THEN 1 ELSE 0 END AS k1
        |  FROM (SELECT doc_id, lang, text, string_split(text,' ') AS t
        |        FROM documents)),
        |thresh AS (
        |  SELECT lang, quantile_disc(sw_ratio, 0.5) AS p50
        |  FROM base WHERE k1 = 1 GROUP BY lang),
        |f AS (
        |  SELECT b.k1,
        |    CASE WHEN b.k1 = 1 AND b.sw_ratio >= t.p50 THEN 1 ELSE 0
        |      END AS k2,
        |    CASE WHEN b.k1 = 1 AND b.sw_ratio >= t.p50 AND
        |      CAST(concat('0x', substr(md5(b.text), 1, 1)) AS INT) < 12
        |      THEN 1 ELSE 0 END AS k3
        |  FROM base b JOIN thresh t USING (lang)),
        |c AS (
        |  SELECT COUNT(*)::BIGINT AS n, SUM(k1)::BIGINT AS s1,
        |         SUM(k2)::BIGINT AS s2, SUM(k3)::BIGINT AS s3
        |  FROM f)
        |SELECT * FROM (
        |  SELECT 0::BIGINT AS stage, 'raw' AS name, n AS docs_in,
        |         n AS docs_out, 0::BIGINT AS dropped FROM c
        |  UNION ALL SELECT 1, 'exact_dedup', n, s1, n - s1 FROM c
        |  UNION ALL SELECT 2, 'quality_gate', s1, s2, s1 - s2 FROM c
        |  UNION ALL SELECT 3, 'train_split', s2, s3, s2 - s3 FROM c)
        |ORDER BY stage""".stripMargin,
    // q164: RE2 spells script classes \p{Cyrillic} where Java spells
    // \p{IsCyrillic} — same Unicode script property (deliberate
    // spelling exception, see TextAnalysis.scriptMix scaladoc);
    // snippets planted via chr() codepoints (q154 precedent).
    "q164_script_mix" ->
      """WITH enriched AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 3 = 1 THEN ' ' || chr(1087) ||
        |      chr(1088) || chr(1080) || chr(1074) || chr(1077) ||
        |      chr(1090) ELSE '' END ||
        |    CASE WHEN doc_id % 3 = 2 THEN ' ' || chr(20320) ||
        |      chr(22909) ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0 THEN ' ' || chr(945) ||
        |      chr(946) || chr(947) ELSE '' END ||
        |    CASE WHEN doc_id % 7 = 0 THEN ' ' || chr(65533) ||
        |      chr(65533) ELSE '' END AS t
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(t, '[A-Za-z]')) AS BIGINT)
        |      AS n_latin,
        |    CAST(len(regexp_extract_all(t, '\p{Cyrillic}')) AS BIGINT)
        |      AS n_cyrillic,
        |    CAST(len(regexp_extract_all(t, '\p{Han}')) AS BIGINT)
        |      AS n_han,
        |    CAST(len(regexp_extract_all(t, '\p{Greek}')) AS BIGINT)
        |      AS n_greek,
        |    CAST(len(regexp_extract_all(t, chr(65533))) AS BIGINT)
        |      AS n_replacement
        |  FROM enriched)
        |SELECT doc_id, n_latin, n_cyrillic, n_han, n_greek,
        |  n_replacement,
        |  CASE WHEN n_latin >= n_cyrillic AND n_latin >= n_han AND
        |         n_latin >= n_greek THEN 'latin'
        |       WHEN n_cyrillic >= n_han AND n_cyrillic >= n_greek
        |         THEN 'cyrillic'
        |       WHEN n_han >= n_greek THEN 'han'
        |       ELSE 'greek' END AS main_script
        |FROM c ORDER BY doc_id""".stripMargin,
    "q165_k_anonymity" ->
      """WITH cls AS (
        |  SELECT c_nationkey, c_mktsegment, COUNT(*) AS sz
        |  FROM customer GROUP BY 1, 2),
        |h AS (
        |  SELECT sz, COUNT(*)::BIGINT AS n_classes,
        |         SUM(sz)::BIGINT AS n_rows
        |  FROM cls GROUP BY sz),
        |t AS (SELECT COUNT(*)::BIGINT AS total FROM customer)
        |SELECT h.sz::BIGINT AS class_size, h.n_classes, h.n_rows,
        |  ROUND(h.n_rows * 100.0 / t.total, 4) AS pct_rows
        |FROM h, t ORDER BY class_size""".stripMargin,
    "q137_scd1_merge" ->
      """WITH snap AS (SELECT c_custkey AS k, 'base' AS status,
        |                CAST(ROUND(c_acctbal*100) AS BIGINT) AS bal_cents
        |              FROM customer),
        |delta AS (SELECT o_custkey AS k, 'active' AS status,
        |            CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT))
        |              AS BIGINT) AS bal_cents,
        |            o_orderdate AS version
        |          FROM orders
        |          WHERE o_orderdate >= TIMESTAMP '1998-01-01'
        |          GROUP BY o_custkey, o_orderdate),
        |latest AS (SELECT k, status, bal_cents FROM delta
        |           QUALIFY row_number() OVER (
        |             PARTITION BY k ORDER BY version DESC) = 1)
        |SELECT k, status, bal_cents FROM snap
        |WHERE k NOT IN (SELECT k FROM latest)
        |UNION ALL SELECT k, status, bal_cents FROM latest
        |ORDER BY k""".stripMargin,
    "q136_purchase_outer_clicks" ->
      """SELECT p.user_id, p.event_id AS p_event, c.event_id AS c_event
        |FROM events p LEFT JOIN events c ON c.user_id = p.user_id
        |  AND c.event_type = 'click'
        |  AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
        |WHERE p.event_type = 'purchase'
        |ORDER BY 1, 2, 3""".stripMargin,
    "q108_shipping_priority" ->
      """SELECT l.l_orderkey, o.o_orderdate,
        |  ROUND(CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount)
        |                            * 10000) AS BIGINT)) AS DOUBLE)
        |        / 10000, 2) AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |  AND o.o_orderdate < TIMESTAMP '1997-06-01'
        |  AND l.l_shipdate > TIMESTAMP '1997-06-01'
        |GROUP BY l.l_orderkey, o.o_orderdate
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q109_supplier_hhi" ->
      """WITH ps AS (
        |  SELECT p.p_type, l.l_suppkey,
        |         CAST(SUM(CAST(ROUND(l.l_quantity) AS BIGINT)) AS BIGINT) AS q
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  GROUP BY p.p_type, l.l_suppkey),
        |t AS (SELECT p_type, CAST(SUM(q) AS BIGINT) AS tot,
        |             CAST(COUNT(*) AS BIGINT) AS n_suppliers
        |      FROM ps GROUP BY p_type)
        |SELECT ps.p_type, t.n_suppliers,
        |       ROUND(CAST(SUM(CAST(ps.q AS HUGEINT) * CAST(ps.q AS HUGEINT))
        |                  AS DOUBLE) /
        |             CAST(CAST(t.tot AS HUGEINT) * CAST(t.tot AS HUGEINT)
        |                  AS DOUBLE), 6) AS hhi
        |FROM ps JOIN t USING (p_type)
        |GROUP BY ps.p_type, t.n_suppliers, t.tot
        |ORDER BY p_type""".stripMargin,
    "q110_string_suite" ->
      """SELECT p_partkey,
        |  upper(p_name) AS name_upper,
        |  translate(p_type, 'AEIOU', 'aeiou') AS type_tr,
        |  lpad(p_brand, 12, '#') AS brand_pad,
        |  split_part(p_name, ' ', 1) AS first_word,
        |  regexp_replace(p_name, '[^a-z]', '', 'g') AS letters_only,
        |  reverse(lower(p_type)) AS type_rev,
        |  CAST(length(p_name) AS BIGINT) AS name_len
        |FROM part WHERE p_partkey % 7 = 0
        |ORDER BY p_partkey""".stripMargin,
    "q111_subqueries" ->
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
        |ORDER BY c_custkey""".stripMargin,
    "q112_leakage_safe_split" ->
      s"""WITH RECURSIVE $minhashCtes,
        |pairs AS (SELECT doc_i, doc_j FROM est WHERE est_jac >= 0.5),
        |und(a, b) AS (SELECT doc_i, doc_j FROM pairs
        |              UNION SELECT doc_j, doc_i FROM pairs),
        |reach(a, b) AS (
        |  SELECT a, b FROM und
        |  UNION
        |  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
        |comp AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS component
        |         FROM reach GROUP BY a),
        |w AS (
        |  SELECT d.doc_id,
        |         CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
        |         md5(CAST(COALESCE(c.component, d.doc_id) AS VARCHAR)) AS h
        |  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id)
        |SELECT CASE WHEN h < 'c' THEN 'train'
        |            WHEN h < 'e' THEN 'valid' ELSE 'test' END AS split,
        |       CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
        |FROM w GROUP BY 1 ORDER BY split""".stripMargin,
    "q113_null_semantics" ->
      """WITH keyed AS (
        |  SELECT NULLIF(event_type, 'error') AS k, value, user_id
        |  FROM events),
        |g AS (
        |  SELECT k, CAST(COUNT(*) AS BIGINT) AS n_all,
        |         CAST(COUNT(value) AS BIGINT) AS n_vals,
        |         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users
        |  FROM keyed GROUP BY k),
        |d AS (SELECT DISTINCT k AS dk FROM keyed)
        |SELECT g.k, g.n_all, g.n_vals, g.users
        |FROM g JOIN d ON g.k IS NOT DISTINCT FROM d.dk
        |ORDER BY k NULLS FIRST""".stripMargin,
    "q114_revenue_share" ->
      """WITH pn AS (
        |  SELECT r.r_name AS region, n.n_name AS nation,
        |         CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
        |              AS BIGINT) AS cents
        |  FROM orders o
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  JOIN region r ON n.n_regionkey = r.r_regionkey
        |  GROUP BY r.r_name, n.n_name),
        |w AS (SELECT *,
        |        SUM(cents) OVER (PARTITION BY region) AS region_cents,
        |        SUM(cents) OVER () AS total_cents,
        |        RANK() OVER (PARTITION BY region
        |                     ORDER BY cents DESC, nation) AS rk
        |      FROM pn)
        |SELECT region, nation,
        |  CAST(cents AS DOUBLE) / 100 AS revenue,
        |  CAST(cents AS DOUBLE) / CAST(region_cents AS DOUBLE)
        |    AS share_of_region,
        |  CAST(cents AS DOUBLE) / CAST(total_cents AS DOUBLE)
        |    AS share_of_total,
        |  CAST(rk AS BIGINT) AS rank_in_region
        |FROM w ORDER BY region, rank_in_region""".stripMargin,
    "q115_debounce" ->
      """SELECT user_id, event_type,
        |       CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) AS hour_bucket,
        |       MIN(event_id) AS first_event,
        |       CAST(COUNT(*) AS BIGINT) AS n_events,
        |       CAST(COUNT(*) - 1 AS BIGINT) AS suppressed
        |FROM events
        |GROUP BY user_id, event_type, hour_bucket
        |ORDER BY user_id, event_type, hour_bucket""".stripMargin,
    "q116_activity_gaps" ->
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        |            FROM events),
        |g AS (SELECT user_id, day,
        |        day - lag(day) OVER (PARTITION BY user_id ORDER BY day) - 1
        |          AS gap
        |      FROM ud)
        |SELECT user_id,
        |  CAST(MAX(day) - MIN(day) + 1 AS BIGINT) AS span_days,
        |  CAST(COUNT(*) AS BIGINT) AS active_days,
        |  CAST(COALESCE(MAX(gap), 0) AS BIGINT) AS longest_gap,
        |  CAST(MAX(day) - MIN(day) + 1 - COUNT(*) AS BIGINT) AS missing_days
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q117_bounce_rate" ->
      """WITH marked AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w)
        |              > 30 * 60 * 1000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id,
        |         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id,
        |         event_id
        |  FROM marked),
        |sz AS (SELECT user_id, sess_id, COUNT(*) AS n_events
        |       FROM sess GROUP BY user_id, sess_id)
        |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS sessions,
        |       CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS bounces,
        |       CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |         / CAST(COUNT(*) AS DOUBLE) AS bounce_rate
        |FROM sz GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q118_window_extras" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderpriority AS prio,
        |         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |w AS (
        |  SELECT o_orderkey, prio, cents,
        |    cume_dist() OVER wo AS cd,
        |    nth_value(o_orderkey, 3) OVER wf AS third_key,
        |    first_value(o_orderkey) OVER wf AS cheapest,
        |    last_value(o_orderkey) OVER wf AS priciest
        |  FROM base
        |  WINDOW wo AS (PARTITION BY prio ORDER BY cents, o_orderkey),
        |         wf AS (PARTITION BY prio ORDER BY cents, o_orderkey
        |                ROWS BETWEEN UNBOUNDED PRECEDING
        |                         AND UNBOUNDED FOLLOWING))
        |SELECT o_orderkey, prio, CAST(cents AS DOUBLE) / 100 AS price,
        |       ROUND(cd, 6) AS cume_dist, third_key, cheapest, priciest
        |FROM w WHERE o_orderkey % 50 = 0
        |ORDER BY o_orderkey""".stripMargin,
    "q119_benford" ->
      """WITH c AS (
        |  SELECT CAST(substr(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
        |                          AS VARCHAR), 1, 1) AS BIGINT) AS digit
        |  FROM orders WHERE ROUND(o_totalprice * 100) > 0),
        |g AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n
        |      FROM c GROUP BY digit),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM g)
        |SELECT digit, n,
        |  CAST(n AS DOUBLE) / CAST(tot AS DOUBLE) AS share,
        |  ROUND(log10(1.0 + 1.0 / digit), 6) AS benford
        |FROM g, t ORDER BY digit""".stripMargin,
    "q120_seasonality" ->
      """WITH m AS (
        |  SELECT CAST(MONTH(o_orderdate) AS BIGINT) AS month,
        |         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
        |              AS BIGINT) AS cents,
        |         CAST(COUNT(*) AS BIGINT) AS orders
        |  FROM orders GROUP BY MONTH(o_orderdate)),
        |t AS (SELECT CAST(SUM(cents) AS BIGINT) AS tot,
        |             CAST(COUNT(*) AS BIGINT) AS n_months FROM m)
        |SELECT month, orders,
        |  CAST(cents AS DOUBLE) / 100 AS revenue,
        |  CAST(cents AS DOUBLE) * CAST(n_months AS DOUBLE)
        |    / CAST(tot AS DOUBLE) AS seasonality_index,
        |  CAST(cents AS DOUBLE) / CAST(tot AS DOUBLE) AS share
        |FROM m, t ORDER BY month""".stripMargin,
    "q121_bag_setops" ->
      """WITH a AS (SELECT event_type FROM events WHERE event_id % 2 = 0),
        |b AS (SELECT event_type FROM events WHERE event_id % 2 = 1),
        |i AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
        |      FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
        |      GROUP BY event_type),
        |e AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
        |      FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
        |      GROUP BY event_type)
        |SELECT 'intersect_all' AS op, event_type, n FROM i
        |UNION ALL
        |SELECT 'except_all' AS op, event_type, n FROM e
        |ORDER BY op, event_type NULLS FIRST""".stripMargin,
    "q122_lateral_top1" ->
      """SELECT c.c_custkey, t.o_orderkey AS best_order,
        |       t.o_totalprice AS best_price
        |FROM customer c,
        |LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
        |         WHERE o.o_custkey = c.c_custkey
        |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) t
        |ORDER BY c.c_custkey""".stripMargin,
    "q123_customer_360" ->
      """WITH rev AS (
        |  SELECT o_custkey AS cust,
        |         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
        |              AS BIGINT) AS cents
        |  FROM orders GROUP BY o_custkey),
        |eng AS (SELECT user_id AS cust, CAST(COUNT(*) AS BIGINT) AS events
        |        FROM events GROUP BY user_id),
        |j AS (
        |  SELECT COALESCE(rev.cust, eng.cust) AS cust,
        |         COALESCE(cents, 0) AS cents,
        |         COALESCE(events, 0) AS events
        |  FROM rev FULL OUTER JOIN eng ON rev.cust = eng.cust),
        |m AS (SELECT
        |        (SELECT quantile_disc(cents, 0.5) FROM j) AS med_cents,
        |        (SELECT quantile_disc(events, 0.5) FROM j WHERE events > 0)
        |          AS med_events)
        |SELECT CASE
        |         WHEN cents >= med_cents
        |              AND events > 0 AND events >= med_events
        |           THEN 'champion'
        |         WHEN cents >= med_cents THEN 'big_spender'
        |         WHEN events > 0 AND events >= med_events
        |           THEN 'window_shopper'
        |         ELSE 'dormant' END AS segment,
        |       CAST(COUNT(*) AS BIGINT) AS n_customers,
        |       CAST(SUM(cents) AS DOUBLE) / 100 AS revenue,
        |       CAST(SUM(events) AS BIGINT) AS total_events
        |FROM j, m GROUP BY segment ORDER BY segment""".stripMargin,
    "q124_gini" ->
      """WITH cust AS (
        |  SELECT o_custkey,
        |         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
        |              AS BIGINT) AS cents
        |  FROM orders GROUP BY o_custkey),
        |r AS (SELECT cents,
        |        CAST(ROW_NUMBER() OVER (ORDER BY cents, o_custkey)
        |             AS BIGINT) AS i
        |      FROM cust)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
        |  CAST(SUM(cents) AS DOUBLE) / 100 AS total_revenue,
        |  2.0 * CAST(SUM(i * cents) AS DOUBLE)
        |    / (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(cents) AS DOUBLE))
        |  - CAST(COUNT(*) + 1 AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |    AS gini
        |FROM r""".stripMargin,
    "q125_novelty" ->
      """WITH t0 AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct([array_to_string(t[i:i+2], ' ')
        |                   for i in range(1, len(t)-1)]) AS s
        |  FROM t0 WHERE len(t) >= 3),
        |idx AS (SELECT doc_id, len(s) AS n_sh, unnest(s) AS g FROM sh),
        |fo AS (SELECT g, MIN(doc_id) AS first_doc FROM idx GROUP BY g)
        |SELECT idx.doc_id, CAST(n_sh AS BIGINT) AS n_shingles,
        |  CAST(SUM(CASE WHEN fo.first_doc = idx.doc_id THEN 1 ELSE 0 END)
        |       AS BIGINT) AS novel,
        |  CAST(SUM(CASE WHEN fo.first_doc = idx.doc_id THEN 1 ELSE 0 END)
        |       AS DOUBLE) / CAST(n_sh AS DOUBLE) AS novelty
        |FROM idx JOIN fo USING (g)
        |GROUP BY idx.doc_id, n_sh ORDER BY doc_id""".stripMargin,
    "q126_vocab_growth" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
        |  FROM documents),
        |fs AS (SELECT tok, MIN(doc_id) AS first_doc FROM tok GROUP BY tok),
        |nd AS (SELECT first_doc, CAST(COUNT(*) AS BIGINT) AS new_tokens
        |       FROM fs GROUP BY first_doc)
        |SELECT first_doc AS doc_id, new_tokens,
        |  CAST(SUM(new_tokens) OVER (ORDER BY first_doc
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS vocab
        |FROM nd ORDER BY doc_id""".stripMargin,
    "q127_temperature_mixture" ->
      s"""WITH ${quotaCtesOver("documents", "m")}
         |SELECT lang, source, n_docs, quota
         |FROM mq ORDER BY lang, source""".stripMargin,
    // q199: the q42 components + q85 keeper rule + the SHARED q127
    // quota chain over both frames — three gates, one quota text
    "q199_dedup_adjusted_mixture" ->
      s"""WITH RECURSIVE $minhashCtes,
         |pairs AS (SELECT doc_i, doc_j FROM est WHERE est_jac >= 0.5),
         |und(a, b) AS (SELECT doc_i, doc_j FROM pairs
         |              UNION SELECT doc_j, doc_i FROM pairs),
         |reach(a, b) AS (
         |  SELECT a, b FROM und
         |  UNION
         |  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
         |comp AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS component
         |         FROM reach GROUP BY a),
         |cl AS (SELECT c.component, c.doc_id, d.n_chars
         |       FROM comp c JOIN documents d ON d.doc_id = c.doc_id),
         |rkd AS (SELECT component, doc_id, ROW_NUMBER() OVER (
         |          PARTITION BY component
         |          ORDER BY n_chars DESC, doc_id) AS rk
         |        FROM cl),
         |dropped AS (SELECT doc_id FROM rkd WHERE rk > 1),
         |kept AS (SELECT * FROM documents
         |         WHERE doc_id NOT IN (SELECT doc_id FROM dropped)),
         |${quotaCtesOver("documents", "bf")},
         |${quotaCtesOver("kept", "af")}
         |SELECT bf.lang, bf.source,
         |  bf.n_docs AS n_before,
         |  CAST(COALESCE(af.n_docs, 0) AS BIGINT) AS n_after,
         |  bf.quota AS quota_before,
         |  CAST(COALESCE(af.quota, 0) AS BIGINT) AS quota_after,
         |  CAST(COALESCE(af.quota, 0) - bf.quota AS BIGINT)
         |    AS quota_shift
         |FROM bfq bf LEFT JOIN afq af
         |  ON af.lang = bf.lang AND af.source = bf.source
         |ORDER BY bf.lang, bf.source""".stripMargin,
    "q128_conversion_survival" ->
      """WITH f AS (
        |  SELECT user_id,
        |         MIN(CASE WHEN event_type='click'
        |             THEN CAST(floor(epoch(ts)) AS BIGINT) END) AS fc,
        |         MIN(CASE WHEN event_type='purchase'
        |             THEN CAST(floor(epoch(ts)) AS BIGINT) END) AS fp
        |  FROM events GROUP BY user_id),
        |l AS (SELECT user_id, CAST((fp - fc) // 3600 AS BIGINT) AS lag_h
        |      FROM f
        |      WHERE fc IS NOT NULL AND fp IS NOT NULL AND fp >= fc),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM l),
        |h AS (SELECT CAST(CASE WHEN lag_h >= 24 THEN 24 ELSE lag_h END
        |               AS BIGINT) AS bucket_h,
        |             CAST(COUNT(*) AS BIGINT) AS converted
        |      FROM l GROUP BY 1)
        |SELECT bucket_h, converted,
        |       CAST(SUM(converted) OVER (ORDER BY bucket_h) AS BIGINT)
        |         AS cum_converted,
        |       CAST(n - SUM(converted) OVER (ORDER BY bucket_h) AS BIGINT)
        |         AS surviving
        |FROM h, tot ORDER BY bucket_h""".stripMargin,
    "q129_split_contamination" ->
      """WITH t0 AS (SELECT doc_id,
        |              CASE WHEN substr(md5(text), 1, 1) < 'c'
        |                   THEN 'train' ELSE 'test' END AS split,
        |              string_split(text, ' ') AS t
        |            FROM documents),
        |sh AS (
        |  SELECT doc_id, split,
        |    list_distinct([array_to_string(t[i:i+2], ' ')
        |                   for i in range(1, len(t)-1)]) AS s
        |  FROM t0 WHERE len(t) >= 3),
        |idx AS (SELECT doc_id, split, len(s) AS n_sh, unnest(s) AS g
        |        FROM sh),
        |tr AS (SELECT DISTINCT g FROM idx WHERE split = 'train')
        |SELECT idx.doc_id, CAST(n_sh AS BIGINT) AS n_shingles,
        |  CAST(SUM(CASE WHEN tr.g IS NOT NULL THEN 1 ELSE 0 END)
        |       AS BIGINT) AS contaminated,
        |  CAST(SUM(CASE WHEN tr.g IS NOT NULL THEN 1 ELSE 0 END)
        |       AS DOUBLE) / CAST(n_sh AS DOUBLE) AS contamination
        |FROM idx LEFT JOIN tr USING (g)
        |WHERE idx.split = 'test'
        |GROUP BY idx.doc_id, n_sh ORDER BY doc_id""".stripMargin,
    "q130_bm25" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' '))
        |                AS term FROM documents),
        |dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
        |stats AS (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
        |                 COUNT(*) AS n FROM dl),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
        |       WHERE term IN ('spark','table','join','vector','stream')
        |       GROUP BY doc_id, term),
        |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        |scored AS (
        |  SELECT tf.term, tf.doc_id,
        |         ln(1 + ((SELECT n FROM stats) - df.df + 0.5)
        |              / (df.df + 0.5))
        |           * (tf.tf * (1.2 + 1))
        |           / (tf.tf + 1.2 * ((1 - 0.75) + 0.75 * dl.dl
        |                / (SELECT avgdl FROM stats))) AS score
        |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id)),
        |ranked AS (
        |  SELECT term, doc_id, score, row_number() OVER (
        |    PARTITION BY term ORDER BY score DESC, doc_id) AS r
        |  FROM scored)
        |SELECT term, doc_id, round(score, 4) AS score_r
        |FROM ranked WHERE r <= 10
        |ORDER BY term, score_r DESC, doc_id""".stripMargin,
    "q131_pagerank" ->
      """WITH edges AS (
        |  SELECT DISTINCT l_suppkey AS src, 4294967296 + l_partkey AS dst
        |  FROM lineitem
        |  UNION
        |  SELECT DISTINCT 4294967296 + l_partkey AS src, l_suppkey AS dst
        |  FROM lineitem),
        |nodes AS (SELECT DISTINCT src AS node FROM edges),
        |nn AS (SELECT COUNT(*) AS n FROM nodes),
        |outdeg AS (SELECT src AS node, COUNT(*) AS outdeg FROM edges
        |           GROUP BY src),
        |r0 AS (SELECT node, 1000000000000 // (SELECT n FROM nn) AS rank
        |       FROM nodes),
        |r1 AS (SELECT n.node,
        |         (15000000000000 // (100 * (SELECT n FROM nn)))
        |         + (85 * COALESCE(SUM(c.contrib), 0)) // 100 AS rank
        |       FROM nodes n LEFT JOIN (
        |         SELECT e.dst AS node, r.rank // d.outdeg AS contrib
        |         FROM edges e JOIN r0 r ON r.node = e.src
        |         JOIN outdeg d ON d.node = e.src) c ON c.node = n.node
        |       GROUP BY n.node),
        |r2 AS (SELECT n.node,
        |         (15000000000000 // (100 * (SELECT n FROM nn)))
        |         + (85 * COALESCE(SUM(c.contrib), 0)) // 100 AS rank
        |       FROM nodes n LEFT JOIN (
        |         SELECT e.dst AS node, r.rank // d.outdeg AS contrib
        |         FROM edges e JOIN r1 r ON r.node = e.src
        |         JOIN outdeg d ON d.node = e.src) c ON c.node = n.node
        |       GROUP BY n.node),
        |r3 AS (SELECT n.node,
        |         (15000000000000 // (100 * (SELECT n FROM nn)))
        |         + (85 * COALESCE(SUM(c.contrib), 0)) // 100 AS rank
        |       FROM nodes n LEFT JOIN (
        |         SELECT e.dst AS node, r.rank // d.outdeg AS contrib
        |         FROM edges e JOIN r2 r ON r.node = e.src
        |         JOIN outdeg d ON d.node = e.src) c ON c.node = n.node
        |       GROUP BY n.node),
        |r4 AS (SELECT n.node,
        |         (15000000000000 // (100 * (SELECT n FROM nn)))
        |         + (85 * COALESCE(SUM(c.contrib), 0)) // 100 AS rank
        |       FROM nodes n LEFT JOIN (
        |         SELECT e.dst AS node, r.rank // d.outdeg AS contrib
        |         FROM edges e JOIN r3 r ON r.node = e.src
        |         JOIN outdeg d ON d.node = e.src) c ON c.node = n.node
        |       GROUP BY n.node),
        |r5 AS (SELECT n.node,
        |         (15000000000000 // (100 * (SELECT n FROM nn)))
        |         + (85 * COALESCE(SUM(c.contrib), 0)) // 100 AS rank
        |       FROM nodes n LEFT JOIN (
        |         SELECT e.dst AS node, r.rank // d.outdeg AS contrib
        |         FROM edges e JOIN r4 r ON r.node = e.src
        |         JOIN outdeg d ON d.node = e.src) c ON c.node = n.node
        |       GROUP BY n.node)
        |SELECT CASE WHEN node >= 4294967296 THEN 'part' ELSE 'supplier' END
        |         AS node_type,
        |       CASE WHEN node >= 4294967296 THEN node - 4294967296 ELSE node END
        |         AS node_key,
        |       CAST(rank AS BIGINT) AS rank_scaled
        |FROM r5 ORDER BY rank_scaled DESC, node ASC
        |LIMIT 20""".stripMargin,
    "q132_exact_substr" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
        |              FROM documents),
        |grams AS (
        |  SELECT doc_id, p, list_aggr(t[p:p+4], 'string_agg', ' ')
        |           AS gram
        |  FROM toks, unnest(range(1, len(t) - 3)) AS u(p)),
        |m AS (
        |  SELECT a.doc_id AS doc_i, b.doc_id AS doc_j,
        |         a.p AS pi, a.p - b.p AS diag
        |  FROM grams a JOIN grams b
        |    ON a.gram = b.gram AND a.doc_id < b.doc_id),
        |islands AS (
        |  SELECT doc_i, doc_j, diag,
        |         pi - row_number() OVER (
        |           PARTITION BY doc_i, doc_j, diag ORDER BY pi) AS isl
        |  FROM m),
        |runs AS (SELECT doc_i, doc_j, COUNT(*) + 4 AS lcs
        |         FROM islands GROUP BY doc_i, doc_j, diag, isl)
        |SELECT doc_i, doc_j, MAX(lcs) AS lcs_tokens
        |FROM runs GROUP BY doc_i, doc_j
        |HAVING MAX(lcs) >= 12
        |ORDER BY doc_i, doc_j""".stripMargin,
    "q133_basket_lift" ->
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS i FROM lineitem),
        |n AS (SELECT COUNT(DISTINCT o) AS n FROM items),
        |ci AS (SELECT i, COUNT(*) AS c FROM items GROUP BY i),
        |pairs AS (
        |  SELECT a.i AS part_i, b.i AS part_j, COUNT(*) AS c_ij
        |  FROM items a JOIN items b ON a.o = b.o AND a.i < b.i
        |  GROUP BY a.i, b.i),
        |lifted AS (
        |  SELECT part_i, part_j, c_ij,
        |         round(CAST(c_ij AS DOUBLE) * (SELECT n FROM n)
        |               / (ca.c * cb.c), 6) AS lift
        |  FROM pairs JOIN ci ca ON ca.i = part_i
        |             JOIN ci cb ON cb.i = part_j
        |  WHERE c_ij >= 2)
        |SELECT part_i, part_j, CAST(c_ij AS BIGINT) AS c_ij, lift
        |FROM lifted ORDER BY lift DESC, part_i, part_j
        |LIMIT 30""".stripMargin,
    // q172: min-hop BFS — recursive (node, hop) pair generation under
    // UNION dedup (bounded |V|·maxHops rows), min per node = distance
    "q172_bfs_hops" ->
      """WITH RECURSIVE edges AS (
        |  SELECT DISTINCT l_suppkey AS src, 4294967296 + l_partkey AS dst
        |  FROM lineitem
        |  UNION
        |  SELECT DISTINCT 4294967296 + l_partkey AS src, l_suppkey AS dst
        |  FROM lineitem),
        |r(node, hop) AS (
        |  SELECT CAST(7 AS BIGINT) AS node, 0 AS hop
        |  UNION
        |  SELECT e.dst, r.hop + 1
        |  FROM r JOIN edges e ON e.src = r.node WHERE r.hop < 4)
        |SELECT node, CAST(MIN(hop) AS BIGINT) AS hop
        |FROM r GROUP BY node ORDER BY hop, node""".stripMargin,
    // q177: the composed refresh replay — the q150 enrichment + scrub,
    // the q153-style keep-first exact dedup (id-cut increments arrive
    // in id order, so one keep-min-id pass == the sequential ledger),
    // the q170 minhash chain over corpus ∪ exact survivors with
    // pair-existence drops (doc_j of any est>=0.5 pair — ledger and
    // smaller-id-batch partners alike precede doc_j for id-ordered
    // increments), then the fixed stopword gate on the 4-dp ratio.
    "q177_corpus_increment" ->
      (refreshKeptCtes + """
        |SELECT doc_id, lang, source,
        |  CAST(len(string_split(st, ' ')) AS BIGINT) AS n_tokens,
        |  ROUND(CAST(len(list_filter(string_split(st, ' '),
        |      x -> x IN ('the','a','of','and'))) AS DOUBLE)
        |    / len(string_split(st, ' ')), 4) AS sw_ratio,
        |  n_email, n_phone, n_ip
        |FROM near_kept
        |WHERE len(string_split(st, ' ')) >= 40
        |ORDER BY doc_id""".stripMargin),
    // q183: the training-shard replay — q177's kept chain, then the
    // q149 quota/md5-rank selection at budget 60 over the kept rows,
    // then the q156 token-balanced shard spans at N=4 over the
    // selected docs' scrubbed text. n_words/n_chars are the TRUTH side
    // of the BPE losslessness identity and lossless is literal TRUE:
    // the hash gate thereby verifies the engine's distributed encode
    // reconstructed every selected document exactly.
    "q183_training_shards" ->
      (refreshKeptCtes + """,
        |kept AS (
        |  SELECT doc_id, lang, source, st FROM near_kept
        |  WHERE len(string_split(st, ' ')) >= 40),
        |s AS (
        |  SELECT lang, source,
        |         CAST(ROUND(1000000 * sqrt(COUNT(*))) AS BIGINT) AS w
        |  FROM kept GROUP BY lang, source),
        |t AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM s),
        |b AS (SELECT s.*, t.tw,
        |             CAST((60 * w) // tw AS BIGINT) AS base,
        |             CAST((60 * w) % tw AS BIGINT) AS rem
        |      FROM s, t),
        |r AS (SELECT *, CAST(ROW_NUMBER() OVER
        |        (ORDER BY rem DESC, lang, source) AS BIGINT) AS rk FROM b),
        |g AS (SELECT CAST(60 - SUM(base) AS BIGINT) AS leftover FROM b),
        |qd AS (SELECT lang, source,
        |         base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS quota
        |       FROM r, g),
        |rankedsel AS (
        |  SELECT k2.*, ROW_NUMBER() OVER (PARTITION BY k2.lang, k2.source
        |    ORDER BY md5(CAST(k2.doc_id AS VARCHAR)), k2.doc_id) AS rn2
        |  FROM kept k2),
        |sel AS (
        |  SELECT rankedsel.doc_id, rankedsel.lang, rankedsel.source,
        |         rankedsel.st
        |  FROM rankedsel JOIN qd
        |    ON qd.lang = rankedsel.lang AND qd.source = rankedsel.source
        |  WHERE rn2 <= quota),
        |shbase AS (
        |  SELECT doc_id, lang, source, st,
        |    CAST(len(string_split(st, ' ')) AS BIGINT) AS n_tokens,
        |    CAST(concat('0x', substr(md5(
        |      CAST(doc_id AS VARCHAR) || ':shard'), 1, 8)) AS BIGINT)
        |      AS hkey
        |  FROM sel),
        |shcum AS (
        |  SELECT *,
        |    SUM(n_tokens) OVER (ORDER BY hkey, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(n_tokens) OVER () AS tot
        |  FROM shbase),
        |sharded AS (
        |  SELECT *, LEAST(CAST(FLOOR((cum - n_tokens) * 4.0 / tot)
        |    AS BIGINT), 3) AS shard
        |  FROM shcum)
        |SELECT doc_id, lang, source, CAST(shard AS INT) AS shard,
        |  ROW_NUMBER() OVER (PARTITION BY shard
        |    ORDER BY hkey, doc_id) AS pos,
        |  n_tokens,
        |  CAST(len(string_split(st, ' ')) AS BIGINT) AS n_words,
        |  CAST(len(replace(st, ' ', '')) AS BIGINT) AS n_chars,
        |  TRUE AS lossless
        |FROM sharded ORDER BY doc_id""".stripMargin),
    // q168/q175: theta sketches in EXACT mode on the fixture
    // (|users| < nomEntries ⇒ θ=1): the estimates ARE the exact
    // distinct counts, so the q79/q88 relational bodies serve as
    // full hash oracles on the rounded-estimate columns
    "q168_theta_overlap" ->
      """WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
        |s AS (SELECT event_type, COUNT(*) AS n FROM tu GROUP BY event_type),
        |p AS (
        |  SELECT a.event_type AS ta, b.event_type AS tb, COUNT(*) AS inter
        |  FROM tu a JOIN tu b
        |    ON a.user_id = b.user_id AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT sa.event_type AS type_a, sb.event_type AS type_b,
        |  ROUND(CAST(sa.n AS DOUBLE), 1) AS est_a,
        |  ROUND(CAST(sb.n AS DOUBLE), 1) AS est_b,
        |  ROUND(CAST(COALESCE(inter, 0) AS DOUBLE), 1) AS est_both,
        |  ROUND(CAST(sa.n - COALESCE(inter, 0) AS DOUBLE), 1) AS est_a_only
        |FROM s sa JOIN s sb ON sa.event_type < sb.event_type
        |LEFT JOIN p ON p.ta = sa.event_type AND p.tb = sb.event_type
        |ORDER BY type_a, type_b""".stripMargin,
    "q175_theta_retention" ->
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |fs AS (SELECT user_id, MIN(day) AS first_day FROM ud GROUP BY user_id)
        |SELECT day,
        |  ROUND(CAST(COUNT(*) AS DOUBLE), 1) AS est_active,
        |  ROUND(CAST(SUM(CASE WHEN day = first_day THEN 1 ELSE 0 END)
        |        AS DOUBLE), 1) AS est_new,
        |  ROUND(CAST(COUNT(*) - SUM(CASE WHEN day = first_day THEN 1 ELSE 0 END)
        |        AS DOUBLE), 1) AS est_returning
        |FROM ud JOIN fs USING (user_id)
        |GROUP BY day ORDER BY day""".stripMargin,
    // q178: exact two-period KS — the argmax runs on the INTEGER
    // cross-product form |cum1·n2 − cum2·n1| (division only in the
    // one final rounded ratio), so the statistic hashes exactly
    "q178_ks_drift" ->
      """WITH e AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, value
        |  FROM events WHERE value IS NOT NULL),
        |b AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM e),
        |g AS (
        |  SELECT event_type, value,
        |    SUM(CASE WHEN (day - d0) * 2 <= (d1 - d0)
        |        THEN 1 ELSE 0 END) AS c1,
        |    SUM(CASE WHEN (day - d0) * 2 <= (d1 - d0)
        |        THEN 0 ELSE 1 END) AS c2
        |  FROM e, b GROUP BY event_type, value),
        |c AS (
        |  SELECT event_type, value,
        |    SUM(c1) OVER w AS cum1, SUM(c2) OVER w AS cum2
        |  FROM g
        |  WINDOW w AS (PARTITION BY event_type ORDER BY value)),
        |t AS (SELECT event_type, SUM(c1) AS n1, SUM(c2) AS n2
        |      FROM g GROUP BY event_type)
        |SELECT c.event_type,
        |  CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
        |  CAST(MAX(ABS(cum1 * n2 - cum2 * n1)) AS BIGINT) AS ks_num,
        |  CASE WHEN n1 * n2 = 0 THEN NULL
        |       ELSE ROUND(CAST(MAX(ABS(cum1 * n2 - cum2 * n1)) AS DOUBLE)
        |                  / (n1 * n2), 6) END AS ks
        |FROM c JOIN t USING (event_type)
        |GROUP BY c.event_type, n1, n2
        |ORDER BY c.event_type""".stripMargin,
    // q173: the n-scaled CUSUM statistic is pure BIGINT arithmetic —
    // no division, so the argmax day and statistic hash bit-for-bit
    "q173_cusum_changepoint" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |s AS (
        |  SELECT event_type, day, c,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS d,
        |    SUM(c) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n,
        |    SUM(c) OVER (PARTITION BY event_type) AS total
        |  FROM daily)
        |SELECT event_type, CAST(n AS BIGINT) AS n_days,
        |  CAST(total AS BIGINT) AS total_events, day AS cp_day,
        |  CAST(n * cum - d * total AS BIGINT) AS cusum_stat,
        |  CAST(ABS(n * cum - d * total) AS BIGINT) AS cusum_abs
        |FROM s
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY event_type
        |  ORDER BY ABS(n * cum - d * total) DESC, d ASC) = 1
        |ORDER BY event_type""".stripMargin,
    // q176: integer sign sums over the q174 pair frame; + 0.0 folds
    // a −0.0 tau (all-decreasing τ = −0 cannot occur, but a tiny
    // negative rounded ratio can)
    "q176_mann_kendall" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |i AS (SELECT event_type, c,
        |        ROW_NUMBER() OVER (PARTITION BY event_type
        |          ORDER BY day) AS d
        |      FROM daily),
        |p AS (SELECT a.event_type,
        |        CAST(SIGN(b.c - a.c) AS BIGINT) AS s
        |      FROM i a JOIN i b
        |        ON a.event_type = b.event_type AND a.d < b.d)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  CAST(SUM(s) AS BIGINT) AS s_stat,
        |  ROUND(SUM(s)::DOUBLE / COUNT(*), 4) + 0.0 AS tau
        |FROM p GROUP BY event_type ORDER BY event_type""".stripMargin,
    // q174: pairwise slopes over the daily aggregate; medians via
    // quantile_cont (two-pass-equivalence proven by the q44/q49 gates)
    "q174_theil_sen" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |i AS (SELECT event_type, c,
        |        ROW_NUMBER() OVER (PARTITION BY event_type
        |          ORDER BY day) AS d
        |      FROM daily),
        |p AS (SELECT a.event_type,
        |        (b.c - a.c)::DOUBLE / (b.d - a.d) AS slope
        |      FROM i a JOIN i b
        |        ON a.event_type = b.event_type AND a.d < b.d),
        |sm AS (SELECT event_type,
        |         ROUND(quantile_cont(slope, 0.5), 4) AS slope_med
        |       FROM p GROUP BY 1),
        |lm AS (SELECT event_type, COUNT(*) AS n_days,
        |         ROUND(quantile_cont(c, 0.5), 4) AS level_med
        |       FROM daily GROUP BY 1)
        |SELECT lm.event_type, CAST(lm.n_days AS BIGINT) AS n_days,
        |  sm.slope_med, lm.level_med
        |FROM lm JOIN sm USING (event_type)
        |ORDER BY event_type""".stripMargin,
    "q134_personalized_pagerank" ->
      """WITH edges AS (
        |  SELECT DISTINCT l_suppkey AS src, 4294967296 + l_partkey AS dst
        |  FROM lineitem
        |  UNION
        |  SELECT DISTINCT 4294967296 + l_partkey AS src, l_suppkey AS dst
        |  FROM lineitem),
        |nodes AS (SELECT DISTINCT src AS node FROM edges),
        |outdeg AS (SELECT src AS node, COUNT(*) AS outdeg FROM edges
        |           GROUP BY src),
        |r0 AS (SELECT node, CASE WHEN node = 7 THEN 1000000000000
        |                         ELSE 0 END AS rank FROM nodes),
        |r1 AS (SELECT n.node,
        |         CASE WHEN n.node = 7 THEN 150000000000 ELSE 0 END
        |         + (85 * COALESCE(SUM(c.contrib), 0)) // 100 AS rank
        |       FROM nodes n LEFT JOIN (
        |         SELECT e.dst AS node, r.rank // d.outdeg AS contrib
        |         FROM edges e JOIN r0 r ON r.node = e.src
        |         JOIN outdeg d ON d.node = e.src) c ON c.node = n.node
        |       GROUP BY n.node),
        |r2 AS (SELECT n.node,
        |         CASE WHEN n.node = 7 THEN 150000000000 ELSE 0 END
        |         + (85 * COALESCE(SUM(c.contrib), 0)) // 100 AS rank
        |       FROM nodes n LEFT JOIN (
        |         SELECT e.dst AS node, r.rank // d.outdeg AS contrib
        |         FROM edges e JOIN r1 r ON r.node = e.src
        |         JOIN outdeg d ON d.node = e.src) c ON c.node = n.node
        |       GROUP BY n.node),
        |r3 AS (SELECT n.node,
        |         CASE WHEN n.node = 7 THEN 150000000000 ELSE 0 END
        |         + (85 * COALESCE(SUM(c.contrib), 0)) // 100 AS rank
        |       FROM nodes n LEFT JOIN (
        |         SELECT e.dst AS node, r.rank // d.outdeg AS contrib
        |         FROM edges e JOIN r2 r ON r.node = e.src
        |         JOIN outdeg d ON d.node = e.src) c ON c.node = n.node
        |       GROUP BY n.node),
        |r4 AS (SELECT n.node,
        |         CASE WHEN n.node = 7 THEN 150000000000 ELSE 0 END
        |         + (85 * COALESCE(SUM(c.contrib), 0)) // 100 AS rank
        |       FROM nodes n LEFT JOIN (
        |         SELECT e.dst AS node, r.rank // d.outdeg AS contrib
        |         FROM edges e JOIN r3 r ON r.node = e.src
        |         JOIN outdeg d ON d.node = e.src) c ON c.node = n.node
        |       GROUP BY n.node),
        |r5 AS (SELECT n.node,
        |         CASE WHEN n.node = 7 THEN 150000000000 ELSE 0 END
        |         + (85 * COALESCE(SUM(c.contrib), 0)) // 100 AS rank
        |       FROM nodes n LEFT JOIN (
        |         SELECT e.dst AS node, r.rank // d.outdeg AS contrib
        |         FROM edges e JOIN r4 r ON r.node = e.src
        |         JOIN outdeg d ON d.node = e.src) c ON c.node = n.node
        |       GROUP BY n.node)
        |SELECT CAST(node - 4294967296 AS BIGINT) AS part_key,
        |       CAST(rank AS BIGINT) AS rank_scaled
        |FROM r5 WHERE node >= 4294967296 AND rank > 0
        |ORDER BY rank_scaled DESC, part_key
        |LIMIT 15""".stripMargin,
    "q70_iqr_outliers" ->
      """WITH q AS (
        |  SELECT event_type,
        |         quantile_cont(value, 0.25) AS q1, quantile_cont(value, 0.75) AS q3
        |  FROM events GROUP BY event_type),
        |b AS (SELECT event_type, q1, q3,
        |             q1 - 1.5*(q3-q1) AS lo, q3 + 1.5*(q3-q1) AS hi FROM q)
        |SELECT e.event_type,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(CASE WHEN e.value < b.lo OR e.value > b.hi THEN 1 ELSE 0 END) AS BIGINT) AS outliers,
        |       ROUND(b.q1, 4) AS q1, ROUND(b.q3, 4) AS q3
        |FROM events e JOIN b USING (event_type)
        |GROUP BY e.event_type, b.q1, b.q3
        |ORDER BY e.event_type""".stripMargin,
    "q54_topk_agg" ->
      """SELECT l_returnflag, rk, price FROM (
        |  SELECT l_returnflag,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY l_returnflag
        |                                 ORDER BY l_extendedprice DESC) AS BIGINT) AS rk,
        |         ROUND(l_extendedprice, 2) AS price
        |  FROM lineitem) t
        |WHERE rk <= 5
        |ORDER BY l_returnflag, rk""".stripMargin,
    "q53_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |tfc AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok),
        |dfc AS (SELECT tok, COUNT(*) AS df FROM tfc GROUP BY tok),
        |n AS (SELECT COUNT(*) AS n FROM documents),
        |wtd AS (
        |  SELECT doc_id, tok,
        |         ROUND(tf * ln(CAST(n.n AS DOUBLE) / df), 4) AS tfidf
        |  FROM tfc JOIN dfc USING (tok) CROSS JOIN n),
        |rk AS (
        |  SELECT doc_id, tok, tfidf,
        |         ROW_NUMBER() OVER (PARTITION BY doc_id
        |                            ORDER BY tfidf DESC, tok) AS rk
        |  FROM wtd)
        |SELECT doc_id, tok, tfidf, rk FROM rk WHERE rk <= 3
        |ORDER BY doc_id, rk""".stripMargin,
    "q52_funnel" ->
      """WITH fv AS (
        |  SELECT user_id, MIN(ts) AS first_view
        |  FROM events WHERE event_type = 'view' GROUP BY user_id)
        |SELECT fv.user_id, COUNT(c.ts) AS clicks_1h,
        |       MAX(CASE WHEN c.ts IS NOT NULL THEN 1 ELSE 0 END) AS converted
        |FROM fv LEFT JOIN events c
        |  ON c.user_id = fv.user_id AND c.event_type = 'click'
        | AND c.ts > fv.first_view
        | AND c.ts <= fv.first_view + INTERVAL 1 HOUR
        |GROUP BY fv.user_id
        |ORDER BY fv.user_id""".stripMargin,
    "q44_stats_agg" ->
      """SELECT l_returnflag,
        |       ROUND(quantile_cont(l_extendedprice, 0.5), 2) AS med,
        |       ROUND(quantile_cont(l_extendedprice, 0.9), 2) AS p90,
        |       ROUND(corr(l_quantity, l_extendedprice), 4) AS c,
        |       ROUND(stddev_samp(l_discount), 4) AS sd
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q45_window_suite" ->
      """SELECT event_type, event_id,
        |       CAST(RANK() OVER w AS BIGINT) AS rnk,
        |       CAST(DENSE_RANK() OVER w AS BIGINT) AS drnk,
        |       ROUND(PERCENT_RANK() OVER w, 6) AS prnk,
        |       CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
        |       ROUND(value - COALESCE(LAG(value, 1) OVER w, 0.0), 4) AS delta_prev,
        |       ROUND(COALESCE(LEAD(value, 1) OVER w, 0.0) - value, 4) AS delta_next
        |FROM events
        |WHERE user_id < 20
        |WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
        |ORDER BY event_type, event_id""".stripMargin,
    "q38_json_extract" ->
      """SELECT event_type, COUNT(*) AS n,
        |       ROUND(AVG(CAST(props->>'k' AS INTEGER)), 4) AS avg_k,
        |       MIN(CAST(props->>'k' AS INTEGER)) AS min_k,
        |       MAX(CAST(props->>'k' AS INTEGER)) AS max_k
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q27_feature_matrix" -> {
      val sites = Seq("click", "error", "purchase", "signup", "view")
      val cols = sites.map(s =>
        s"""  ROUND(SUM(CASE WHEN site='$s' THEN pageviews ELSE 0 END), 2) AS pageviews_$s,
           |  ROUND(SUM(CASE WHEN site='$s' THEN rank ELSE 0 END), 6) AS rank_$s,
           |  MAX(CASE WHEN site='$s' THEN 1.0 ELSE 0.0 END) AS exists_$s""".stripMargin)
        .mkString(",\n")
      s"""WITH parsed AS (
         |  SELECT CAST(user_id AS VARCHAR) || '-' ||
         |         CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) AS id,
         |         event_type AS site, SUM(value) AS pageviews
         |  FROM events GROUP BY 1, 2),
         |ranked AS (
         |  SELECT id, site, pageviews,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY site
         |           ORDER BY ROUND(pageviews, 2), id) AS DOUBLE)
         |           / COUNT(*) OVER (PARTITION BY site) AS rank
         |  FROM parsed)
         |SELECT id,
         |$cols
         |FROM ranked GROUP BY id ORDER BY id""".stripMargin
    },
    // session_window semantics: an event extends the session while
    // ts < prev_end (= prev_ts + gap), so a NEW session starts when the
    // gap is >= 30 minutes — hence >= here vs q15's strict >.
    "q28_session_window" ->
      """WITH flagged AS (
        |  SELECT user_id,
        |         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |                   >= INTERVAL 30 MINUTE
        |              THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |)
        |SELECT user_id, CAST(1 + SUM(new_sess) AS BIGINT) AS sessions, COUNT(*) AS events
        |FROM flagged
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,
    "q31_sql_surface" ->
      """SELECT event_type AS site, user_id,
        |       ROUND(SUM(value), 2) AS pageviews
        |FROM events
        |WHERE EXTRACT(YEAR FROM ts) = 2024 AND EXTRACT(MONTH FROM ts) = 1
        |  AND EXTRACT(DAY FROM ts) <= 7
        |GROUP BY event_type, user_id
        |ORDER BY site, user_id""".stripMargin,
    "q32_expr_join" ->
      """SELECT p.p_brand, COUNT(*) AS n, ROUND(SUM(l.l_extendedprice), 2) AS rev
        |FROM lineitem l
        |JOIN part p ON l.l_partkey = p.p_partkey AND l.l_quantity > p.p_size
        |GROUP BY p.p_brand
        |ORDER BY p.p_brand""".stripMargin,
    // documents.text is pure ASCII (verified per-SF), so DuckDB varchar
    // md5/substring equal Spark's binary md5/substring over UTF-8 bytes.
    "q29_media_stats" ->
      """SELECT doc_id,
        |       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |       md5(text) AS content_hash,
        |       CAST(octet_length(encode(text)) % 640 + 1 AS INTEGER) AS width,
        |       CAST(octet_length(encode(text)) % 480 + 1 AS INTEGER) AS height
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    "q30_frame_sample" ->
      """SELECT doc_id, CAST(i AS BIGINT) AS frame_no,
        |       CAST(octet_length(encode(substring(text, CAST(i*16+1 AS BIGINT), 16))) AS BIGINT) AS frame_bytes,
        |       md5(substring(text, CAST(i*16+1 AS BIGINT), 16)) AS frame_hash
        |FROM documents, range(0, 4) t(i)
        |WHERE octet_length(encode(substring(text, CAST(i*16+1 AS BIGINT), 16))) > 0
        |ORDER BY doc_id, frame_no""".stripMargin,
  )
}
