package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for the LLM-data-pipeline surface (SURVEY
  * §2.10 X1/X2): exact, prefix-key, n-gram Jaccard, MinHash+LSH, and
  * SimHash near-dup detection over the `documents` table.
  *
  * Scale design (the point of every operator here):
  *  - NOTHING does a cross join. Candidate generation is always an
  *    equi-join on a derived key (hash, shingle, LSH band, SimHash
  *    band), so Spark shuffles on that key and the work is proportional
  *    to matching pairs, not |docs|².
  *  - All hashes are md5 (Catalyst-native, codegen'd) so a SQL oracle
  *    can reproduce them bit-for-bit; nothing depends on JVM hashCode.
  *  - Every stage is a plain projection / groupBy / join — AQE handles
  *    skewed shingle keys (stopword-heavy shingles) by splitting.
  */
object Dedup {

  /** Word n-gram shingles of a text column (n consecutive whitespace
    * tokens joined by a space), empty array when the document is
    * shorter than n tokens. Guarded: Spark's `sequence(1, x)` DESCENDS
    * for x < 1, so the short-document case must short-circuit.
    */
  def shingles(text: Column, n: Int = 3): Column = {
    val toks = split(text, " ")
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
  }

  /** Exploded 64-bit fingerprints of every n-token window, WITHOUT a
    * higher-order-function lambda: positions come from
    * `explode(sequence(...))` and the window hash is the TOP-LEVEL
    * expression `xxhash64(concat_ws(" ", slice(toks, i, n)))`, so
    * split/sequence/slice/concat_ws/xxhash64 all run inside one
    * WholeStageCodegen span. The old `transform`-lambda shingle path
    * evaluated INTERPRETED (Spark higher-order functions don't
    * codegen their lambdas) and that — not the string building —
    * dominated the corpus-scan profile: rewriting q95 this way
    * measured 3.4× faster at sf0.1. NOT distinct: callers that need
    * set semantics dedup where it's cheap for THEIR plan (after a
    * broadcast join, in an existing distinct shuffle, or via
    * count_distinct in an existing aggregate). Hash domain is the
    * shingle STRING — identical to [[shingles]]+xxhash64, so sides
    * built either way join consistently. */
  /** [[windowFingerprints]] keyed by doc_id — the shape shared with
    * TextAnalysis (q125/q210) and NgramLedger (q200 family). NOT
    * distinct; callers add `.distinct()`/count_distinct where their
    * plan needs set semantics. */
  def docWindowFingerprints(documents: DataFrame, n: Int): DataFrame =
    windowFingerprints(documents, n, col("doc_id"))

  private def windowFingerprints(
      side: DataFrame, n: Int, keep: Column*): DataFrame = {
    val first = side.select(keep :+ split(col("text"), " ").as("toks"): _*)
    // keep columns are EXPRESSIONS (possibly aliased over inputs that
    // exist only upstream, e.g. q129's splitOf(text)); downstream of
    // the first select they must be referenced by OUTPUT name
    val keepNames = first.columns.dropRight(1).map(col(_))
    first
      .filter(size(col("toks")) >= n)
      .select(keepNames ++ Seq(col("toks"),
        explode(sequence(lit(1), size(col("toks")) - (n - 1)))
          .as("i")): _*)
      .select(keepNames :+ xxhash64(concat_ws(" ",
        slice(col("toks"), col("i"), lit(n)))).as("g"): _*)
  }

  /** q17 — exact dedup: group documents by full-text md5, report groups
    * with >1 member and the keeper (min doc_id) — the hash-groupBy
    * formulation that scales (shuffle on the 128-bit hash, never on the
    * text itself; at 100 TB the text column is pruned away before the
    * shuffle). */
  def exactDupGroups(documents: DataFrame): DataFrame =
    documents
      .groupBy(md5(col("text")).as("h"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("keeper"))
      .filter(col("n") > 1)
      .orderBy("h")

  /** q17b — prefix-key dedup: same hash-groupBy over the first
    * `prefixTokens` tokens — catches boilerplate-prefix duplicates that
    * full-text hashing misses. */
  def prefixDupGroups(documents: DataFrame, prefixTokens: Int = 5): DataFrame =
    documents
      .groupBy(
        md5(concat_ws(" ", slice(split(col("text"), " "), 1, prefixTokens)))
          .as("h"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("keeper"))
      .filter(col("n") > 1)
      .orderBy("h")

  /** Input-split underflow guard — see [[Spread]]. */
  private def spread(df: DataFrame): DataFrame = Spread(df)

  /** Inverted index that also carries the per-document distinct-shingle
    * count on every exploded row. Slightly wider shuffle rows, but it
    * removes the separate `sizes` aggregate + two re-joins the old plan
    * needed — and with it the persist that used to leak.
    *
    * The exploded shingle is carried as its 64-bit xxhash, not the
    * string: the self-join only needs EQUALITY of shingles, so an
    * 8-byte key replaces a ~n·8-byte string in the shuffle and the
    * join/aggregate compare longs. Distinctness (n_sh) is computed on
    * the true strings first. A cross-shingle hash collision adds 1 to
    * one pair's `shared` with probability ~V²/2⁶⁵ (V = corpus shingle
    * vocabulary) — the standard shingle-hashing tradeoff (Broder '97
    * fingerprints); at any realistic vocabulary it is dominated by the
    * thresholds downstream. */
  private def sizedShingleIndex(documents: DataFrame, n: Int): DataFrame =
    // same one-groupBy trade as [[shingleSets]]: the codegen'd window
    // stream replaces the interpreted transform-lambda scan, and the
    // per-doc distinct set (with its size on every exploded row)
    // comes back out of the collect_set — output identical to the old
    // per-row array path, one exchange earlier in the plan
    windowFingerprints(spread(documents), n, col("doc_id"))
      .groupBy("doc_id")
      .agg(collect_set(col("g")).as("sh"))
      .select(col("doc_id"), size(col("sh")).as("n_sh"),
        explode(col("sh")).as("shingle"))

  /** Shared core of q19/q43: for every document pair sharing at least
    * one n-gram shingle, emit (doc_i, doc_j, shared, n_i, n_j) — the
    * sufficient statistics for BOTH Jaccard and containment, computed
    * ONCE. Candidate generation is the inverted-index self-join on
    * shingle: cost Σ_shingle df(shingle)², proportional to actual
    * sharing, never |docs|². Both join sides are the identical subplan,
    * so Spark shuffles the index once and reuses the Exchange — no
    * persist needed, nothing leaks.
    *
    * The optional stopword-shingle cap drops shingles with
    * df > maxShingleDf before the join (bounds the df² blowup at scale);
    * it makes |A∩B| approximate, so the exact-oracle paths never set it.
    */
  def ngramOverlapPairs(
      documents: DataFrame, n: Int = 3,
      maxShingleDf: Option[Int] = None): DataFrame = {
    val fullIdx = sizedShingleIndex(documents, n)
    val idx = maxShingleDf.fold(fullIdx) { cap =>
      // capped path (opt-in heuristic): drop ubiquitous shingles, then
      // recount n_sh over the surviving universe so the ratio semantics
      // stay internally consistent
      val hot = fullIdx.groupBy("shingle")
        .agg(count(lit(1)).as("df")).filter(col("df") > cap)
        .select("shingle")
      val kept = fullIdx.drop("n_sh")
        .join(broadcast(hot), Seq("shingle"), "left_anti")
      val sizes = kept.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
      kept.join(sizes, "doc_id")
    }
    idx.as("a")
      .join(idx.as("b"),
        col("a.shingle") === col("b.shingle")
          && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_i"), col("b.doc_id").as("doc_j"))
      .agg(count(lit(1)).as("shared"),
        // n_sh is constant per doc_id; max() just carries it through
        max(col("a.n_sh")).as("n_i"), max(col("b.n_sh")).as("n_j"))
  }

  /** q19 — exact n-gram Jaccard near-dup pairs ≥ `minJaccard`:
    * |A∩B| / (|A|+|B|−|A∩B|) projected from [[ngramOverlapPairs]]. */
  def ngramJaccardPairs(
      documents: DataFrame, n: Int = 3, minJaccard: Double = 0.5,
      maxShingleDf: Option[Int] = None): DataFrame =
    ngramOverlapPairs(documents, n, maxShingleDf)
      .select(
        col("doc_i"), col("doc_j"),
        round(col("shared").cast("double")
          / (col("n_i") + col("n_j") - col("shared")), 4).as("jac"))
      .filter(col("jac") >= minJaccard)
      .orderBy("doc_i", "doc_j")

  /** q43 — n-gram containment pairs: containment(A in B) = |A∩B|/|A|,
    * the asymmetric overlap that catches quotation/subset duplication
    * (a short doc embedded in a long one scores high containment but
    * low Jaccard). Cheap projection over the same [[ngramOverlapPairs]]
    * statistics q19 uses; emits pairs where either direction clears
    * `minContainment`. */
  def ngramContainmentPairs(
      documents: DataFrame, n: Int = 3,
      minContainment: Double = 0.8): DataFrame =
    ngramOverlapPairs(documents, n)
      .select(
        col("doc_i"), col("doc_j"),
        round(col("shared").cast("double") / col("n_i"), 4).as("cont_i"),
        round(col("shared").cast("double") / col("n_j"), 4).as("cont_j"))
      .filter(col("cont_i") >= minContainment
        || col("cont_j") >= minContainment)
      .orderBy("doc_i", "doc_j")

  /** Exact n-gram Jaccard via AllPairs-style prefix filtering: for
    * Jaccard ≥ t a pair must share ≥ ⌈t·|A|⌉ shingles, so under ANY
    * fixed global shingle order the first |A| − ⌈t·|A|⌉ + 1 shingles of
    * each doc (its "prefix") must intersect the other's prefix —
    * indexing only prefixes shrinks the candidate self-join
    * quadratically while staying EXACT. Verification computes true
    * Jaccard from per-doc shingle-hash arrays with `array_intersect`
    * (cheap per candidate), not another index join.
    *
    * The global order is the 8-byte xxhash64 of the shingle —
    * deterministic, and 4× narrower on the wire than an md5 hex string,
    * which matters because the verify join ships a full fingerprint
    * array per candidate side (the dominant shuffle payload of this
    * operator). Fingerprints never leave the engine — the output is
    * (doc_i, doc_j, jac) — so cross-engine hash portability is not
    * required here; only determinism within a run is. A 64-bit
    * collision between two distinct shingles of the same pair would
    * perturb `shared` by 1 (probability ~2⁻⁶⁵·V², the same bound
    * [[sizedShingleIndex]] documents). Output is identical to
    * [[ngramJaccardPairs]] (asserted in DedupSpec).
    *
    * WHEN TO USE WHICH (measured): prefix filtering wins on natural
    * text (huge shingle space, sparse sharing — candidates collapse
    * quadratically). On the synthetic testdata's ~30-word vocabulary it
    * LOSES (~3× slower at sf0.1): prefixes barely prune, and the
    * verify join ships ~1.6 KB hash arrays per candidate where the
    * naive form counts narrow rows. q19 therefore uses
    * [[ngramJaccardPairs]]; real-corpus deployments should prefer this
    * one.
    */
  /** PPJoin candidate pairs from a `(doc_id, sh, n_sh)` shingle-set
    * frame: prefix-match join plus (when `ppjoin`) the length and
    * positional filters of Xiao et al., "Efficient Similarity Joins
    * for Near Duplicate Detection" (WWW '08) — both EXACT:
    *
    *  - length: Jac ≥ t forces min(|A|,|B|) ≥ t·max(|A|,|B|) (overlap
    *    is at most the smaller set);
    *  - positional: a pair needs overlap α = ⌈t/(1+t)·(|A|+|B|)⌉; for
    *    a prefix element matched at (1-based) positions (pa, pb), the
    *    overlap can be at most 1 + min(|A|−pa, |B|−pb). The per-match
    *    filter is sound because the FIRST common shingle in the global
    *    order always lies in both prefixes (prefix-filter theorem) and
    *    its match row satisfies the bound whenever the pair truly
    *    qualifies — later match rows may fail it, but `distinct`
    *    only needs one surviving row.
    *
    * Boundary epsilon: 1e-9 absorbs double rounding of t·max (e.g.
    * 0.3·10 = 3.0000000000000004 would drop an exactly-boundary pair).
    * Exposed (not private) so DedupSpec can count candidates with the
    * filters on and off. */
  def prefixCandidates(
      sets: DataFrame, t: Double, ppjoin: Boolean = true): DataFrame = {
    val prefixIdx = sets.select(
      col("doc_id"), col("n_sh"),
      posexplode(slice(col("sh"), lit(1),
        (col("n_sh") - ceil(col("n_sh") * t) + 1).cast("int"))))
      .select(col("doc_id"), col("n_sh"),
        (col("pos") + 1).as("p"), col("col").as("h"))
    val eps = 1e-9
    val base = col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id")
    val joinCond = if (!ppjoin) base else base &&
      (least(col("a.n_sh"), col("b.n_sh")) + lit(eps)
        >= lit(t) * greatest(col("a.n_sh"), col("b.n_sh"))) &&
      (least(col("a.n_sh") - col("a.p"), col("b.n_sh") - col("b.p"))
        + lit(1) + lit(eps)
        >= lit(t / (1 + t)) * (col("a.n_sh") + col("b.n_sh")))
    prefixIdx.as("a")
      .join(prefixIdx.as("b"), joinCond)
      .select(col("a.doc_id").as("doc_i"), col("b.doc_id").as("doc_j"))
      .distinct()
  }

  /** Shingle-set frame feeding [[prefixCandidates]]: per doc, the
    * sorted distinct xxhash64 fingerprints and their count. */
  def shingleSets(documents: DataFrame, n: Int = 3): DataFrame =
    // codegen'd window stream + collect_set, byte-identical output to
    // the old per-row transform-lambda path (same xxhash64-of-string
    // hash domain, same sort) — the one groupBy shuffle buys the scan
    // out of interpreted lambda evaluation (see windowFingerprints)
    windowFingerprints(spread(documents), n, col("doc_id"))
      .groupBy("doc_id")
      .agg(sort_array(collect_set(col("g"))).as("sh"))
      .withColumn("n_sh", size(col("sh")))
      .filter(col("n_sh") > 0)

  def ngramJaccardPairsPrefix(
      documents: DataFrame, n: Int = 3,
      minJaccard: Double = 0.5): DataFrame = {
    val t = minJaccard
    val sets = shingleSets(documents, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = prefixCandidates(sets, t)
    val result = cand
      .join(sets.select(col("doc_id").as("doc_i"), col("sh").as("sa"),
        col("n_sh").as("na")), "doc_i")
      .join(sets.select(col("doc_id").as("doc_j"), col("sh").as("sb"),
        col("n_sh").as("nb")), "doc_j")
      .select(col("doc_i"), col("doc_j"),
        size(array_intersect(col("sa"), col("sb"))).as("shared"),
        col("na"), col("nb"))
      .select(col("doc_i"), col("doc_j"),
        round(col("shared").cast("double")
          / (col("na") + col("nb") - col("shared")), 4).as("jac"))
      .filter(col("jac") >= minJaccard)
      .orderBy("doc_i", "doc_j")
    // scale-gate the full plan BEFORE the checkpoint truncates its
    // lineage (post-hoc audits would only see the LogicalRDD root),
    // then eager-materialize the (small) pair list and release the
    // shingle-set cache — `sets` genuinely feeds three join branches,
    // so it must persist during the run but must not outlive it
    val out = graft.plans.PlanAudit.assertScalable(result)
      .localCheckpoint(eager = true)
    sets.unpersist()
    out
  }

  /** Deterministic REALISTIC-VOCABULARY twin of the documents fixture
    * — the arm where prefix filtering can actually prune (round-9
    * Next #7). The stock fixture's ~30-word vocabulary is AllPairs'
    * documented worst case: every shingle is corpus-common, prefixes
    * prune nothing, and q135's bench row shows the penalty rather
    * than the operator's value. This slice rebuilds each doc from
    * md5-derived 10-char surrogate tokens (vocabulary ~ corpus size,
    * the realistic web-corpus regime) with planted structure:
    *  - tokens 0–2   shared by the doc's GROUP (doc_id mod ~n/16,
    *    ~16 docs): exactly ONE shared 3-gram shingle (Jaccard ≈
    *    0.013) — the naive inverted-index candidate class that
    *    prefix+PPJoin must prune (a single shared shingle passes the
    *    positional filter only when its hash ranks early in BOTH
    *    docs' sorted shingle lists, ~1/3 of pairs);
    *  - tokens 3–35  shared by the doc's CLIQUE (doc_id mod ~n/2,
    *    ~2 docs): true near-dups (31 shared of 45 distinct shingles,
    *    Jaccard ≈ 0.689 ≥ 0.5);
    *  - tokens 36–39 unique to the doc.
    * Keys are modular in COUNT(*) (not raw id adjacency), so clique
    * and group sizes are scale-covariant even on the sf1 fixture's
    * sparse non-contiguous doc_ids — the gate can't go vacuous at
    * 10× (the q177 lesson). Both engines derive n from COUNT(*) and
    * the same md5 namespace strings, so the slice is hash-portable. */
  def realVocabDocs(documents: DataFrame): DataFrame = {
    val n = documents.count()
    val m1 = math.max(n / 2, 1L)  // clique modulus (~2 docs)
    val m2 = math.max(n / 16, 1L) // group modulus (~16 docs)
    def tok(ns: String, key: Column, j: Column): Column =
      substring(md5(concat(lit(ns + ":"), key.cast("string"),
        lit(":"), j.cast("string"))), 1, 10)
    documents.select(col("doc_id"),
      array_join(concat(
        transform(sequence(lit(0), lit(2)),
          j => tok("g", pmod(col("doc_id"), lit(m2)), j)),
        transform(sequence(lit(3), lit(35)),
          j => tok("c", pmod(col("doc_id"), lit(m1)), j)),
        transform(sequence(lit(36), lit(39)),
          j => tok("u", col("doc_id"), j))), " ").as("text"))
  }

  /** MinHash signature columns mh0..mh{k-1} via Kirsch–Mitzenmacher
    * double hashing: ONE md5 per (doc, shingle) yields two 32-bit
    * halves (h1, h2), and permutation i hashes as (h1 + i·h2) mod 2³²
    * — a valid minwise family (K-M '06 shows pairwise combinations
    * preserve the guarantees) at 1/k of the per-row hash work of k
    * keyed md5s. All arithmetic stays < 2³⁶ (ANSI-safe longs) and is
    * reproducible in any engine with md5 + hex parsing.
    *
    * The per-doc MIN fold runs as the native codegen expression
    * [[graft.functions.MinhashSignature]] — per-document state, so
    * the old explode → md5-hex → conv-parse → 16-min hash aggregate
    * (one exchange of per-doc partials + a hex format/parse round
    * trip per shingle) collapses to scan → project with bit-identical
    * values (same md5 bytes, same big-endian halves, same mod-2³²).
    * Callers must feed unique doc_ids (every caller does — planted
    * twins mint fresh ids): the old groupBy would have collapsed
    * duplicate ids, this form emits one row per input row. */
  def minhashSignatures(documents: DataFrame, k: Int = 16): DataFrame = {
    val sig = spread(documents)
      .select(col("doc_id"), split(col("text"), " ").as("__toks"))
      .filter(size(col("__toks")) >= 3)
      .select(col("doc_id"),
        graft.functions.TextFunctions
          .minhash_signature(col("__toks"), 3, k).as("__mh"))
    sig.select(col("doc_id") +: (0 until k).map(i =>
      element_at(col("__mh"), i + 1).as(s"mh$i")): _*)
  }

  /** q20 — MinHash+LSH near-dup pairs: band the k-component signature
    * into `bands` bands of k/bands rows, bucket-join on (band, band
    * key), then estimate Jaccard as the fraction of equal signature
    * components. The band join is the 100 TB path: candidate count is
    * driven by collisions, and the signature (k md5 strings) is ~500
    * bytes/doc regardless of document size. */
  def minhashNearDups(
      documents: DataFrame, k: Int = 16, bands: Int = 4,
      minEstJaccard: Double = 0.5): DataFrame = {
    val banded = bandedFromSignatures(
      minhashSignatures(documents, k), k, bands)
    val eq = sigEq(k)
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey")
          && col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("doc_i"), col("b.doc_id").as("doc_j"),
        round(eq.cast("double") / k, 4).as("est_jac"))
      // est_jac is functionally dependent on the pair, so distinct()
      // still collapses multi-band collisions to one row per pair
      .distinct()
      .filter(col("est_jac") >= minEstJaccard)
      .orderBy("doc_i", "doc_j")
  }

  /** Band rows from an existing signature frame — carries the full
    * signature on each banded row (~500 B/doc·band) so the Jaccard
    * estimate is computable in-row on band collisions: the signature
    * aggregate runs ONCE per source and no second join back to the
    * signatures is needed. Shared by the self-join (q20), the
    * incremental probe (q170), and the persisted signature ledger
    * ([[graft.sources.MinhashLedger]], which feeds PERSISTED
    * signatures here — the corpus text is never rescanned). */
  private[graft] def bandedFromSignatures(
      sig: DataFrame, k: Int, bands: Int): DataFrame = {
    val rows = k / bands
    sig.select(
      col("doc_id") +:
        (0 until k).map(i => col(s"mh$i")) :+
        posexplode(array((0 until bands).map { b =>
          md5(concat_ws("|",
            (0 until rows).map(r => col(s"mh${b * rows + r}")): _*))
        }: _*)).as(Seq("band", "bkey")): _*)
  }

  /** Σ 1[mh_i^a = mh_i^b] over an a/b-aliased signature pair. */
  private[graft] def sigEq(k: Int): Column =
    (0 until k).map(i =>
      when(col(s"a.mh$i") === col(s"b.mh$i"), 1).otherwise(0))
      .reduce(_ + _)

  /** Flag core shared by the stateless (q170) and ledger-backed forms:
    * every probe doc that band-collides with ANY other doc in `allSig`
    * (itself excluded) at estimated Jaccard ≥ threshold, with its
    * partner count, smallest partner id, and best estimate — all
    * deterministic integers/rounded ratios, so the contract is
    * hash-oracle-able. Candidate volume is collision-driven (the q20
    * posture) and the probe side is only the batch. */
  private[graft] def nearDupFlags(
      probeSig: DataFrame, allSig: DataFrame, k: Int, bands: Int,
      minEstJaccard: Double): DataFrame = {
    val bandedAll = bandedFromSignatures(allSig, k, bands)
    val bandedProbe = bandedFromSignatures(probeSig, k, bands)
    val eq = sigEq(k)
    bandedProbe.as("a")
      .join(bandedAll.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey")
          && col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("doc_id"),
        col("b.doc_id").as("partner"),
        round(eq.cast("double") / k, 4).as("est_jac"))
      .distinct()
      .filter(col("est_jac") >= minEstJaccard)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_partners"),
        min("partner").as("first_partner"),
        round(max("est_jac"), 4).as("best_est"))
      .orderBy("doc_id")
  }

  /** q170 — incremental batch-vs-corpus NEAR-dup detection: q153's
    * production increment shape lifted from exact keys to MinHash+LSH
    * (the real crawl pipeline runs BOTH: exact first, near-dup on the
    * survivors). Each batch document is flagged if it band-collides at
    * estimated Jaccard ≥ threshold with anything seen — the historical
    * corpus or its own batch. Contract is PAIR-EXISTENCE (a batch doc
    * lists every qualifying partner), which composes across increments
    * without the transitivity hazard keep-first near-dup semantics
    * have: dropped docs' signatures stay visible to later increments,
    * so increment N vs (corpus ∪ batches < N ∪ own batch) equals the
    * one-shot replay — proven in MinhashLedgerSpec.
    *
    * Scale shape: ONE signature pass over corpus ∪ batch (~500 B/doc
    * regardless of text size), probe side restricted to the batch via
    * a semi-join, candidates driven by band collisions. The
    * [[graft.sources.MinhashLedger]] form persists corpus signatures
    * so increments skip even the corpus signature pass. */
  def incrementalNearDup(
      corpus: DataFrame, batch: DataFrame, k: Int = 16, bands: Int = 4,
      minEstJaccard: Double = 0.5): DataFrame = {
    val all = corpus.select("doc_id", "text")
      .unionByName(batch.select("doc_id", "text"))
    val allSig = minhashSignatures(all, k)
    val probeSig = allSig
      .join(batch.select("doc_id"), Seq("doc_id"), "left_semi")
    nearDupFlags(probeSig, allSig, k, bands, minEstJaccard)
  }

  /** q21 — 32-bit SimHash fingerprint from the hex digits of per-token
    * md5: bit b is the sign of Σ_tokens (±1 by the high bit of hex digit
    * b). Token multiplicity weights naturally (explode keeps dups).
    * Integer arithmetic end-to-end → bit-identical in any md5-capable
    * engine. */
  def simhash(documents: DataFrame): DataFrame = {
    // bit b = high bit of hex digit b+1 of md5(token); instead of 32
    // substring+isin string ops per token, decode the 32 hex digits
    // into four 32-bit longs once (conv base16) and bit-test those —
    // same bits, ~4x less per-row work in the hot aggregate
    val perTok = spread(documents).select(
      col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .select(col("doc_id"), md5(col("tok")).as("h"))
      .select(
        col("doc_id") +: (0 until 4).map(g =>
          conv(substring(col("h"), g * 8 + 1, 8), 16, 10)
            .cast("long").as(s"w$g")): _*)
    def bitSign(b: Int) = {
      val g = b / 8 // digit group (8 hex digits per long)
      val d = b % 8 // digit within group, 0 = leftmost
      val shift = 4 * (7 - d) + 3 // high bit of that nibble
      when(shiftright(col(s"w$g"), shift).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)
    }
    val sums = perTok.groupBy("doc_id").agg(
      sum(bitSign(0)).as("s0"),
      (1 until 32).map(b => sum(bitSign(b)).as(s"s$b")): _*)
    val fp = (0 until 32).map(b =>
      when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    sums.select(col("doc_id"), fp.cast("long").as("simhash"))
      .orderBy("doc_id")
  }

  /** Connected components over a near-dup pair list — the transitive
    * closure a REAL deduplicator needs (A≈B and B≈C must collapse to
    * one cluster even when A̸≈C). Iterative min-label propagation:
    * each round every node takes the min label over itself and its
    * neighbors; converges in O(component diameter) rounds, checked by a
    * fixpoint count. Each round is one join + one aggregate — the
    * standard large-scale CC formulation (no driver-side graph).
    */
  def connectedComponents(
      pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    val und = pairs.select(col("doc_i").as("a"), col("doc_j").as("b"))
      .unionByName(pairs.select(col("doc_j").as("a"), col("doc_i").as("b")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // per-round lineage truncation (localCheckpoint, not persist): an
    // un-truncated iterative plan grows with every round and the driver
    // dies on plan bookkeeping long before data size matters
    var labels = und.select(col("a").as("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint(true)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val neighborMin = und
        .join(labels.withColumnRenamed("node", "b")
          .withColumnRenamed("label", "nl"), "b")
        .groupBy(col("a").as("node"))
        .agg(min("nl").as("nmin"))
      val next = labels.join(neighborMin, "node")
        .select(col("node"), least(col("label"), col("nmin")).as("label"))
        .localCheckpoint(true)
      val changed = next.join(labels.withColumnRenamed("label", "old"), "node")
        .filter(col("label") < col("old")).count()
      labels = next
      converged = changed == 0
      iter += 1
    }
    if (!converged) {
      und.unpersist()
      // silently returning partial labels would fail oracle parity with
      // no diagnostic (the DuckDB oracle computes the full closure)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter iterations; " +
          "raise maxIter (component diameter exceeds it) or use " +
          "connectedComponentsStar (diameter-independent)")
    }
    val out = labels
      .select(col("node").as("doc_id"), col("label").as("component"))
    und.unpersist()
    out
  }

  /** Connected components via alternating LARGE-STAR / SMALL-STAR
    * (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    * the production-scale formulation: converges in O(log² n) rounds
    * regardless of component DIAMETER, where [[connectedComponents]]'
    * min-label propagation needs one round per hop and a 10⁶-long
    * duplicate chain would mean 10⁶ Spark jobs.
    *
    * One round: large-star points every strictly-larger neighbor of u
    * at m(u) = min(Γ⁺(u)); small-star points the smaller-or-equal
    * neighbors at m(u). At fixpoint every component is a single star
    * rooted at its minimum node, so labels read directly off the edges.
    * Large-star is one aggregate + one join over the oriented edge
    * list; small-star is a single window pass (see the invariant note
    * below) — no driver graph, state linear in |edges|. Output is
    * identical to [[connectedComponents]] (asserted in DedupSpec,
    * including a chain longer than min-label's default iteration
    * budget). */
  def connectedComponentsStar(
      pairs: DataFrame, maxIter: Int = 30): DataFrame = {
    // Both half-steps exploit the ORIENTATION INVARIANT a < b, which
    // the init normalization establishes and (proof below) every
    // half-step preserves. Under it, each node u's strictly-SMALLER
    // neighbors are exactly the sources of its in-edges (x, u), and
    // its strictly-larger neighbors the targets of its out-edges, so
    // the closed-neighborhood minimum is m(u) = min(u, min-in(u)) —
    // computable from the edge list AS STORED. The pre-round-16 shape
    // materialized the bidirectional copy (union + swap) before every
    // half-step's aggregate AND join, so each processed 2|E| rows;
    // this one processes |E| (guide §2.3: shuffle fewer bytes — the
    // raw edge sides of the round's exchanges halve).
    //
    // LARGE-STAR: per Kiveris, u points every strictly-larger
    // neighbor v at m(u). Under the invariant the (u, v>u) pairs are
    // exactly the stored edges, so the step is: for each edge (a, b)
    // emit (m(a), b), with m(a) = coalesce(min-in(a), a) (min-in < a
    // when it exists; a root with no in-edges is its own min). One
    // aggregate + one join, both over |E| rows. Output preserves the
    // invariant: m(a) ≤ a < b.
    //
    // SMALL-STAR: u points its smaller-or-equal closed neighborhood
    // Γ⁺(u) \ {m(u)} at m(u); under the invariant that set is u's
    // in-sources {x} plus u itself, and m(u) = min-in(u). Per stored
    // edge (x, u) exactly one pair comes out: (m(u), x) when x ≠ m(u),
    // and (m(u), u) for the one row where x = m(u) — so the whole step
    // is ONE window (min over the in-edges of u) plus a per-row
    // projection: no bidirectional copy, no join, no union. Nodes with
    // no in-edges (roots) emit nothing, exactly as before (their only
    // ≤-neighbor is themselves = their min). Invariant: m < x and
    // m < u by minimality. Emitted multiset identical to the
    // definitional form — asserted against min-label CC in DedupSpec.
    def largeStar(e: DataFrame): DataFrame = {
      val mIn = e.groupBy("b").agg(min("a").as("m"))
      e.join(mIn.select(col("b").as("a"), col("m")), Seq("a"), "left")
        .select(coalesce(col("m"), col("a")).as("a"), col("b"))
    }
    def smallStarRaw(e: DataFrame): DataFrame = {
      val m = min("a").over(Window.partitionBy("b"))
      e.select(m.as("m"), col("a"), col("b"))
        .select(col("m").as("a"),
          when(col("a") === col("m"), col("b")).otherwise(col("a"))
            .as("b"))
    }
    // each round MUST truncate lineage (localCheckpoint, not persist):
    // the two nested star steps quadruple the logical plan per round,
    // so an un-truncated loop OOMs the driver on plan strings alone
    // long before any data is big
    var edges = pairs.select(
        least(col("doc_i"), col("doc_j")).as("a"),
        greatest(col("doc_i"), col("doc_j")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .localCheckpoint(true)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // FUSED round (round-16, guide §2.4): the small step's dedup and
      // the EXACT symmetric-difference convergence check ride ONE
      // grouped aggregate, observed during the round's single
      // checkpoint job. The previous shape paid a second
      // driver-synchronized job per round (two exceptAll shuffles of
      // next and edges) purely to learn "did anything change?".
      // Tag-union fold: a (a,b) group holds __n=1 iff the edge is in
      // next = distinct(small(large(edges))) and __o=1 iff it is in
      // edges; groups where the tags differ ARE the symmetric
      // difference, so diff==0 is precisely the old next==edges
      // fixpoint — no count/checksum approximation.
      val largeStep = largeStar(edges).distinct()
      val obs = org.apache.spark.sql.Observation(s"ccstar-diff-$iter")
      val next = smallStarRaw(largeStep)
        .select(col("a"), col("b"), lit(1).as("__n"), lit(0).as("__o"))
        .unionAll(edges.select(
          col("a"), col("b"), lit(0).as("__n"), lit(1).as("__o")))
        .groupBy("a", "b")
        .agg(max("__n").as("__n"), max("__o").as("__o"))
        .observe(obs, coalesce(
          sum(when(col("__n") =!= col("__o"), 1L)), lit(0L)).as("diff"))
        .filter(col("__n") === 1).select("a", "b")
        .localCheckpoint(true)
      // the checkpoint above ran the job; the listener delivering the
      // observed metric is asynchronous, so wait on the future (bounded:
      // a silent mechanism failure must fail loudly, not hang)
      val changed = scala.concurrent.Await.result(obs.future,
        scala.concurrent.duration.Duration(300, "s")).getLong(0) > 0
      edges = next
      converged = !changed
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponentsStar did not converge in $maxIter rounds")
    // star edges are (root, child): children label themselves with the
    // root, roots label themselves. Checkpointed intermediates hold no
    // CacheManager entries; their blocks are reclaimed by the
    // ContextCleaner once unreferenced.
    edges.select(col("b").as("doc_id"), col("a").as("component"))
      .unionByName(
        edges.select(col("a")).except(edges.select(col("b").as("a")))
          .select(col("a").as("doc_id"), col("a").as("component")))
      .localCheckpoint(true)
  }

  /** q42 — near-dup clusters: MinHash+LSH pairs (q20 semantics) closed
    * transitively into components; emits (doc_id, component) for every
    * document that has at least one near-duplicate. Uses the
    * diameter-independent [[connectedComponentsStar]]. The cleaned
    * corpus keeps `component == doc_id` rows plus all unpaired docs. */
  def nearDupComponents(documents: DataFrame): DataFrame =
    connectedComponentsStar(minhashNearDups(documents))
      .orderBy("doc_id")

  /** Q85 — canonical-document selection: for every near-dup cluster
    * (q42 components) pick the representative the cleaned corpus keeps
    * — longest text, doc_id tie-break — plus cluster size and max
    * length, all from ONE hash aggregate over the component frame. The
    * argmax is `max(struct(n_chars, -doc_id))`: struct ordering is
    * field-by-field, so the max carries the longest text and, on
    * length ties, the smallest doc_id — O(1) aggregation state per
    * cluster, one shuffle on `component`, no window sort, no second
    * join-back (the pre-fusion form derived sizes and the argmax in
    * separate passes). The keep-decision table a dedup pipeline joins
    * back onto the corpus. */
  def canonicalDocs(documents: DataFrame): DataFrame =
    canonicalFromComponents(nearDupComponents(documents), documents)
      .orderBy("component")

  /** The q85 aggregate over an ALREADY-COMPUTED component frame — split
    * out so composed pipelines (q224's manifest) that also need the
    * component frame itself run the minhash+LSH+star pipeline ONCE and
    * feed both consumers, instead of once per consumer (the star loop
    * is dozens of jobs; q224 used to pay it twice). */
  def canonicalFromComponents(
      components: DataFrame, documents: DataFrame): DataFrame =
    components
      .join(documents.select("doc_id", "n_chars"), "doc_id")
      .groupBy("component")
      .agg(count(lit(1)).as("n_docs"),
        max(struct(col("n_chars"), (-col("doc_id")).as("neg_id")))
          .as("best"))
      .select(col("component"), col("n_docs"),
        (-col("best.neg_id")).as("canonical_doc"),
        col("best.n_chars").as("max_chars"))

  /** q112 — leakage-safe train/valid/test split: assignment is keyed
    * on the near-dup COMPONENT root, not the document, so a document
    * and all its near-duplicates always land in the same split — the
    * eval-contamination guard a naive per-doc hash split silently
    * violates (a test document's near-twin in train is leakage). The
    * md5-of-root hex string is compared lexicographically ('c'/'e'
    * thresholds → 75/12.5/12.5), which is uniform, engine-portable,
    * and stable under repartitioning/backfills. Unpaired documents are
    * their own root; the component frame is |paired docs| rows. */
  def leakageSafeSplit(documents: DataFrame): DataFrame = {
    val comp = nearDupComponents(documents)
    val h = md5(coalesce(col("component"), col("doc_id")).cast("string"))
    documents
      .join(comp, Seq("doc_id"), "left")
      .select(
        when(h < "c", "train").when(h < "e", "valid").otherwise("test")
          .as("split"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
      .orderBy("split")
  }

  /** Blocked edit-distance near-dup pairs: within each block (an
    * equi-join on `blockCols` — brand/type/size style metadata, or a
    * length band + first-token key for raw text), emit id pairs whose
    * `textCol` Levenshtein distance is ≤ maxDist. Blocking is what
    * makes edit distance usable at scale: the O(|s|·|t|) comparison
    * runs only inside blocks, never across the corpus, and both join
    * sides are the same subplan (one Exchange, reused). */
  def editDistancePairs(
      df: DataFrame, idCol: String, textCol: String,
      blockCols: Seq[String], maxDist: Int): DataFrame = {
    val blk = df.select(
      blockCols.map(col) :+ col(idCol).as("id") :+ col(textCol).as("t"): _*)
      .withColumn("len", length(col("t")))
    blk.as("a")
      .join(blk.as("b"),
        blockCols.map(c => col(s"a.$c") === col(s"b.$c")).reduce(_ && _)
          && col("a.id") < col("b.id")
          // exact lower bound: |len(a)−len(b)| ≤ edit distance, so the
          // cheap length gate runs before every O(|s|·|t|) comparison
          && abs(col("a.len") - col("b.len")) <= maxDist)
      .select(col("a.id").as("id_i"), col("b.id").as("id_j"),
        // thresholded (banded-DP) form: O(|s|·maxDist) per pair with
        // early exit, −1 when the bound is exceeded; exact distance
        // when within it, so the emitted rows are identical to the
        // unbounded form
        levenshtein(col("a.t"), col("b.t"), maxDist).as("dist"))
      .filter(col("dist") >= 0)
      .orderBy("id_i", "id_j")
  }

  /** q95 — benchmark decontamination: for every corpus document, count
    * the n-token shingles it shares with any document of a benchmark
    * set (the GPT-3 appendix-C / Gopher eval-decontamination shape:
    * k-gram overlap against held-out eval data; here the benchmark is
    * the deterministic doc_id % benchMod == 0 slice so the oracle can
    * reproduce it). GPT-3 used 13-grams on web text; n defaults to 4
    * here because the synthetic corpus's vocabulary is tiny — on real
    * text, pass the published 8–13.
    *
    * Scale posture: the benchmark side is tiny relative to the corpus
    * (eval sets are MBs against a 100 TB corpus), so its shingle index
    * is broadcast — the corpus side streams map-side with NO shuffle of
    * corpus data at all. Shingles join on their 64-bit xxhash
    * fingerprint (8-byte key, same Broder-fingerprint tradeoff as
    * [[sizedShingleIndex]]); distinctness is computed on true strings
    * first, so counts are exact up to 2⁻⁶⁵-probability collisions. */
  def decontaminationPairs(
      documents: DataFrame,
      n: Int = 4,
      benchMod: Int = 97): DataFrame = {
    // partition the corpus BEFORE building shingles: the benchmark
    // subplan then scans only its 1/benchMod slice (the modulo filter
    // sits directly on the parquet scan), not a filtered copy of the
    // full exploded index
    // positional explode + top-level hash: every expression here
    // (split/sequence/slice/concat_ws/xxhash64) is codegen'd inside
    // one WholeStageCodegen span — no higher-order-function lambda
    // (those evaluate INTERPRETED and dominated the old plan's
    // profile). The per-document array_distinct moves to a
    // count_distinct AFTER the broadcast join, where it runs on join
    // SURVIVORS only (shared grams — tiny), so the corpus side still
    // streams map-side with zero shuffle of corpus data.
    def idx(side: DataFrame) =
      windowFingerprints(side, n, col("doc_id"))
    val bench = idx(documents.filter(col("doc_id") % benchMod === 0))
      .withColumnRenamed("doc_id", "bench_id")
      .distinct() // bench side is eval-set-sized: distinct stays cheap
    val corpus = idx(documents.filter(col("doc_id") % benchMod =!= 0))
    corpus.join(broadcast(bench), "g")
      .groupBy("doc_id", "bench_id")
      .agg(countDistinct(col("g")).as("shared_ngrams"))
      .orderBy("doc_id", "bench_id")
  }

  /** q205 — contamination SPAN detection: [[decontaminationPairs]]
    * upgraded from shared-shingle COUNTS to the span rule the GPT-3/
    * PaLM decontamination appendices actually apply — a document is
    * contaminated when a LONG CONTIGUOUS RUN of its n-gram positions
    * matches a benchmark document, not when scattered grams collide
    * (tiny-vocabulary corpora collide constantly; contiguous spans
    * don't). The benchmark side is built deterministically so the
    * oracle reproduces it: each doc_id % benchMod == 0 document
    * contributes its tokens [excerptStart, excerptStart+excerptLen)
    * as a benchmark "question" — the planted positive every such doc
    * must flag against itself with a full-length span.
    *
    * Per (corpus doc, bench doc) pair with any gram hit: total
    * matched positions, the longest island of CONSECUTIVE positions
    * (classic gaps-and-islands: pos − row_number per pair), its token
    * span (run + n − 1), and the ≥ flagSpanTokens flag.
    *
    * Scale posture: the benchmark gram index is eval-set-sized →
    * broadcast; the corpus side streams its positional shingle
    * explode map-side (8-byte fingerprints, the Broder tradeoff);
    * the island window partitions by (doc_id, bench_id) — hit pairs,
    * high cardinality, bounded by the excerpt gram count per pair. */
  def contaminationSpans(
      documents: DataFrame, n: Int = 4, benchMod: Int = 97,
      excerptStart: Int = 11, excerptLen: Int = 30,
      flagSpanTokens: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = split(col("text"), " ")
    // positional variant of [[windowFingerprints]] (pos = window
    // start, 1-based; only DIFFERENCES of pos feed the island logic)
    val cpos = documents
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(1), size(col("toks")) - (n - 1)))
          .as("pos"))
      .select(col("doc_id"), col("pos"),
        xxhash64(concat_ws(" ",
          slice(col("toks"), col("pos"), lit(n)))).as("g"))
    val bench = documents
      .filter(col("doc_id") % benchMod === 0)
      .filter(size(toks) >= excerptStart + excerptLen - 1)
      .select(col("doc_id").as("bench_id"),
        concat_ws(" ",
          slice(toks, excerptStart, excerptLen)).as("bt"))
      .select(col("bench_id"),
        explode(array_distinct(shingles(col("bt"), n))).as("gram"))
      .select(col("bench_id"), xxhash64(col("gram")).as("g"))
    val hits = cpos.join(broadcast(bench), "g")
    val w = Window.partitionBy("doc_id", "bench_id").orderBy("pos")
    val runs = hits
      .withColumn("island", col("pos") - row_number().over(w))
      .groupBy("doc_id", "bench_id", "island")
      .agg(count(lit(1)).as("run_len"))
    runs.groupBy("doc_id", "bench_id")
      .agg(sum("run_len").as("shared_positions"),
        max("run_len").as("max_run"))
      .select(col("doc_id"), col("bench_id"), col("shared_positions"),
        col("max_run"),
        (col("max_run") + lit(n - 1).cast("long")).as("max_span_tokens"),
        when(col("max_run") + lit(n - 1).cast("long")
          >= flagSpanTokens, 1L).otherwise(0L).as("flagged"))
      .orderBy("doc_id", "bench_id")
  }

  /** q207 — canary / secret-leak audit: the RARE-but-CROSS-SOURCE
    * n-gram sweep (training-data canary extraction, the Carlini
    * secret-sharer audit shape): a gram that occurs in at most
    * maxDocs documents yet spans at least minSources distinct sources
    * is the signature of a leaked secret, a planted canary, or
    * cross-source template contamination — high-df boilerplate and
    * within-source repetition are both excluded by construction.
    *
    * Scale posture (two-phase, the q17 discipline): the frequency
    * stats aggregate on 8-byte xxhash64 fingerprints — the corpus-
    * sized shuffle never carries gram STRINGS, and since round 14
    * the corpus scan never BUILDS them either (the codegen'd
    * positional window stream, see [[windowFingerprints]]); the
    * surviving rare set is tiny by definition, so the human-readable
    * gram is recovered by re-slicing ONE remembered (doc, position)
    * occurrence per rare fingerprint against the broadcast survivor
    * set (same 2⁻⁶⁴ collision caveat as every fingerprint join
    * here). */
  def canarySpans(
      documents: DataFrame, n: Int = 4, maxDocs: Int = 3,
      minSources: Int = 2): DataFrame = {
    val toks = split(col("text"), " ")
    val pos = documents
      .select(col("doc_id"), col("source"), toks.as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"), col("source"), col("toks"),
        explode(sequence(lit(1), size(col("toks")) - (n - 1)))
          .as("i"))
      .select(col("doc_id"), col("source"), col("i"),
        xxhash64(concat_ws(" ",
          slice(col("toks"), col("i"), lit(n)))).as("g"))
    // window repeats collapse in the countDistincts; min/max over
    // repeats are the same min/max. The representative occurrence
    // (min (doc_id, pos) per fingerprint) rides the SAME aggregate —
    // the old shape re-ran the whole corpus explode+hash pass a second
    // time just to pick it for the survivors (round-16, guide §1.2);
    // min over all occurrences then filtered to survivors is the same
    // value as min over the survivors' occurrences.
    // n_sources via size(collect_set): exact (both forms dedup by
    // value and ignore nulls) and BOUNDED state — source is a
    // low-cardinality dimension, unlike doc_id whose per-gram distinct
    // set is corpus-sized before the rare filter and must stay a
    // countDistinct. Dropping to ONE distinct group removes the
    // Expand (×3 row replication) from the corpus-sized shuffle
    // (round-16, guide §2.3: 2.77M → ~0.9M shuffled records at sf0.1).
    val rare = pos.groupBy("g").agg(
        countDistinct(col("doc_id")).as("n_docs"),
        size(collect_set(col("source"))).cast("long").as("n_sources"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"),
        min(struct(col("doc_id"), col("i"))).as("r"))
      .filter(col("n_docs") <= maxDocs &&
        col("n_sources") >= minSources)
    val repr = rare
      .select(col("g"), col("r.doc_id").as("doc_id"),
        col("r.i").as("i"))
    val rebuilt = documents.join(broadcast(repr), "doc_id")
      .select(col("g"), concat_ws(" ",
        slice(split(col("text"), " "), col("i"), lit(n))).as("gram"))
    rebuilt.join(broadcast(rare), "g")
      .select(col("gram"), col("n_docs"), col("n_sources"),
        col("min_doc"), col("max_doc"))
      .dropDuplicates("gram")
      .orderBy("gram")
  }

  /** q129 — cross-split contamination audit: the fraction of each TEST
    * document's distinct shingles that also occur anywhere in the
    * TRAIN split (q46's content-hash split rule) — the "did my test
    * set leak through the split boundary" metric that complements
    * [[leakageSafeSplit]] (which prevents it) and
    * [[benchmarkDecontamination]] (which audits against an external
    * benchmark). Shape: one shingle explode per side on 8-byte
    * xxhash64 fingerprints, the train side reduced to DISTINCT gram
    * keys, one equi-join on the fingerprint — linear in corpus shingle
    * volume, never doc×doc. Unlike the benchmark index, the train gram
    * set is corpus-sized, so it stays a shuffle join (NOT broadcast). */
  def crossSplitContamination(
      documents: DataFrame, n: Int = 3,
      trainNibbles: Int = 12): DataFrame = {
    // codegen'd window stream (no lambda — see windowFingerprints);
    // window repeats collapse in the count_distincts below, so
    // n_shingles/contaminated keep their distinct-set semantics
    val idx = windowFingerprints(documents, n, col("doc_id"),
      TextAnalysis.splitOf(col("text"), trainNibbles).as("split"))
    val trainGrams = idx.filter(col("split") === "train")
      .select("g").distinct().withColumn("hit", lit(1L))
    idx.filter(col("split") === "test")
      .join(trainGrams, Seq("g"), "left")
      .groupBy("doc_id")
      .agg(countDistinct(col("g")).as("n_shingles"),
        countDistinct(when(col("hit") === 1L, col("g")))
          .as("contaminated"))
      .select(col("doc_id"), col("n_shingles"), col("contaminated"),
        (col("contaminated").cast("double")
          / col("n_shingles").cast("double")).as("contamination"))
      .orderBy("doc_id")
  }

  /** q132 — exact-substring duplication (the ExactSubstr shape of Lee
    * et al., "Deduplicating Training Data Makes Language Models
    * Better"): for every document pair sharing a token run of at least
    * `minTokens` tokens, the length of their LONGEST common run.
    * Where [[ngramOverlapPairs]] measures BAG overlap, this finds
    * verbatim CONTIGUOUS duplication — quote chains, mirrored
    * paragraphs, licence boilerplate — the signal used to cut exact
    * repeats out of pretraining corpora.
    *
    * Shape: positional `k`-gram fingerprints (8-byte xxhash64 keys,
    * same tradeoff note as [[sizedShingleIndex]]); the inverted-index
    * self-join emits only position pairs of MATCHING grams (Σdf²,
    * never doc×doc); matches on one diagonal (pi − pj constant) are
    * consecutive-position islands (`pi − row_number`), so a run of
    * length L collapses to L−k+1 index rows and the window runs
    * per (pair, diagonal) partition — nothing global, state O(1).
    * A cross-gram hash collision can only extend a run if ADJACENT
    * positions also collide (~2⁻¹²⁸) — strictly safer than the bag
    * case. */
  def exactSubstrRuns(
      documents: DataFrame, k: Int = 5, minTokens: Int = 12)
      : DataFrame = {
    require(minTokens >= k, s"minTokens ($minTokens) must be >= k ($k)")
    val toks = split(col("text"), " ")
    val grams = spread(documents)
      .select(col("doc_id"),
        explode(
          when(size(toks) < k, array().cast("array<struct<p:int,g:bigint>>"))
            .otherwise(transform(
              sequence(lit(1), size(toks) - (k - 1)),
              i => struct(
                i.as("p"),
                xxhash64(concat_ws(" ", slice(toks, i, lit(k))))
                  .as("g"))))).as("pg"))
      .select(col("doc_id"), col("pg.p").as("p"), col("pg.g").as("g"))
    // both sides are the same subplan: one Exchange, reused
    val m = grams.as("a")
      .join(grams.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_i"), col("b.doc_id").as("doc_j"),
        col("a.p").as("pi"), (col("a.p") - col("b.p")).as("diag"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_i", "doc_j", "diag").orderBy("pi")
    m.withColumn("isl", col("pi") - row_number().over(w))
      .groupBy("doc_i", "doc_j", "diag", "isl")
      .agg((count(lit(1)) + (k - 1)).as("lcs"))
      .groupBy("doc_i", "doc_j")
      .agg(max("lcs").as("lcs_tokens"))
      .filter(col("lcs_tokens") >= minTokens)
      .orderBy("doc_i", "doc_j")
  }

  /** q152 — corpus-wide paragraph-level exact dedup, the Dolma/CCNet
    * "drop repeated paragraphs, keep the first occurrence" pass that
    * runs between document-level dedup and quality filtering (boiler
    * plate lines, shared headers/footers, and licence blocks repeat
    * across documents that are NOT near-dups as wholes). Documents
    * split into fixed-`paraTokens` token chunks (the fixture has no
    * newlines; on a real corpus swap the chunker for split-on-\n\n —
    * the dedup core is chunker-agnostic), each paragraph keyed by md5,
    * and the (doc_id, pidx)-smallest occurrence of each distinct
    * paragraph is kept.
    *
    * Scale: one explode (linear in corpus tokens), one window
    * partitioned by `pmd5` — keyed on the paragraph hash, so the
    * heaviest task holds one duplicate CLASS, never the corpus. The
    * classic repeated-boilerplate skew (one paragraph in 10⁸ docs) is
    * already defused in the physical plan: Catalyst's WindowGroupLimit
    * rewrite (rn = 1 filter over row_number) inserts a MAP-SIDE top-1
    * per pmd5 before the shuffle (verified via explain), so a
    * mega-duplicate class ships one row per input partition, not its
    * full occurrence list. Output is the kept-paragraph list;
    * reassembly is a groupBy(doc_id) sort_array(collect_list) away. */
  /** q153 — incremental batch-vs-corpus dedup: the production shape of
    * exact dedup, where a new crawl increment is deduped against the
    * historical corpus (and within itself) WITHOUT rescanning the
    * corpus text. Key = the q17b boilerplate-prefix fingerprint
    * (md5 of the first `prefixTokens` tokens; swap the key expression
    * for full-text md5 on corpora with true full-text dups).
    *
    * Scale posture: the corpus contributes only its DISTINCT key set —
    * text never shuffles. A Bloom filter over the corpus keys
    * ([[graft.functions.BloomFilter]], mergeable — in production it
    * persists and absorbs each increment instead of rebuilding)
    * broadcast-probes the batch map-side: bloom-NEGATIVE rows are
    * definitely new and bypass the anti-join entirely (zero shuffle for
    * the ~unique bulk of a typical increment); only bloom-positives —
    * true dups + fp·|batch| rows — enter the exact left-anti join, so
    * false positives cost a join probe, never a wrong answer. The
    * oracle replays the plain anti-join semantics; the bloom split is
    * an engine-internal optimization invisible to results (same
    * discipline as q139's bloom-pruned join). */
  def incrementalDedup(
      corpus: DataFrame, batch: DataFrame,
      prefixTokens: Int = 5): DataFrame = {
    import graft.functions.BloomFunctions._
    def key(c: Column): Column =
      md5(concat_ws(" ", slice(split(c, " "), 1, prefixTokens)))
    val corpusKeys = corpus.select(key(col("text")).as("__k")).distinct()
    val bloom = corpusKeys
      .agg(bloom_agg(xxhash64(col("__k"))).as("__bloom"))
    val keyed = batch
      .withColumn("__k", key(col("text")))
      .crossJoin(broadcast(bloom))
      .withColumn("__maybe",
        bloom_might_contain(xxhash64(col("__k")), col("__bloom")))
      .drop("__bloom")
    val sureNew = keyed.filter(!col("__maybe"))
    val confirmed = keyed.filter(col("__maybe"))
      .join(corpusKeys, Seq("__k"), "left_anti")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__k").orderBy("doc_id")
    sureNew.unionByName(confirmed)
      // within-batch dedup: keep the smallest doc_id per key
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy("doc_id")
  }

  /** Dedup core shared by every chunker: keep the (doc_id, pidx)-
    * smallest occurrence of each distinct paragraph hash. Expects
    * (doc_id, pidx, pmd5); the WindowGroupLimit map-side top-1 per
    * pmd5 applies regardless of how paragraphs were produced. */
  private def keepFirstParagraph(paras: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("pmd5").orderBy("doc_id", "pidx")
    paras
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("doc_id", "pidx", "pmd5")
      .orderBy("doc_id", "pidx")
  }

  def paragraphDedup(
      documents: DataFrame, paraTokens: Int = 10): DataFrame =
    keepFirstParagraph(spread(documents)
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0),
            ceil(size(col("tk")) / lit(paraTokens.toDouble)).cast("int")
              - 1),
          i => array_join(
            slice(col("tk"), i * paraTokens + 1, lit(paraTokens)), " "))))
      .select(col("doc_id"), col("pos").cast("long").as("pidx"),
        md5(col("col")).as("pmd5")))

  /** The REAL-corpus chunker q152's scaladoc promises: paragraphs are
    * `\n\n`-delimited spans (Dolma/CCNet convention), not fixed token
    * windows — a repeated licence block dedups wherever it sits in the
    * document, while the fixed-token chunker only catches it when the
    * token offsets happen to align (ParagraphChunkerSpec shows the
    * disagreement). Same explode + pmd5-window core, same scale shape. */
  def paragraphDedupNewline(
      documents: DataFrame,
      // regex; corpora with Windows line endings pass "(\r?\n){2}" —
      // the default stays the literal convention the q152b oracle
      // replays (DuckDB string_split is literal, so the oracle pins
      // the \n\n contract; the separator is engine-side configurable)
      sep: String = "\n\n"): DataFrame =
    keepFirstParagraph(spread(documents)
      .select(col("doc_id"), posexplode(split(col("text"), sep)))
      .select(col("doc_id"), col("pos").cast("long").as("pidx"),
        md5(col("col")).as("pmd5")))

  /** q152b — paragraph dedup on real `\n\n` boundaries, oracle-gated:
    * the fixture corpus is single-line word soup, so multi-paragraph
    * structure is planted deterministically from doc_id (the q150
    * construction): a licence-header paragraph shared by every
    * doc_id%3==0 doc, the doc's own text as its body paragraph, and a
    * footer paragraph shared by every doc_id%4==0 doc. Both engines
    * derive identical strings, so the hash gate checks the chunker +
    * keep-first semantics end-to-end on real paragraph boundaries. */
  def q152b(documents: DataFrame): DataFrame = {
    val id = col("doc_id")
    val header = when(id % 3 === 0, lit("license header alpha beta"))
      .otherwise(concat(lit("intro note "), id.cast("string")))
    val footer = when(id % 4 === 0, lit("contact footer omega"))
    paragraphDedupNewline(documents.withColumn("text",
      concat_ws("\n\n", header, col("text"), footer)))
  }

  // ---- q161: content-defined chunking (CDC) dedup ------------------

  /** Content-defined chunking: split each document into chunks whose
    * boundaries depend on CONTENT, not position — a token ends a
    * chunk when its hash falls in a 1-in-2^`pBits` band (the
    * rolling-hash cut rule of storage dedup: LBFS/rsync/restic
    * lineage). The property that matters: inserting or deleting text
    * shifts every downstream FIXED-size chunk and kills their hashes,
    * but CDC boundaries re-synchronize immediately — a shared
    * boilerplate block embedded at DIFFERENT offsets in different
    * documents still yields identical chunks (CdcChunkSpec proves
    * this; the fixed-token chunker above provably cannot).
    *
    * Output: one row per chunk — (doc_id, chunk_idx, chunk_md5,
    * n_tokens). Expected chunk length is 2^pBits tokens.
    *
    * Scale: explode to tokens, one doc-partitioned window (running
    * boundary count — never unpartitioned), one groupBy(doc, chunk)
    * reassembly keyed by 16-byte md5. Corpus-wide chunk-dup analysis
    * is then a hash-agg on the md5 — linear, no pairwise anything. */
  def cdcChunks(
      documents: DataFrame, pBits: Int = 3,
      textCol: String = "text"): DataFrame = {
    require(pBits >= 1 && pBits <= 8, s"pBits in [1,8], got $pBits")
    // boundary band: first hex nibble of md5(token) < 16/2^pBits —
    // hex-string compare, portable to the oracle (q46 precedent)
    val bandEnd = "0123456789abcdef".charAt(16 >> pBits).toString
    val toks = spread(documents)
      .select(col("doc_id"),
        posexplode(split(col(textCol), " ")).as(Seq("pos", "tok")))
      .withColumn("b",
        when(substring(md5(col("tok")), 1, 1) < bandEnd, 1L)
          .otherwise(0L))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    toks
      .withColumn("chunk_idx", coalesce(sum("b").over(w), lit(0L)))
      .groupBy("doc_id", "chunk_idx")
      .agg(
        md5(array_join(
          transform(
            array_sort(collect_list(struct(col("pos"), col("tok")))),
            s => s.getField("tok")),
          " ")).as("chunk_md5"),
        count(lit(1)).as("n_tokens"))
  }

  /** Deterministic shared-block enrichment for q161: a terms-of-
    * service block is APPENDED on doc_id%4==0 and PREPENDED on
    * doc_id%4==1 — different offsets in every affected doc, which is
    * exactly the misalignment that defeats fixed-size chunking and
    * that CDC must see through. */
  private def cdcEnriched(documents: DataFrame): DataFrame = {
    val id = col("doc_id")
    val block =
      "terms of service apply to all users of this site without notice"
    documents.withColumn("text",
      when(id % 4 === 0, concat(col("text"), lit(" " + block)))
        .when(id % 4 === 1, concat(lit(block + " "), col("text")))
        .otherwise(col("text")))
  }

  /** q161 — corpus-wide CDC dup report: chunks occurring in more than
    * one document, with occurrence and doc counts — the dedup-yield
    * estimate a storage/corpus planner reads. The planted shared
    * block surfaces here even though no two affected documents agree
    * on its offset. */
  def q161(documents: DataFrame): DataFrame =
    cdcChunks(cdcEnriched(documents))
      .groupBy("chunk_md5")
      .agg(count(lit(1)).as("n_occ"),
        countDistinct(col("doc_id")).as("n_docs"),
        max(col("n_tokens")).as("n_tokens"))
      .filter(col("n_docs") >= 2)
      .orderBy(desc("n_occ"), col("chunk_md5"))
      .limit(100)

  /** q192 — corpus-pair containment matrix: for every ordered pair of
    * sources, what fraction of source A's distinct `n`-gram shingles
    * also occurs in source B — the corpus-level "how much of dataset A
    * is already inside dataset B" audit run before mixing crawls
    * (directional: containment(A→B) ≠ containment(B→A); both rows are
    * emitted). The document-level twins are [[decontaminationPairs]]
    * (vs an external benchmark) and [[crossSplitContamination]] (vs a
    * split boundary); this is the dataset-acquisition view.
    *
    * Shape: one shingle explode reduced to the DISTINCT (source,
    * fingerprint) frame — 8-byte xxhash64 keys, the q129 discipline —
    * then ONE self equi-join on the fingerprint aggregated to the
    * |sources|² intersection counts, completed against the broadcast
    * |sources|×|sources| dimension cross so zero-overlap pairs still
    * appear. Linear in corpus shingle volume, never doc×doc; the only
    * non-equi join is over the bounded source list. Counts are exact
    * integers (the oracle joins on the shingle STRING — hash
    * collisions would surface as a hash mismatch, none exist on the
    * fixtures), ratios rounded to 6 dp. */
  def corpusContainment(documents: DataFrame, n: Int = 3): DataFrame = {
    val fp = windowFingerprints(documents, n, col("source"))
      .distinct()
    val sizes = fp.groupBy("source").agg(count(lit(1)).as("n_grams"))
    val inter = fp.as("a")
      .join(fp.as("b"), col("a.g") === col("b.g")
        && col("a.source") =!= col("b.source"))
      .groupBy(col("a.source").as("source_a"),
        col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_inter"))
    val dims = sizes.select(col("source").as("source_a"),
        col("n_grams").as("n_a"))
      .join(broadcast(sizes.select(col("source").as("source_b"))),
        col("source_a") =!= col("source_b"))
    dims.join(inter, Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"),
        coalesce(col("n_inter"), lit(0L)).as("n_inter"), col("n_a"),
        round(coalesce(col("n_inter"), lit(0L)).cast("double")
          / col("n_a"), 6).as("containment"))
      .orderBy("source_a", "source_b")
  }

  /** q193 — memorization-risk audit: for every document, how much of
    * it is built from CORPUS-FREQUENT n-grams — shingles whose
    * document frequency is at least `minDf` — plus the document's
    * hottest shingle's df. The per-document view of the signal behind
    * the Lee et al. repeated-substring dedup rule ("Deduplicating
    * Training Data Makes Language Models Better"): text that large
    * models memorize is text the corpus repeats, and a document made
    * mostly of corpus-frequent n-grams is boilerplate/template
    * material a trainer down-weights or drops. Corpus-level twins:
    * [[exactSubstrRuns]] (q132, verbatim pair runs) and q94's
    * within-document repetition; this measures repetition ACROSS the
    * corpus per document.
    *
    * Shape: one shingle explode to the distinct (doc_id, fingerprint)
    * frame (8-byte xxhash64, the q129/q192 discipline), document
    * frequency = one count per fingerprint (idx is already distinct
    * per doc), one vocab-keyed equi-join back, one doc-keyed
    * aggregate — linear in corpus shingle volume, never doc×doc, no
    * windows. `minDf` is fixed (production runs pick it per corpus —
    * Lee et al. use absolute repeat counts); the fixture family keeps
    * both classes populated at every sf because the sf1 replica's
    * per-copy token namespaces preserve the sf0.1 df distribution.
    * All counts exact integers; the fraction is one division rounded
    * 6 dp (engine-portable); the risk flag an integer threshold on
    * the EXACT integer pair (no float compare in the gate). */
  def memorizationRisk(
      documents: DataFrame, n: Int = 3, minDf: Int = 4): DataFrame = {
    // distinct (doc_id, g) via shuffle-distinct over the codegen'd
    // window stream — the lambda-free trade measured on q95 (the
    // extra exchange is far cheaper than interpreted shingling)
    val idx = windowFingerprints(documents, n, col("doc_id"))
      .distinct()
    val dfreq = idx.groupBy("g").agg(count(lit(1)).as("df"))
    idx.join(dfreq, "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") >= minDf, 1L).otherwise(0L))
          .as("n_frequent"),
        max(col("df")).as("max_df"))
      .select(col("doc_id"), col("n_shingles"), col("n_frequent"),
        col("max_df"),
        round(col("n_frequent").cast("double")
          / col("n_shingles").cast("double"), 6).as("frequent_frac"),
        // integer-exact gate: frequent shingles form a majority
        when(col("n_frequent") * 2 >= col("n_shingles"), 1)
          .otherwise(0).as("risk_flag"))
      .orderBy("doc_id")
  }
}
