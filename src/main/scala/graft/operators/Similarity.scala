package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions.ivf_nearest

/** Similarity search over an embedding column (SURVEY §2.10 X2):
  * brute-force cosine top-k as the exact baseline, and IVF / SQ8
  * variants as the 100 TB scale path.
  *
  * Vector math is pure Catalyst (`zip_with` + `aggregate` on
  * ARRAY<DOUBLE>): codegen'd, no UDFs, no MLlib Vector boxing. Sums run
  * left-to-right in index order, so results are deterministic and
  * reproducible in any engine that evaluates the same order.
  */
object Similarity {

  /** Float embedding → ARRAY<DOUBLE> (all math in double: float
    * accumulation drifts and would break cross-engine comparison). */
  def asDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Dot product via the native codegen'd [[graft.functions.VectorDot]]
    * expression — one fused loop, no intermediate array. Identical
    * index-ascending summation order to [[dotHof]], so results are
    * bit-equal (asserted in SimilaritySpec). */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.vec_dot(a, b)

  /** Higher-order-function formulation (`zip_with` + `aggregate`) —
    * kept as the pure-built-ins reference implementation. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  // ---- the retrieval core ------------------------------------------
  // Every ANN path below (exact q26/q190/q230, IVF q83, SQ8 q162/q171,
  // IVF+SQ8 q166) and graft.sources.IndexLedger are built from these
  // pieces: a normed vector frame split into a bounded query panel and
  // its candidate side, the SQ8 encode-and-cut, the IVF probe and the
  // per-query ranker.

  /** (vec_id, v, extra…, n): `vec` of each embedding and its norm,
    * computed once per vector (|q|+|c| sqrt loops, not 2·|q|·|c|). */
  private def normed(embeddings: DataFrame, vec: Column => Column = asDouble,
      extra: Seq[Column] = Nil): DataFrame =
    embeddings
      .select(Seq(col("vec_id"), vec(col("embedding")).as("v")) ++ extra: _*)
      .withColumn("n", norm(col("v")))

  /** One side of a scored pair, from a [[normed]] frame: (`p`id, `p`v,
    * `p`n, extra…) — "q" for the query panel, "c" for candidates. */
  private def panel(vecs: DataFrame, p: String, extra: Column*): DataFrame =
    vecs.select(Seq(col("vec_id").as(p + "id"), col("v").as(p + "v"),
      col("n").as(p + "n")) ++ extra: _*)

  /** The bounded query panel: the vectors with vec_id < queryMaxId. */
  private def queryPanel(
      vecs: DataFrame, queryMaxId: Long, extra: Column*): DataFrame =
    panel(vecs.filter(col("vec_id") < queryMaxId), "q", extra: _*)

  /** Every (query, other candidate) pair: the bounded panel broadcast
    * against the candidate scan, a map-side nested loop. */
  private def exactPairs(q: DataFrame, c: DataFrame): DataFrame =
    c.join(broadcast(q), col("qid") =!= col("cid"))

  /** Float cosine of a (qv, qn) × (cv, cn) pair rounded to 6 dp, so the
    * ranking, not only the output, is reproducible across engines. */
  private val cos6 =
    round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6)

  /** `vs` plus its `vecCol`'s SQ8 codes `<p>qc` as exact-integer
    * doubles (the form `vec_dot` sums exactly) and their squared norm
    * `<p>d2`, for every vector: a zero vector codes to d2 = 0, which the
    * caller must cut ([[sq8Quantizable]], or IndexLedger's probe guard).
    * `p` "q" names a query's codes as [[sq8Cosine]] reads them. */
  def sq8Encode(vs: DataFrame, vecCol: String, p: String = ""): DataFrame =
    vs.withColumn(p + "qc", sq8Codes(col(vecCol)).cast("array<double>"))
      .withColumn(p + "d2", dot(col(p + "qc"), col(p + "qc")))

  /** The SQ8 encode-and-cut: [[sq8Encode]] for the quantizable vectors
    * only. The cut is the `explode` of `[d2]`, empty when d2 = 0, not a
    * filter: Catalyst pushes a filter below the projections that
    * compute its columns, substituting their expressions, so a `d2`
    * filter would run `sq8_codes` twice in the filter (and list it in
    * the scan's pushed filters) and again in the projection; a
    * generator's output stays above its generator, so each vector is
    * encoded once. */
  def sq8Quantizable(vs: DataFrame, vecCol: String): DataFrame =
    sq8Encode(vs, vecCol).select(vs.columns.map(col).toSeq ++ Seq(col("qc"),
      explode(when(col("d2") > 0.0, array(col("d2")))).as("d2")): _*)

  /** The IVF probe: one row per each query's `nprobe` nearest cells of
    * an [[ivfCentroids]] frame (the [[graft.functions.IvfNearest]]
    * kernel against the [[ivfCells]] literal, inside the query scan —
    * no exchange); a query whose `live` is false probes no cell. */
  def ivfProbe(qv: Column, cent: DataFrame, nprobe: Int,
      live: Column = lit(true)): Column =
    explode(when(live, ivf_nearest(qv, ivfCells(cent), nprobe, probe = true)))

  /** The per-query ranker: each qid's `k` best rows by (`score` desc,
    * cid asc) with their 1-based rank `rk` as a long. Spark plans the
    * `row_number` filter with a map-side partial WindowGroupLimit, so
    * the one qid exchange carries at most k rows per query and task. */
  private def topKPerQuery(scored: DataFrame, score: String, k: Int,
      rk: String = "rk"): DataFrame =
    scored.withColumn(rk, row_number().over(Window.partitionBy("qid")
        .orderBy(col(score).desc, col("cid").asc)))
      .filter(col(rk) <= k)
      .withColumn(rk, col(rk).cast("long"))

  /** The served top-k: (qid, cid, `score`, rk) ordered by (qid, rk). */
  private def ranked(scored: DataFrame, score: String, k: Int): DataFrame =
    topKPerQuery(scored, score, k)
      .select(col("qid"), col("cid"), col(score), col("rk"))
      .orderBy("qid", "rk")

  /** q26 — exact cosine top-k: for each query vector (vec_id <
    * queryMaxId), the k nearest other vectors by cosine.
    *
    * Plan shape: the (tiny) query set is broadcast against the corpus —
    * a map-side nested loop over each corpus partition, then a top-k
    * window per query id. At 1000 executors this is embarrassingly
    * parallel over the corpus and shuffles only |queries|·|corpus-
    * partition winners| rows into the final window.
    * Ordering ties broken by vec_id; ordering key is the cosine rounded
    * to 6 decimals so the ranking (not just the output) is reproducible
    * across engines.
    */
  def cosineTopK(
      embeddings: DataFrame, queryMaxId: Long = 10, k: Int = 5): DataFrame = {
    val vecs = normed(embeddings)
    ranked(exactPairs(queryPanel(vecs, queryMaxId), panel(vecs, "c"))
      .select(col("qid"), col("cid"), cos6.as("cos")), "cos", k)
  }

  /** q194 — embedding-space diagnostics per class: vector count, norm
    * mean/spread, centroid norm, and the MEAN PAIRWISE COSINE within
    * the class — the collapse/anisotropy panel run before trusting an
    * embedding column for SemDeDup (q100), ANN (q26/q166), or
    * clustering: a class whose mean pairwise cosine drifts toward 1 is
    * collapsing (near-dup thresholds silently change meaning), one
    * near 0 is isotropic.
    *
    * The scale trick is the sum-norm identity: with unit vectors û,
    * Σ_{i≠j} cos(û_i,û_j) = ‖Σû‖² − n, so the all-pairs mean is
    * (‖Σû‖² − n)/(n(n−1)) — ONE pass and a per-(class, dim) hash
    * aggregate (≤ |classes|·dim cells), never the O(n²) pair join.
    * Everything is built from two aggregates joined on the bounded
    * class key: the (class, dim) sums of raw and normalized
    * components (map-side partial sums), and the per-class scalar
    * norm stats. Per-row math (norm, the divide) is IEEE-deterministic
    * on both engines; only the final sums are order-sensitive, and
    * all emitted floats round 4 dp (the q71 centroid convention). */
  def embeddingDiagnostics(embeddings: DataFrame): DataFrame = {
    // zero-norm vectors carry no direction: they would poison the
    // normalized sums into NaN for the whole class, so they are
    // excluded from the panel (documented contract; the oracle
    // filters identically). Singleton classes have no pairs: mean_cos
    // and sd_norm are NULL there, not 0/0 (matching DuckDB's
    // STDDEV_SAMP-of-one NULL so the gate stays engine-portable).
    val base = embeddings
      .select(col("label"), asDouble(col("embedding")).as("e"))
      .withColumn("nrm", norm(col("e")))
      .filter(col("nrm") > 0)
    val dims = base
      .select(col("label"), col("nrm"), posexplode(col("e")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("col")).as("sv"),
        sum(col("col") / col("nrm")).as("su"))
      .groupBy("label")
      .agg(sum(col("sv") * col("sv")).as("sv2"),
        sum(col("su") * col("su")).as("su2"))
    val scal = base.groupBy("label")
      .agg(count(lit(1)).as("n_vecs"), avg(col("nrm")).as("mean_norm"),
        stddev_samp(col("nrm")).as("sd_norm"))
    scal.join(dims, "label")
      .select(col("label"), col("n_vecs"),
        round(col("mean_norm"), 4).as("mean_norm"),
        when(col("n_vecs") > 1, round(col("sd_norm"), 4)).as("sd_norm"),
        round(sqrt(col("sv2")) / col("n_vecs"), 4).as("centroid_norm"),
        when(col("n_vecs") > 1,
          round((col("su2") - col("n_vecs"))
            / (col("n_vecs") * (col("n_vecs") - lit(1)).cast("double")),
            4) + lit(0.0)).as("mean_cos"))
      .orderBy("label")
  }

  /** q71 — per-group embedding centroids (the k-means/IVF training
    * primitive as a declarative aggregate): explode to (group, dim,
    * value) and hash-aggregate per (group, dim). Shuffle volume is
    * |vectors|·dim scalar rows with map-side partial sums — the
    * standard distributed centroid shape; at 100 TB the alternative is
    * a typed Aggregator over whole arrays, traded off in SURVEY §2.12.
    * Dims are 1-based to match SQL array indexing. */
  def groupCentroids(
      embeddings: DataFrame, groups: DataFrame, groupCol: String)
      : DataFrame =
    embeddings.join(groups, "vec_id")
      .select(col(groupCol), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col(groupCol), (col("pos") + 1).cast("long").as("dim"))
      // + 0.0 collapses IEEE negative zero (an avg a hair below zero
      // rounds to -0.0, which hash-compares unequal to 0.0)
      .agg((round(avg(col("v").cast("double")), 4) + lit(0.0))
        .as("centroid"))
      .orderBy(groupCol, "dim")

  /** Q77 — cosine top-k written entirely in SQL against the registered
    * native [[graft.functions.VectorDot]] (`vec_dot`): the codegen'd
    * fused-loop expression is what the SQL text plans to, proving the
    * FunctionRegistry surface gives SQL users the same hot path as the
    * Column API. Broadcast hint on the |q|-row side; evaluation order
    * of vec_dot is index-ascending, matching the oracle's
    * list_transform formulation bit-for-bit. */
  def sqlCosineTopK(t: graft.Tables): DataFrame = {
    t.embeddings.createOrReplaceTempView("graft_q77_embeddings")
    t.spark.sql(
      """WITH v AS (
        |  SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS e
        |  FROM graft_q77_embeddings),
        |q AS (SELECT vec_id AS qid, e AS qv FROM v WHERE vec_id < 5),
        |s AS (
        |  SELECT /*+ BROADCAST(q) */ qid, vec_id AS cid,
        |         ROUND(vec_dot(qv, e) /
        |           (SQRT(vec_dot(qv, qv)) * SQRT(vec_dot(e, e))), 6) AS cos
        |  FROM v JOIN q ON vec_id <> qid),
        |rk AS (
        |  SELECT qid, cid, cos,
        |         ROW_NUMBER() OVER (PARTITION BY qid
        |                            ORDER BY cos DESC, cid) AS rk
        |  FROM s)
        |SELECT qid, cid, cos, CAST(rk AS BIGINT) AS rk
        |FROM rk WHERE rk <= 3
        |ORDER BY qid, rk""".stripMargin)
  }

  /** Engine-portable hyperplane signs: sign(i,j) = high bit of the
    * first hex digit of md5("i:j") — pure constants, computed once at
    * plan build; any md5-capable engine derives the identical matrix
    * (the SQL oracle rebuilds it from range()×range()). */
  def md5PlaneSigns(dim: Int, bits: Int): Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(bits, dim) { (i, j) =>
      val h = md.digest(s"$i:$j".getBytes("UTF-8"))
      if ((h(0) & 0x80) != 0) 1.0 else -1.0
    }
  }

  /** q35 — embedding-cosine near-dup pairs with a fully portable LSH:
    * md5-derived hyperplane signatures → 4-bit band buckets → exact
    * cosine over collisions only. Both engines compute identical
    * signatures, so the (recall < 1) candidate set is itself
    * deterministic and oracle-comparable — and there is still no cross
    * join anywhere. */
  def embeddingNearDupsPortable(
      embeddings: DataFrame, dim: Int = 64, minCos: Double = 0.4,
      bits: Int = 16, bands: Int = 4): DataFrame = {
    val rows = bits / bands
    val mask = (1L << rows) - 1
    val signs = md5PlaneSigns(dim, bits)
    val sigCol = (0 until bits).map { i =>
      val plane = array(signs(i).toIndexedSeq.map(lit): _*)
      when(dot(col("v"), plane) > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    val sig = embeddings
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("n", norm(col("v")))
      .withColumn("sg", sigCol)
    val banded = sig.select(
      col("vec_id"), col("v"), col("n"),
      posexplode(array((0 until bands).map(b =>
        shiftright(col("sg"), b * rows).bitwiseAND(lit(mask))): _*))
        .as(Seq("band", "bkey")))
    // cos is a pure function of the pair, so computing it BEFORE the
    // multi-band dedup means the distinct exchange carries (id, id,
    // cos) — 24 bytes — instead of the two 64-double vectors (~1 KB)
    // per candidate row (guide-§2.3 "project before the exchange";
    // duplicate band collisions recompute one dot product each, far
    // cheaper than shuffling their payloads)
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey")
          && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_i"), col("b.vec_id").as("vec_j"),
        round(dot(col("a.v"), col("b.v")) / (col("a.n") * col("b.n")), 6)
          .as("cos"))
      .distinct()
      .filter(col("cos") >= minCos)
      .orderBy("vec_i", "vec_j")
  }

  /** q219 — CROSS-LINGUAL near-dup pairs (translation-duplicate
    * detection): the q35 portable-LSH cosine pairs restricted to pairs
    * whose documents carry DIFFERENT language tags — the signal that
    * catches machine-translated copies and parallel-corpus bleed,
    * which every shingle/token dedup (q19/q135) is blind to by
    * construction (different surface forms) and same-language semantic
    * dedup (q100) deliberately keeps. Mined cross-lingual pairs are
    * also exactly the web-parallel-corpus shape (WikiMatrix/CCMatrix).
    *
    * Scale: the language frame is a 2-narrow-column side joined AFTER
    * the LSH band filter — it rides the (already pruned) pair frame,
    * never the corpus×corpus space; everything upstream is q35's
    * banded self-join. The lang filter cannot be pushed below the
    * band join (it needs both sides), which is the right order: bands
    * prune ~99% first. The DECLARED gate pins the oracle-portable
    * 16-bit/4-band signature, whose within-bucket candidate count
    * grows ~n²/2¹⁶ as density rises (measured 1.7 exponent at
    * sf0.1→sf1 — the fixed-bit LSH density cost, same contract as
    * q35); the knob a 100 TB caller turns is `bits`/`bands`
    * (signature width — candidates fall ~2^Δrows per widened band),
    * or the IVF/SQ8 ANN family for recall-bounded budgets. */
  def crossLingualNearDups(
      embeddings: DataFrame, docLangs: DataFrame,
      dim: Int = 64, minCos: Double = 0.4,
      bits: Int = 16, bands: Int = 4): DataFrame = {
    val pairs =
      embeddingNearDupsPortable(embeddings, dim, minCos, bits, bands)
    val li = docLangs.select(col("vec_id").as("vec_i"),
      col("lang").as("lang_i"))
    val lj = docLangs.select(col("vec_id").as("vec_j"),
      col("lang").as("lang_j"))
    pairs.join(li, "vec_i").join(lj, "vec_j")
      .filter(col("lang_i") =!= col("lang_j"))
      .select(col("vec_i"), col("vec_j"), col("lang_i"), col("lang_j"),
        col("cos"))
      .orderBy("vec_i", "vec_j")
  }

  /** IVF (inverted-file) approximate NN — the other standard ANN scale
    * path besides LSH: a sample-trained coarse quantizer
    * ([[ivfCentroids]]) partitions the corpus into `nlist` cells; each
    * query probes its `nprobe` nearest cells and exact cosine re-ranks
    * only those cells' vectors.
    *
    * Plan shape at scale: centroids are tiny (nlist × dim, a literal
    * in the plan); cell assignment and each query's probe are map-side
    * passes of the [[graft.functions.IvfNearest]] kernel; the probe
    * join is an equi-join on cell id. Corpus is hash-partitioned by cell — the
    * classic FAISS-style IVF layout expressed as DataFrames. Recall vs
    * brute force is asserted in SimilaritySpec. */
  def ivfCosineTopK(
      embeddings: DataFrame, queryMaxId: Long = 10,
      k: Int = 5, nlist: Int = 16, nprobe: Int = 4): DataFrame = {
    val vecs = normed(embeddings)
    val cent = ivfCentroids(vecs, "vec_id", "v", nlist)
    val qCells = queryPanel(vecs, queryMaxId)
      .withColumn("cell", ivfProbe(col("qv"), cent, nprobe))
    val cand = panel(ivfAssign(vecs, cent, "v"), "c", col("cell"))
      .join(broadcast(qCells), Seq("cell"))
      .filter(col("cid") =!= col("qid"))
      .select(col("qid"), col("cid"), cos6.as("cos"))
      .distinct()
    ranked(cand, "cos", k)
  }

  /** Training rows per IVF cell: the FAISS train-on-sample convention
    * (its k-means warns below 39 and samples down above 256 points per
    * centroid). */
  private val IvfSamplePerCell = 256

  /** The IVF coarse quantizer of q83, q166 and the [[graft.sources
    * .IndexLedger]] build: Lloyd's k-means ([[kmeansLocal]], 20
    * iterations) on the driver over a bounded sample of at most
    * 256·nlist rows. The sample is the first rows in
    * (`xxhash64(id)`, id) order — ONE collect job whose result does
    * not depend on partitioning, so the centroids are deterministic
    * and independent of corpus size beyond the sample. k clamps to the
    * sample size, so every centroid seeds from a distinct sample
    * point. Returns the centroid frame (cell, cv, c2) with
    * c2 = ||cv||², the form [[ivfAssign]] reads. */
  def ivfCentroids(
      frame: DataFrame, idCol: String, vecCol: String,
      nlist: Int): DataFrame = {
    val spark = frame.sparkSession
    import spark.implicits._
    val sample = frame
      .orderBy(xxhash64(col(idCol)), col(idCol))
      .limit(IvfSamplePerCell * nlist)
      .select(col(vecCol))
      .collect().map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty,
      "ivfCentroids: input is empty — cannot train a coarse quantizer")
    kmeansLocal(sample, math.min(nlist, sample.length), iters = 20)
      .zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "cv")
      .withColumn("c2", dot(col("cv"), col("cv")))
  }

  /** An [[ivfCentroids]]-form frame (cell, cv, c2) as the literal the
    * [[graft.functions.IvfNearest]] kernel scores against: its nlist
    * rows, collected once (no job for a driver-side frame; one
    * kilobyte read for a persisted one). */
  def ivfCells(cent: DataFrame): Column = typedLit(centroidRows(cent))

  private def centroidRows(cent: DataFrame): Seq[(Int, Seq[Double], Double)] =
    cent.select("cell", "cv", "c2").collect().toSeq.map(r =>
      (r.getInt(0), r.getSeq[Double](1), r.getDouble(2)))

  /** (id, v, ...) → (id, v, ..., cell, cv): nearest centroid of an
    * [[ivfCentroids]] frame by Euclidean argmin — rank by
    * (c2 − 2·v·c), the ||v||²-free form, tie-broken by cell id so
    * assignment is deterministic. One narrow projection, one row out
    * per row in: the [[graft.functions.IvfNearest]] kernel against the
    * [[ivfCells]] literal, then a literal lookup of the matched
    * centroid `cv` (the drift statistic reads it) — no exchange or
    * sort; the centroid collect is its only job (none for a
    * driver-side frame). */
  def ivfAssign(vs: DataFrame, cent: DataFrame, vecCol: String): DataFrame = {
    val rows = centroidRows(cent)
    val cvOf = typedLit(rows.map { case (cell, cv, _) => cell -> cv }.toMap)
    vs.withColumn("cell",
        ivf_nearest(col(vecCol), typedLit(rows), 1, probe = false).getItem(0))
      .withColumn("cv", element_at(cvOf, col("cell")))
  }

  /** Deterministic local Lloyd's k-means for the IVF coarse quantizer:
    * centroids initialized at evenly spaced sample points (no RNG —
    * reruns are bit-identical), empty clusters keep their previous
    * centroid. Runs on a BOUNDED driver-side sample by design — the
    * FAISS convention: quantizers train on ~10⁴–10⁵ sampled vectors
    * regardless of corpus size, while encoding/scoring stay fully
    * distributed. */
  private def kmeansLocal(
      pts: Array[Array[Double]], k: Int, iters: Int): Array[Array[Double]] = {
    val d = pts.head.length
    var cents = Array.tabulate(k)(i => pts(i * pts.length / k).clone())
    for (_ <- 0 until iters) {
      val sums = Array.fill(k, d)(0.0)
      val cnts = Array.fill(k)(0)
      pts.foreach { p =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          var dist = 0.0; var j = 0
          while (j < d) { val t = p(j) - cents(c)(j); dist += t * t; j += 1 }
          if (dist < bestD) { bestD = dist; best = c }
          c += 1
        }
        var j = 0
        while (j < d) { sums(best)(j) += p(j); j += 1 }
        cnts(best) += 1
      }
      cents = Array.tabulate(k)(c =>
        if (cnts(c) == 0) cents(c)
        else Array.tabulate(d)(j => sums(c)(j) / cnts(c)))
    }
    cents
  }

  /** q100 — SemDeDup (Abbas et al. 2023) semantic deduplication.
    * Candidate pairs come from the engine-portable LSH
    * ([[embeddingNearDupsPortable]], the q35 contract), so the DuckDB
    * oracle replays the exact candidate set. Pairs are closed
    * transitively with the diameter-independent star components; each
    * cluster keeps its min vec_id. Output is the DROP LIST — (vec_id,
    * kept_id) for every vector the pass removes. The fixed 4-band/4-bit
    * granularity keeps 2⁴ buckets per band, so candidate pairs grow
    * super-linearly as corpus density rises (25× wall clock for 10×
    * vectors in the sf1 rehearsal, BASELINE.md). */
  def semanticDedupPortable(
      embeddings: DataFrame, minCos: Double = 0.4): DataFrame = {
    val pairs = embeddingNearDupsPortable(embeddings, minCos = minCos)
      .select(col("vec_i").as("doc_i"), col("vec_j").as("doc_j"))
    Dedup.connectedComponentsStar(pairs)
      .filter(col("doc_id") =!= col("component"))
      .select(col("doc_id").as("vec_id"), col("component").as("kept_id"))
      .orderBy("vec_id")
  }

  /** q148 — embedding dimension correlation matrix: Pearson corr for
    * every dimension pair (i < j) of the embedding space — the
    * redundant-dimension / whitening diagnostic an embedding pipeline
    * runs before PCA or product quantization (highly correlated dims
    * waste index bits; PQ subspace splits want decorrelated blocks).
    *
    * Scale design — ONE pass through the custom
    * [[graft.functions.MomentMatrixAggregator]]: every partition
    * accumulates n / Σx / the full upper-triangle Σxᵢxⱼ in a local
    * d(d+1)/2-double buffer (tight multiply-add loop, no per-pair row
    * materialization), merges are elementwise array adds with map-side
    * partial aggregation, and the whole corpus shuffles ONE ~17 KB
    * buffer per partition. A 10⁹-vector corpus pays one linear scan
    * and shuffles kilobytes; the pair frame only exists AFTER the
    * aggregate, at d²/2 rows. (The same result as a d²-key explode +
    * hash agg, measured 7.5× faster at sf1.)
    *
    * Determinism: float32 inputs widen to double EXACTLY on both
    * engines before multiplying; per-buffer sums differ only in
    * addition order → 4-decimal rounding of the final ratio, the
    * repo's float-output discipline. */
  def dimCorrelation(embeddings: DataFrame): DataFrame = {
    val moment = udaf(new graft.functions.MomentMatrixAggregator,
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Float]]())
    val one = embeddings.agg(moment(col("embedding")).as("m"))
    val mu = (a: Column, idx: Column) =>
      element_at(a, idx + 1) / col("n")
    one.select(col("m.n").as("n"), col("m.sums").as("s"),
        col("m.diag").as("dg"), explode(col("m.pairs")).as("t"))
      .select(col("t.i").as("dim_i"), col("t.j").as("dim_j"),
        (col("t.sxy") / col("n")).as("exy"),
        mu(col("s"), col("t.i")).as("mu_i"),
        mu(col("s"), col("t.j")).as("mu_j"),
        (element_at(col("dg"), col("t.i") + 1) / col("n")).as("exx_i"),
        (element_at(col("dg"), col("t.j") + 1) / col("n")).as("exx_j"))
      .select(col("dim_i"), col("dim_j"),
        // + 0.0 folds IEEE negative zero (a -1e-5 that rounds to -0.0)
        // into +0.0 — mirrored in the oracle
        (round((col("exy") - col("mu_i") * col("mu_j")) /
          sqrt((col("exx_i") - col("mu_i") * col("mu_i")) *
            (col("exx_j") - col("mu_j") * col("mu_j"))), 4) + lit(0.0))
          .as("corr"))
      .orderBy("dim_i", "dim_j")
  }

  // ---- q162: int8 scalar-quantized cosine (SQ8) --------------------

  /** Symmetric per-vector int8 scalar quantization: scale = max|v_i| /
    * 127, code_i = floor(v_i/scale + 0.5) ∈ [-127, 127] — the FAISS
    * ScalarQuantizer(QT_8bit) idea. 4× (vs float32) less candidate
    * data to scan/shuffle, and the inner loop becomes integer
    * multiply-adds.
    *
    * The property the oracle gate leans on: under SYMMETRIC per-
    * vector scaling the cosine of the quantized vectors is scale-free
    * — cos_q = Σqa·qb / (√Σqa² · √Σqb²), pure exact-integer sums
    * under IEEE sqrt/divide — so both engines derive bit-identical
    * scores with no float-accumulation-order hazard at all (stronger
    * than the float path, which needs 6-decimal rounding for safety).
    *
    * `floor(x + 0.5)` rather than `round`: engines disagree on
    * negative-half rounding (HALF_UP vs away-from-zero); floor+0.5 is
    * one deterministic rule everywhere. The native
    * [[graft.functions.Sq8Codes]] kernel computes the scale once per
    * vector (O(d)); codes are bit-identical to the column formula. */
  def sq8Codes(v: Column): Column = org.apache.spark.sql.GraftBridge.column(
    graft.functions.Sq8Codes(org.apache.spark.sql.GraftBridge.expression(v)))

  /** q162 — SQ8 cosine top-k: same contract as [[cosineTopK]] but
    * scored on int8 codes. Scale: identical plan shape to q26
    * (broadcast query side, per-partition scoring, per-query top-k
    * window) — the quantization is a narrow map that SHRINKS the
    * scanned bytes 4×; at 100 TB the candidate side streams codes,
    * not floats, and the exact-rescore of the top-k' survivors (the
    * standard two-stage ANN) touches float vectors for only
    * k' · |queries| rows. SimilaritySpec measures recall@k vs the
    * exact float path. */
  def sq8CosineTopK(
      embeddings: DataFrame, queryMaxId: Long = 10,
      k: Int = 5): DataFrame = {
    val coded = sq8Quantizable(normed(embeddings), "v")
    val scored = exactPairs(
        queryPanel(coded, queryMaxId, col("qc").as("qqc"), col("d2").as("qd2")),
        panel(coded, "c", col("qc"), col("d2")))
      .select(col("qid"), col("cid"), round(sq8Cosine, 6).as("cos_q"))
    ranked(scored, "cos_q", k)
  }

  /** Quantized cosine of a (qqc, qd2) × (qc, d2) code pair. Codes ride
    * as ARRAY<DOUBLE> so the scoring loop is the fused native vec_dot
    * (one codegen'd primitive loop, no per-pair intermediate array);
    * every product and running sum stays < 2^53, so double arithmetic
    * here IS exact integer arithmetic and the oracle's BIGINT
    * formulation matches bit-for-bit. */
  val sq8Cosine =
    dot(col("qqc"), col("qc")) / (sqrt(col("qd2")) * sqrt(col("d2")))

  /** The composed 100 TB ANN path the q83/q162 scaladocs promise —
    * IVF coarse quantization bounds WHICH vectors are scored (nprobe
    * cells instead of the corpus), SQ8 bounds WHAT the scoring reads
    * (int8 codes, 4× less than floats), and the classic two-stage
    * finish rescores the k·`oversample` quantized survivors with
    * exact float cosine so the output scores carry no quantization
    * error — only the CANDIDATE CHOICE is approximate (the FAISS
    * IVF+SQ design). The coarse quantizer is the sample-trained
    * [[ivfCentroids]] ⇒ rows-only gate (q83 precedent); SimilaritySpec
    * measures recall vs brute force. */
  def ivfSq8TopK(
      embeddings: DataFrame, queryMaxId: Long = 10, k: Int = 5,
      nlist: Int = 16, nprobe: Int = 4, oversample: Int = 4): DataFrame = {
    val vecs = sq8Quantizable(normed(embeddings), "v")
    val cent = ivfCentroids(vecs, "vec_id", "v", nlist)
    val qCells = queryPanel(vecs, queryMaxId,
        col("qc").as("qqc"), col("d2").as("qd2"))
      .withColumn("cell", ivfProbe(col("qv"), cent, nprobe))
    // stage 1: quantized scoring over the probed cells only
    val cand = panel(ivfAssign(vecs, cent, "v"), "c",
        col("qc"), col("d2"), col("cell"))
      .join(broadcast(qCells), Seq("cell"))
      .filter(col("cid") =!= col("qid"))
      .select(col("qid"), col("qv"), col("qn"), col("cid"), col("cv"),
        col("cn"), sq8Cosine.as("approx"))
      .distinct()
    // stage 2: exact rescore of the k·oversample shortlist, final top-k
    ranked(topKPerQuery(cand, "approx", k * oversample, "ar")
      .select(col("qid"), col("cid"), cos6.as("cos")), "cos", k)
  }

  /** q171 — PCA-rotated SQ8 ANN: the FAISS PCAR/OPQ-lite
    * preprocessing [[Pca]]'s scaladoc promises, composed with q162's
    * int8 scoring. Project every vector onto the top `dims` principal
    * axes (ONE moment-matrix pass + a broadcast rotation riding the
    * scan), then quantize and score the PROJECTED vectors — at 100 TB
    * the candidate side shrinks another dims/d on top of SQ8's 4×,
    * and on real embedding corpora (variance concentrated in few
    * directions) the rotation loses almost nothing. Candidate choice
    * is approximate (rotation truncation + quantization); PcaSpec
    * measures recall against exact original-space cosine on planted
    * low-rank data, where the truncation is provably near-lossless.
    * Rows-only gate (iterative eigensolve + float scores). */
  def pcaSq8TopK(
      embeddings: DataFrame, dims: Int = 32, queryMaxId: Long = 10,
      k: Int = 5): DataFrame = {
    val m = Pca.fit(embeddings, dims)
    val proj = Pca.project(embeddings, m)
    val arr = array(
      (0 until m.k).map(j => col(s"pc_$j").cast("float")): _*)
    sq8CosineTopK(
      proj.select(col("vec_id"), arr.as("embedding")), queryMaxId, k)
  }

  /** q189 — reciprocal-rank-fusion hybrid retrieval: the standard way
    * modern search stacks combine heterogeneous rankers (dense +
    * quantized here; dense + BM25 in a text stack) without score
    * calibration — RRF(d) = Σ_r 1/(K + rank_r(d)) over the rankings
    * that surface d, K = 60 (Cormack et al.'s constant). Fuses the
    * EXACT cosine ranking with the SQ8 quantized ranking, both taken
    * to `depth`, via one full-outer join on (qid, cid) — per-query
    * frames are ≤ 2·depth rows after the join, so the fusion window
    * is bounded by construction no matter the corpus size; the
    * upstream rankers carry the scale posture. Ranks are exact
    * integers (absent-from-a-list reported as 0), the fused score is
    * rounded to 6 dp BEFORE ranking so tie resolution (cid asc) is
    * engine-portable. */
  def rrfFusion(
      embeddings: DataFrame, queryMaxId: Long = 10, depth: Int = 20,
      k: Int = 10, kRrf: Int = 60): DataFrame = {
    // Round-16 (guide §1.2/§2.4): composing the two standalone rankers
    // paid TWO full candidate scans + broadcast joins, two per-query
    // window exchanges, and a full-outer join of the depth-k lists.
    // Both rankings are functions of the same (qid, cid) pair, so ONE
    // scan computes both scores and both ranks; all three windows key
    // on qid, so the pair frame exchanges once. Expressions are the
    // rankers' verbatim (same 6-dp rounding, same tie-break); the sq8
    // list's zero-vector exclusions (d2 > 0 on both sides) map to a
    // null cos_q ranked NULLS LAST, with list membership = non-null
    // AND rank ≤ depth — SimilaritySpec asserts row equality against
    // the two-ranker composition.
    import graft.functions.VectorFunctions.vec_dot
    val base = embeddings.select(
        col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("n", norm(col("v")))
      .withColumn("qc", sq8Codes(col("v")).cast("array<double>"))
      .withColumn("d2", vec_dot(col("qc"), col("qc")))
    val q = base.filter(col("vec_id") < queryMaxId)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("n").as("qn"), col("qc").as("qa"), col("d2").as("da"))
    val c = base.select(col("vec_id").as("cid"), col("v").as("cv"),
      col("n").as("cn"), col("qc").as("qb"), col("d2").as("db"))
    val scored = c.join(broadcast(q), col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6)
          .as("cos"),
        when(col("da") > 0.0 && col("db") > 0.0,
          round(vec_dot(col("qa"), col("qb")) /
            (sqrt(col("da")) * sqrt(col("db"))), 6)).as("cos_q"))
    val wE = Window.partitionBy("qid")
      .orderBy(col("cos").desc, col("cid").asc)
    val wS = Window.partitionBy("qid")
      .orderBy(col("cos_q").desc_nulls_last, col("cid").asc)
    val ranked = scored
      .withColumn("rk_e", row_number().over(wE))
      .withColumn("rk_s", row_number().over(wS))
      .withColumn("in_e", col("rk_e") <= depth)
      // nulls sort LAST, so a non-null row's raw rank equals its rank
      // among the sq8 list's real members
      .withColumn("in_s", col("cos_q").isNotNull && col("rk_s") <= depth)
      .filter(col("in_e") || col("in_s"))
      .withColumn("rrf", round(
        when(col("in_e"), lit(1.0) / (lit(kRrf) + col("rk_e")))
          .otherwise(lit(0.0)) +
          when(col("in_s"), lit(1.0) / (lit(kRrf) + col("rk_s")))
            .otherwise(lit(0.0)), 6))
    val w = Window.partitionBy("qid")
      .orderBy(col("rrf").desc, col("cid").asc)
    ranked.withColumn("frk", row_number().over(w))
      .filter(col("frk") <= k)
      .select(col("qid"), col("cid"), col("rrf"),
        when(col("in_e"), col("rk_e")).otherwise(lit(0))
          .cast("long").as("rk_exact"),
        when(col("in_s"), col("rk_s")).otherwise(lit(0))
          .cast("long").as("rk_sq8"),
        col("frk").cast("long").as("frk"))
      .orderBy("qid", "frk")
  }

  /** q190 — hard-negative mining: the training-data step behind every
    * contrastive retriever/reranker (DPR/SBERT-style): for each query
    * in the bounded panel, the `k` highest-cosine candidates whose
    * label DIFFERS from the query's (label = ground-truth relevance,
    * the q186 convention) — the negatives a bi-encoder most needs to
    * see — each with its negative rank, cosine, the query's best
    * POSITIVE cosine, and the margin (best positive − negative;
    * negative margin ⇒ the ranker currently prefers a wrong answer —
    * the "hardest" class).
    *
    * Shape: one broadcast of the bounded query panel against the
    * candidate scan (the [[cosineTopK]] posture), ONE extra aggregate
    * for the per-query best positive (|Q| rows, broadcast back), and
    * the per-query negative rank over the same bounded-panel window.
    * Scores are rounded to 6 dp BEFORE ranking and the margin is a
    * difference of two rounded values re-rounded — deterministic,
    * hence the full hash oracle. Queries with no positive at all
    * report best_pos_cos = −1 (worse than any cosine, so margins
    * stay well-defined). */
  def hardNegatives(
      embeddings: DataFrame, queryMaxId: Long = 10,
      k: Int = 10): DataFrame = {
    val vecs = normed(embeddings,
      extra = Seq(col("label").cast("long").as("label")))
    val scored = exactPairs(
        queryPanel(vecs, queryMaxId, col("label").as("q_label")),
        panel(vecs, "c", col("label").as("c_label")))
      .select(col("qid"), col("q_label"), col("cid"), col("c_label"),
        cos6.as("cos"))
    val bestPos = scored.filter(col("c_label") === col("q_label"))
      .groupBy("qid").agg(max("cos").as("bp"))
    topKPerQuery(scored.filter(col("c_label") =!= col("q_label")), "cos", k)
      .join(broadcast(bestPos), Seq("qid"), "left")
      .withColumn("best_pos_cos", coalesce(col("bp"), lit(-1.0)))
      .select(col("qid"), col("cid"), col("cos"), col("rk").as("neg_rank"),
        col("best_pos_cos"),
        round(col("best_pos_cos") - col("cos"), 6).as("margin"))
      .orderBy("qid", "neg_rank")
  }

  /** q186 — retrieval-quality evaluation suite: the standard IR/RAG
    * metrics (hit count, precision@k, recall@k, MRR, NDCG@k) for a
    * bounded query panel against the full corpus, with the fixture's
    * `label` column as binary ground-truth relevance (relevant ⇔ same
    * label, the ANN-benchmark convention). Rides [[cosineTopK]]'s
    * exact ranked frame unchanged — same rounded-cosine scores, same
    * deterministic (cos DESC, cid) tiebreak — so the eval and the
    * retrieval it grades can never disagree about ranking.
    *
    * Every metric is computed distributively from that k·|Q| frame:
    * hits/first-relevant-rank/DCG in one groupBy, relevant-set sizes
    * from one label-count aggregate (broadcast — label cardinality is
    * fixed), and the IDCG normalizer from a k×k Range self-join
    * (no window at all, and nothing driver-side). At 100 TB the eval
    * panel is bounded by construction (queryMaxId) while the candidate
    * scan stays one distributed pass — swap [[cosineTopK]] for
    * [[ivfSq8TopK]] to grade the approximate index with the same
    * metric frame. NDCG uses binary gains: DCG = Σ rel/log2(rank+1),
    * IDCG = Σ_{i≤min(n_rel,k)} 1/log2(i+1); ranks and hits are exact
    * integers, ratios rounded to 6 dp for cross-engine hashing. */
  def retrievalEval(
      embeddings: DataFrame, queryMaxId: Long = 10,
      k: Int = 10): DataFrame = {
    val spark = embeddings.sparkSession
    val labels = embeddings.select(
      col("vec_id"), col("label").cast("long").as("label"))
    // |relevant(q)| = count(label(q)) - 1: the query never counts as
    // its own candidate (cosineTopK excludes qid = cid)
    val labelCounts = labels.groupBy("label")
      .agg(count(lit(1)).as("n_label"))
    val perQuery = cosineTopK(embeddings, queryMaxId, k)
      .join(labels.select(
        col("vec_id").as("qid"), col("label").as("q_label")), Seq("qid"))
      .join(labels.select(
        col("vec_id").as("cid"), col("label").as("c_label")), Seq("cid"))
      .withColumn("rel",
        when(col("q_label") === col("c_label"), 1L).otherwise(0L))
      .groupBy("qid", "q_label")
      .agg(
        sum("rel").as("hits"),
        min(when(col("rel") === 1L, col("rk"))).as("first_rel_rk"),
        sum(when(col("rel") === 1L,
          lit(1.0) / log2(col("rk") + 1)).otherwise(lit(0.0))).as("dcg"))
    // IDCG table for m = 1..k via a Range self-join aggregate — no
    // unpartitioned window, k² literal-bounded rows
    val r = spark.range(1, k + 1L).select(col("id"))
    val idcgTable = r.as("m").join(r.as("i"), col("i.id") <= col("m.id"))
      .groupBy(col("m.id").as("m"))
      .agg(sum(lit(1.0) / log2(col("i.id") + 1)).as("idcg"))
    perQuery
      .join(broadcast(labelCounts), col("q_label") === col("label"))
      .withColumn("n_rel", col("n_label") - 1)
      .join(broadcast(idcgTable),
        least(col("n_rel"), lit(k.toLong)) === col("m"), "left")
      .select(
        col("qid"), col("n_rel"), col("hits"),
        round(col("hits").cast("double") / k, 6).as("precision_k"),
        when(col("n_rel") > 0,
          round(col("hits").cast("double") / col("n_rel"), 6))
          .otherwise(lit(0.0)).as("recall_k"),
        when(col("first_rel_rk").isNotNull,
          round(lit(1.0) / col("first_rel_rk"), 6))
          .otherwise(lit(0.0)).as("mrr"),
        when(col("idcg").isNotNull, round(col("dcg") / col("idcg"), 6))
          .otherwise(lit(0.0)).as("ndcg_k"))
      .orderBy("qid")
  }

  /** q230 — Matryoshka dimension-truncation recall audit: for each
    * query vector, the overlap between the exact top-`k` under FULL
    * 64-dim cosine and the top-`k` under the first `dims` dimensions
    * only — the offline audit behind the biggest storage/IO lever a
    * 100 TB vector corpus has (truncating 64→16 dims reads ¼ the
    * bytes in the first-stage scan; MRL-trained embeddings keep
    * recall high, arbitrary embeddings don't — this table is how you
    * find out which you have, per corpus, before flipping the
    * two-stage switch). The production serving path is the existing
    * IVF/SQ8 two-stage family; this is its calibration table.
    *
    * Ranking on both arms follows q26's discipline exactly: cosine
    * ROUNDED to 6 dp, cid tie-break — so each arm's top-k set is the
    * gate-proven reproducible kind, and the overlap/flag outputs are
    * pure integers.
    *
    * Scale: both arms broadcast the |queries|-row side against the
    * candidate scan (the q26 shape); the truncated arm's scoring
    * touches `dims/64` of the vector bytes, which is the point. */
  def matryoshkaRecall(
      embeddings: DataFrame,
      dims: Int = 16,
      k: Int = 5,
      queryMaxId: Long = 50): DataFrame = {
    def topk(vec: Column => Column, rkName: String): DataFrame = {
      val vecs = normed(embeddings, vec)
      // zero-norm guard: a vector whose first `dims` entries are all
      // zero would make 0/0 = NaN, and Spark ranks NaN ABOVE every
      // real cosine in the desc sort (seizing top-k slots) while
      // DuckDB's NULL-from-0/0 sorts last — pin both engines to the
      // same well-defined floor instead
      val scored = exactPairs(queryPanel(vecs, queryMaxId), panel(vecs, "c"))
        .select(col("qid"), col("cid"),
          when(col("qn") > 0 && col("cn") > 0, cos6)
            .otherwise(lit(-1.0)).as("cos"))
      topKPerQuery(scored, "cos", k, rkName)
        .select(col("qid"), col("cid"), col(rkName))
    }
    val full = topk(asDouble, "rk_full")
    val trunc = topk(v => asDouble(slice(v, 1, dims)), "rk_trunc")
    val overlap = full.join(trunc, Seq("qid", "cid"))
      .groupBy("qid").agg(count(lit(1)).as("overlap"),
        sum(when(col("rk_full") === 1 && col("rk_trunc") === 1, 1L)
          .otherwise(0L)).as("top1_match"))
    full.groupBy("qid").agg(count(lit(1)).as("n_full"))
      .join(overlap, Seq("qid"), "left")
      .select(col("qid"), col("n_full"),
        coalesce(col("overlap"), lit(0L)).as("overlap"),
        coalesce(col("top1_match"), lit(0L)).as("top1_match"),
        round(coalesce(col("overlap"), lit(0L)).cast("double")
          / col("n_full").cast("double"), 4).as("recall_k"))
      .orderBy("qid")
  }
}
