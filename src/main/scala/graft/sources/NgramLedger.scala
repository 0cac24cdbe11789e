package graft.sources

import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted n-gram document-frequency ledger — the sixth ledger:
  * q193's memorization-risk audit against LIVE committed state, so a
  * crawl increment is gated the moment it arrives without ever
  * rescanning corpus text. State is the corpus-wide shingle df table
  * as APPEND-ONLY delta parts (`df/part_N`, 8-byte xxhash64
  * fingerprint + long count) behind the shared
  * [[Ledger]] commit protocol; reads merge-on-read
  * (one hash aggregate over the manifest's parts — the LSM shape),
  * [[compact]] folds parts back to one.
  *
  * The composition contract rides ADDITIVITY: the STATE after two
  * absorbs equals (exactly — long addition) the state after one
  * absorb of the union, spec-pinned. Risk rows are AS-OF by design:
  * each batch is judged against the dfs committed at its arrival
  * plus its own contribution — the production semantic (a gating
  * decision, once emitted, never silently changes), and exactly what
  * [[Dedup.memorizationRisk]] computes when the ledger starts empty
  * and the whole corpus arrives as one batch (spec-pinned equality).
  *
  * Family invariants, all shared with the other five ledgers:
  * versioned manifests → as-of reads; tmp+rename commit → crash
  * replay re-derives identical state; [[absorbSink]] exactly-once
  * under foreachBatch replay; [[purge]] refuses older as-of by
  * truncating snapshots; [[vacuum]] age-based part reclamation. */
object NgramLedger {

  import Ledger.{Manifest, partName, writeManifest}

  private def dfDir(statePath: String, part: String) =
    s"$statePath/df/$part"
  private def docsDir(statePath: String, part: String) =
    s"$statePath/docs/$part"

  // ---- shingle-width pinning ------------------------------------
  // df subtraction is only sound when purge re-shingles with the SAME
  // n the docs were absorbed under, so n is pinned in a `_PARAMS`
  // sidecar (tmp+rename, the CorpusIncrement convention) and every
  // state-mutating call is checked — a mismatched n REFUSES loudly
  // instead of silently corrupting counts. Legacy roots committed
  // before this marker existed adopt the first post-upgrade caller's
  // n (all historical callers used the default n=3).
  private def paramsPath(statePath: String) =
    new java.io.File(statePath, "_PARAMS").toPath
  private def pinN(statePath: String, n: Int): Unit = {
    val tmp = new java.io.File(statePath, "._PARAMS.tmp").toPath
    java.nio.file.Files.write(tmp, s"n=$n".getBytes("UTF-8"))
    java.nio.file.Files.move(tmp, paramsPath(statePath),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }
  private def requireN(statePath: String, n: Int): Unit = {
    val p = paramsPath(statePath)
    if (java.nio.file.Files.exists(p)) {
      val got = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      require(got == s"n=$n",
        s"ledger at $statePath was committed with [$got] but called " +
          s"with [n=$n] — refusing: subtracting/adding dfs shingled " +
          "at a different width silently corrupts counts")
    } else pinN(statePath, n)
  }

  /** The distinct (doc_id, fingerprint) frame — q193's index shape. */
  private def index(docs: DataFrame, n: Int): DataFrame =
    // codegen'd window stream + shuffle-distinct (see
    // Dedup.windowFingerprints); df values are identical — same
    // distinct (doc_id, fingerprint) set, same string hash domain
    Dedup.docWindowFingerprints(docs, n).distinct()

  private def dfOf(idx: DataFrame): DataFrame =
    idx.groupBy("g").agg(count(lit(1)).as("df"))

  /** Build the df table from the historical corpus — the ONE full
    * corpus scan this state ever requires. An EMPTY corpus is valid
    * (a from-scratch ledger that learns everything from batches). */
  def init(
      spark: SparkSession, statePath: String, corpus: DataFrame,
      n: Int = 3): Unit = {
    Ledger.requireFresh(statePath)
    dfOf(index(corpus, n))
      .write.mode("overwrite").parquet(dfDir(statePath, partName(1)))
    // the doc registry (8 bytes/doc) is what makes purge IDEMPOTENT:
    // count subtraction is only sound once per member, so purge must
    // know which docs' contributions are still in the df table
    corpus.select(col("doc_id")).distinct()
      .write.mode("overwrite").parquet(docsDir(statePath, partName(1)))
    pinN(statePath, n) // dirs exist now; manifest rename is still last
    writeManifest(statePath, Manifest(1, Seq(partName(1))))
  }

  /** The absorbed doc_id registry (union of the manifest's parts). */
  private def docsTable(
      spark: SparkSession, statePath: String, m: Manifest): DataFrame =
    spark.read.parquet(m.keyParts.map(docsDir(statePath, _)): _*)
      .distinct()

  /** The committed corpus-wide df table: merge-on-read over the
    * manifest's delta parts. Fingerprints and counts only — never
    * text. With `asOfVersion`, the time-travel read: the df table
    * exactly as committed then ("which dfs did increment 7 gate
    * against?"). Versions older than the latest purge are refused. */
  def dfTable(
      spark: SparkSession, statePath: String,
      asOfVersion: Long = -1L): DataFrame =
    mergedAt(spark, statePath, Ledger.at(statePath, asOfVersion))

  private def mergedAt(
      spark: SparkSession, statePath: String, m: Manifest): DataFrame =
    spark.read.parquet(m.keyParts.map(dfDir(statePath, _)): _*)
      .groupBy("g").agg(sum("df").as("df"))
      .filter(col("df") > 0)

  /** Derived-but-uncommitted increment: the batch's risk rows and df
    * deltas (both persisted via localCheckpoint so commit and output
    * see one evaluation) + the manifest they were derived from. */
  private final case class Pending(
      risk: DataFrame, batchDf: DataFrame, batchDocs: DataFrame,
      m: Manifest)

  private def riskBatch(
      spark: SparkSession, statePath: String, m: Manifest,
      batch: DataFrame, n: Int, minDf: Int): Pending = {
    requireN(statePath, n)
    // additivity guard: a doc_id already in the registry must not
    // contribute df deltas AGAIN (docsTable dedups the registry, so a
    // later purge would subtract only once and leave phantom mass) —
    // absorb is idempotent per doc_id, mirroring purge's registry
    // gate. Re-sent docs are skipped: their gating verdict was
    // already emitted when first absorbed. Internal doc_id dups
    // collapse for the same reason (one text per doc_id contract).
    val fresh = batch.dropDuplicates("doc_id")
      .join(docsTable(spark, statePath, m), Seq("doc_id"), "left_anti")
    val idx = index(fresh, n).localCheckpoint(true)
    val batchDf = dfOf(idx).localCheckpoint(true)
    val batchDocs = fresh.select(col("doc_id")).distinct()
    val prior = mergedAt(spark, statePath, m)
      .withColumnRenamed("df", "df_prior")
    // as-of df = committed state + this batch's own contribution —
    // q193's formula when state is empty and the batch is the corpus
    val risk = idx
      .join(batchDf, "g")
      .join(prior, Seq("g"), "left")
      .withColumn("df_now",
        coalesce(col("df_prior"), lit(0L)) + col("df"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df_now") >= minDf, 1L).otherwise(0L))
          .as("n_frequent"),
        max(col("df_now")).as("max_df"))
      .select(col("doc_id"), col("n_shingles"), col("n_frequent"),
        col("max_df"),
        round(col("n_frequent").cast("double")
          / col("n_shingles").cast("double"), 6).as("frequent_frac"),
        when(col("n_frequent") * 2 >= col("n_shingles"), 1)
          .otherwise(0).as("risk_flag"))
      .orderBy("doc_id")
    Pending(risk, batchDf, batchDocs, m)
  }

  /** State advance: the batch's df deltas as a new part, manifest
    * rename last — the commit. */
  private def commitState(
      statePath: String, p: Pending, batchId: Option[Long]): Unit = {
    val next = p.m.version + 1
    p.batchDf.write.mode("overwrite")
      .parquet(dfDir(statePath, partName(next)))
    p.batchDocs.write.mode("overwrite")
      .parquet(docsDir(statePath, partName(next)))
    writeManifest(statePath,
      Manifest(next, p.m.keyParts :+ partName(next), batchId))
  }

  /** Gate `batch` against the ledger (as-of dfs = committed state +
    * the batch itself), absorb its df deltas, and return the per-doc
    * risk rows (the q193 columns). One version per call; corpus text
    * never read. */
  def absorb(
      spark: SparkSession, statePath: String, batch: DataFrame,
      n: Int = 3, minDf: Int = 4): DataFrame = {
    val p = riskBatch(
      spark, statePath, Ledger.current(statePath), batch, n, minDf)
    commitState(statePath, p, batchId = None)
    p.risk
  }

  /** Streaming ingest: exactly-once risk output under
    * `outDir/batch_<id>` despite foreachBatch's at-least-once replay
    * ([[Ledger.admit]]) — output first (deterministic overwrite),
    * manifest batchId last (committed replay no-ops). */
  def absorbSink(
      spark: SparkSession, statePath: String, outDir: String,
      n: Int = 3, minDf: Int = 4): (DataFrame, Long) => Unit =
    (batch, batchId) =>
      Ledger.admit(statePath, batchId).foreach { m =>
        val p = riskBatch(spark, statePath, m, batch, n, minDf)
        p.risk.write.mode("overwrite")
          .parquet(s"$outDir/batch_$batchId")
        commitState(statePath, p, Some(batchId))
      }

  /** Fold the delta parts into one (the LSM maintenance step): the
    * merged table is rewritten as a single part and the manifest
    * re-pointed. Data first, rename last; superseded parts stay for
    * as-of until [[vacuum]]. Returns true if compaction ran. */
  def compact(spark: SparkSession, statePath: String): Boolean = {
    val m = Ledger.current(statePath)
    if (m.keyParts.size <= 1) return false
    Ledger.maintain(statePath, m, erase = false) { next =>
      mergedAt(spark, statePath, m)
        .write.mode("overwrite").parquet(dfDir(statePath, partName(next)))
      docsTable(spark, statePath, m)
        .write.mode("overwrite").parquet(docsDir(statePath, partName(next)))
    }
    true
  }

  /** Right-to-erasure for the DERIVED df state: subtract the given
    * documents' shingle contributions, rewrite the table (counts that
    * reach zero disappear), and drop the docs from the registry.
    * IDEMPOTENT, unlike a bare count subtraction: the doc registry
    * gates the arithmetic, so a crash-retry of the same purge (or a
    * purge of a never-absorbed doc) subtracts NOTHING the second time
    * — df counts are only ever decremented once per actual member.
    * As-of versions older than the purge are refused afterwards
    * (snapshot truncation — a purged doc's fingerprints must not be
    * readable through time travel). Returns the number of documents
    * actually removed.
    *
    * HARD CONTRACT: `docs` must carry the SAME text the doc was
    * absorbed with (the registry stores only doc_id — subtraction is
    * recomputed from caller text), and the same shingle width n the
    * ledger was pinned with ([[requireN]] refuses a mismatch). Text
    * drift is partially detected: over-subtraction drives some df
    * negative and trips the require below instead of being masked by
    * the df > 0 rewrite; drift that only leaves phantom mass is
    * undetectable from counts alone — hence the contract. */
  def purge(
      spark: SparkSession, statePath: String, docs: DataFrame,
      n: Int = 3): Long = {
    val m = Ledger.current(statePath)
    requireN(statePath, n)
    val registry = docsTable(spark, statePath, m)
    // only docs STILL IN the registry may subtract — the idempotence
    // guard (the DedupLedger.purge anti-join discipline, adapted to
    // count arithmetic)
    val present = docs.dropDuplicates("doc_id")
      .join(registry, Seq("doc_id"), "left_semi")
      .localCheckpoint(true)
    val removed = present.select("doc_id").distinct().count()
    if (removed == 0L) return 0L
    val sub = dfOf(index(present, n))
      .select(col("g"), (-col("df")).as("df"))
    val merged = mergedAt(spark, statePath, m).unionByName(sub)
      .groupBy("g").agg(sum("df").as("df"))
      .localCheckpoint(true)
    val negatives = merged.filter(col("df") < 0).count()
    require(negatives == 0L,
      s"purge at $statePath drove $negatives dfs negative — the " +
        "purged docs' text differs from what was absorbed " +
        "(text-identity contract); state NOT rewritten")
    Ledger.maintain(statePath, m, erase = true) { next =>
      merged.filter(col("df") > 0)
        .write.mode("overwrite").parquet(dfDir(statePath, partName(next)))
      registry.join(present.select("doc_id").distinct(),
          Seq("doc_id"), "left_anti")
        .write.mode("overwrite").parquet(docsDir(statePath, partName(next)))
    }
    removed
  }

  /** Age-based retention for superseded delta parts — see
    * [[Ledger.vacuumState]]. */
  def vacuum(statePath: String, keepVersions: Int): Long =
    Ledger.vacuumState(statePath, keepVersions,
      m => m.keyParts.flatMap(p => Seq(s"df/$p", s"docs/$p")),
      Seq("df", "docs"))
}
