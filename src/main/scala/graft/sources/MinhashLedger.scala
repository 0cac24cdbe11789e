package graft.sources

import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent state for incremental batch-vs-corpus NEAR-dup detection
  * — [[DedupLedger]]'s exact-key discipline lifted to MinHash: the
  * corpus's k-component signatures (~500 B/doc, independent of text
  * size) are computed ONCE at init; each crawl increment then loads
  * signatures (never corpus TEXT), flags its near-duplicates via the
  * shared [[Dedup.nearDupFlags]] band-collision core, and appends its
  * own signatures. At 100 TB the signature ledger is |docs| × ~150
  * bytes — three orders of magnitude smaller than the corpus — and an
  * increment's cost is O(batch) + one collision-driven join.
  *
  * ALL batch signatures are absorbed (flagged or not): the q170
  * pair-existence contract compares each increment against everything
  * SEEN, not everything KEPT, which is what makes
  * increment-after-increment equal the one-shot replay (keep-first
  * near-dup semantics are not transitive; seen-set semantics are) —
  * proven in MinhashLedgerSpec. Callers drop flagged docs (or route
  * them to review) as policy.
  *
  * State layout and crash safety are the [[Ledger]] commit protocol:
  * `sigs/part_<v>/` append-only signature parts behind the shared
  * manifest listing committed parts; orphan parts from a crash before
  * the commit are ignored and reclaimed by the idempotent replay.
  */
object MinhashLedger {

  import Ledger.{Manifest, partName, writeManifest}

  private def sigsDir(statePath: String, part: String) =
    s"$statePath/sigs/$part"

  /** Build the signature ledger from the historical corpus — the one
    * full corpus-text scan this state ever requires. */
  def init(
      spark: SparkSession, statePath: String, corpus: DataFrame,
      k: Int = 16): Unit = {
    Ledger.requireFresh(statePath)
    Dedup.minhashSignatures(corpus, k)
      .write.mode("overwrite")
      .parquet(sigsDir(statePath, partName(1)))
    writeManifest(statePath, Manifest(1, Seq(partName(1))))
  }

  /** All committed signatures: the lazy union of the manifest's parts
    * — fingerprints, never text. With `asOfVersion`, the time-travel
    * read: the signature set exactly as committed then
    * ([[DedupLedger.keys]]'s as-of twin — "what did increment 7's
    * near-dup probe actually see?"). Superseded parts are deleted only
    * by an explicit [[vacuum]], so pre-purge versions stay readable;
    * versions older than the latest [[purge]] are refused (purge
    * truncates their snapshots — erased signatures must not resurface
    * via time travel). */
  def signatures(
      spark: SparkSession, statePath: String,
      asOfVersion: Long = -1L): DataFrame =
    sigsOf(spark, statePath, Ledger.at(statePath, asOfVersion))

  private def sigsOf(
      spark: SparkSession, statePath: String, m: Manifest): DataFrame =
    spark.read.parquet(m.keyParts.map(sigsDir(statePath, _)): _*)

  /** Flag `batch`'s near-duplicates against everything seen (ledger ∪
    * own batch), absorb the batch's signatures, and return the flag
    * frame — (doc_id, n_partners, first_partner, best_est), the q170
    * contract restricted to this increment. The corpus text is never
    * read; the increment's inputs are the batch and the signature
    * parts (asserted in MinhashLedgerSpec via inputFiles). */
  def absorb(
      spark: SparkSession, statePath: String, batch: DataFrame,
      k: Int = 16, bands: Int = 4,
      minEstJaccard: Double = 0.5): DataFrame = {
    val m = Ledger.current(statePath)
    val (flags, next) =
      deriveFlags(spark, statePath, m, batch, k, bands, minEstJaccard)
    writeManifest(statePath,
      Manifest(next, m.keyParts :+ partName(next)))
    flags
  }

  /** Shared derivation step of [[absorb]] and [[absorbSink]]: write
    * the batch's signature part for version m.version+1 and build the
    * (lazy) flag frame against ledger ∪ batch. The caller commits the
    * manifest. Batch signatures land on disk FIRST (they are both the
    * state advance and the flag input — reading them back keeps the
    * flag computation on the exact persisted bytes); both frames are
    * pinned to explicit part PATHS, so consuming the flags after the
    * manifest advances — or after a compact, whose superseded parts
    * become orphans but are never deleted — still reads exactly this
    * increment's state, and lineage survives for the no-corpus-scan
    * inputFiles assertion. */
  private def deriveFlags(
      spark: SparkSession, statePath: String, m: Manifest,
      batch: DataFrame, k: Int, bands: Int,
      minEstJaccard: Double): (DataFrame, Long) = {
    val next = m.version + 1
    Dedup.minhashSignatures(batch, k)
      .write.mode("overwrite")
      .parquet(sigsDir(statePath, partName(next)))
    val batchSig = spark.read.parquet(sigsDir(statePath, partName(next)))
    val ledgerSig = sigsOf(spark, statePath, m)
    val flags = Dedup.nearDupFlags(
      batchSig, ledgerSig.unionByName(batchSig), k, bands,
      minEstJaccard)
    (flags, next)
  }

  /** Streaming ingest — [[DedupLedger.absorbSink]]'s discipline for
    * the signature ledger: a `foreachBatch` function that flags each
    * micro-batch's near-duplicates against everything seen, writes the
    * flag frame under `outDir/batch_<id>`, and absorbs the batch's
    * signatures — EXACTLY-ONCE despite foreachBatch's at-least-once
    * replay ([[Ledger.admit]]). The signature part and the flag output
    * land first, the batchId-marked manifest last; a replay of a
    * committed batch no-ops instead of re-absorbing against the
    * advanced ledger (which would flag the whole batch as
    * duplicate-of-itself and clobber the real flag output). Usage:
    * `docs.writeStream.foreachBatch(
    *   MinhashLedger.absorbSink(spark, state, out)).start()`. */
  def absorbSink(
      spark: SparkSession, statePath: String, outDir: String,
      k: Int = 16, bands: Int = 4,
      minEstJaccard: Double = 0.5): (DataFrame, Long) => Unit =
    (batch, batchId) =>
      Ledger.admit(statePath, batchId).foreach { m =>
        val (flags, next) =
          deriveFlags(spark, statePath, m, batch, k, bands, minEstJaccard)
        flags.write.mode("overwrite").parquet(s"$outDir/batch_$batchId")
        writeManifest(statePath,
          Manifest(next, m.keyParts :+ partName(next), Some(batchId)))
      }

  /** Compact signature parts into one (the [[DedupLedger.compact]]
    * rationale, the [[Ledger.maintain]] commit). */
  def compact(spark: SparkSession, statePath: String): Boolean = {
    val m = Ledger.current(statePath)
    if (m.keyParts.lengthCompare(1) <= 0) false
    else {
      Ledger.maintain(statePath, m, erase = false) { next =>
        sigsOf(spark, statePath, m)
          .write.mode("overwrite")
          .parquet(sigsDir(statePath, partName(next)))
      }
      true
    }
  }

  /** Erasure for derived near-dup state (the [[DedupLedger.purge]]
    * counterpart): remove the given doc_ids' signatures so a future
    * occurrence of the purged text is new again. Rewrites the
    * retained set as one part (the compact shape); manifest rename is
    * the commit. Returns the number of signatures removed. */
  def purge(
      spark: SparkSession, statePath: String,
      docIds: DataFrame): Long = {
    val m = Ledger.current(statePath)
    val doomed = docIds
      .select(col(docIds.columns.head).as("doc_id")).distinct()
    val current = sigsOf(spark, statePath, m)
    val retained = current
      .join(broadcast(doomed), Seq("doc_id"), "left_anti")
    val removed = current.count() - retained.count()
    if (removed == 0L) return 0L
    // close the time-travel door on the purged signatures (the
    // DedupLedger.purge discipline)
    Ledger.maintain(statePath, m, erase = true) { next =>
      retained.write.mode("overwrite")
        .parquet(sigsDir(statePath, partName(next)))
    }
    removed
  }

  /** Age-based retention for the signature parts — see
    * [[Ledger.vacuumState]] for the contract and crash-safety
    * argument. */
  def vacuum(statePath: String, keepVersions: Int): Long =
    Ledger.vacuumState(statePath, keepVersions,
      m => m.keyParts.map("sigs/" + _), Seq("sigs"))
}
