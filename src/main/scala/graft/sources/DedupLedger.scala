package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}

/** Persistent state for incremental batch-vs-corpus dedup — the
  * production form [[graft.operators.Dedup.incrementalDedup]]'s own
  * scaladoc promises: the corpus key-ledger and its Bloom filter are
  * built ONCE, then each crawl increment loads them, dedups against
  * them, and absorbs its new keys — the corpus text is never rescanned
  * and the ledger grows by O(|new keys|) per increment, not O(corpus).
  *
  * State layout under `statePath` (all parquet — works on any Hadoop
  * filesystem, not just local disk):
  * {{{
  *   keys/part_<version>/   append-only: one dir of NEW distinct keys
  *                          per absorbed increment (never rewritten)
  *   bloom/v_<version>/     one-row parquet: the MERGED Bloom payload
  *                          (GBF1 header + bit words) covering every
  *                          key part up to <version>
  *   CURRENT                the [[Ledger]] manifest: version + the
  *                          committed key part list, committed AFTER the
  *                          new part and bloom land
  * }}}
  *
  * Crash safety is the [[Ledger]] commit protocol: data first, manifest
  * last, so re-running the same `absorb` after a crash is idempotent.
  *
  * Scale posture at 100 TB: an increment touches (a) the batch itself,
  * (b) the ~128 KB bloom payload (one-row parquet, broadcast as a
  * one-row frame), (c) the key parts — 16-byte md5 keys, |corpus docs| rows
  * ≪ corpus bytes — and (c) only on the build side of the left-anti
  * confirm join that bloom-POSITIVE rows enter; the bloom-negative
  * bulk of a typical increment never shuffles at all. Bloom merge is
  * a word-wise OR of two payloads (commutative, order-free), done on
  * ≤128 KB arrays — driver-side but constant-size.
  */
object DedupLedger {

  import Ledger.{Manifest, partName}

  /** Same key as q153's stateless contract: md5 of the first
    * `prefixTokens` tokens (the q17b boilerplate-prefix fingerprint). */
  def keyOf(text: Column, prefixTokens: Int): Column =
    md5(concat_ws(" ", slice(split(text, " "), 1, prefixTokens)))

  private def keysDir(statePath: String, part: String) =
    s"$statePath/keys/$part"
  private def bloomDir(statePath: String, version: Long) =
    s"$statePath/bloom/v_$version"

  private val payloadSchema =
    StructType(Seq(StructField("payload", ArrayType(LongType), false)))

  /** A Bloom payload as a one-row frame (payload): what a plan probes
    * or merges through a broadcast, not an array literal that would
    * ride every task's closure and print in full in every plan. */
  private def bloomFrame(spark: SparkSession, payload: Array[Long]): DataFrame =
    spark.createDataFrame(java.util.List.of(Row(payload.toSeq)), payloadSchema)

  private def writeBloom(
      spark: SparkSession, statePath: String, version: Long,
      payload: Array[Long]): Unit =
    bloomFrame(spark, payload)
      .write.mode("overwrite").parquet(bloomDir(statePath, version))

  private def readBloom(
      spark: SparkSession, statePath: String,
      version: Long): Array[Long] =
    spark.read.parquet(bloomDir(statePath, version))
      .head().getSeq[Long](0).toArray

  /** Build the ledger from the historical corpus — the ONE full corpus
    * scan this state ever requires. Refuses to overwrite existing
    * state. */
  def init(
      spark: SparkSession, statePath: String, corpus: DataFrame,
      prefixTokens: Int = 5, mBits: Int = 1 << 20,
      numHashes: Int = 7): Unit = {
    import graft.functions.BloomFunctions._
    Ledger.requireFresh(statePath)
    val keys = corpus.select(keyOf(col("text"), prefixTokens).as("__k"))
      .distinct()
    keys.write.mode("overwrite").parquet(keysDir(statePath, partName(1)))
    // the bloom bits aggregate over the COMMITTED part's bytes (read
    // back above the write) and land in ONE engine job — same shape
    // as commitState's merged write (round-16, guide §5: the old form
    // collected the aggregate to the driver and launched a second job
    // to write the one-row result)
    spark.read.parquet(keysDir(statePath, partName(1)))
      .agg(bloom_agg(xxhash64(col("__k")), mBits, numHashes)
        .as("payload"))
      .write.mode("overwrite").parquet(bloomDir(statePath, 1))
    Ledger.writeManifest(statePath, Manifest(1, Seq(partName(1))))
  }

  /** All committed corpus keys, as the lazy union of the manifest's
    * parts — 16-byte fingerprints, never text. With `asOfVersion`, the
    * time-travel read: the key set exactly as committed then — the
    * audit/debug surface the versioned manifests pay for ("which keys
    * did increment 7 dedup against?"). Absorb and compact never delete
    * superseded parts, so every pre-purge version stays readable;
    * versions older than the latest purge are refused (see
    * [[Ledger.readManifestAt]]). */
  def keys(
      spark: SparkSession, statePath: String,
      asOfVersion: Long = -1L): DataFrame =
    keysOf(spark, statePath, Ledger.at(statePath, asOfVersion))

  private def keysOf(
      spark: SparkSession, statePath: String, m: Manifest): DataFrame =
    spark.read.parquet(m.keyParts.map(keysDir(statePath, _)): _*)

  /** Dedup `batch` against the ledger (and within itself), absorb its
    * new keys + bloom bits, and return the kept rows
    * (doc_id, lang, source — the q153 contract). State advances one
    * version per call; the corpus text is never read. */
  def absorb(
      spark: SparkSession, statePath: String, batch: DataFrame,
      prefixTokens: Int = 5): DataFrame = {
    val p = dedupBatch(
      spark, statePath, Ledger.current(statePath), batch, prefixTokens)
    commitState(spark, statePath, p, batchId = None)
    val out = p.kept.select("doc_id", "lang", "source").orderBy("doc_id")
    p.kept.unpersist()
    out
  }

  /** Derived-but-uncommitted increment: the kept rows (persisted, one
    * row per new key) + the manifest snapshot they were derived from,
    * plus the persisted bloom payload already read for the probe —
    * commit merges against the same version, so re-reading it there
    * was a pure extra driver round trip (round-16). */
  private final case class Pending(
      kept: DataFrame, m: Manifest, payload: Array[Long])

  private def dedupBatch(
      spark: SparkSession, statePath: String, m: Manifest,
      batch: DataFrame, prefixTokens: Int): Pending = {
    import graft.functions.BloomFunctions._
    val ledgerKeys = keysOf(spark, statePath, m)
    val payload = readBloom(spark, statePath, m.version)

    // same split and broadcast probe as Dedup.incrementalDedup, with
    // the PERSISTED bloom instead of a rebuilt aggregate: negatives are
    // definitely-new and skip the confirm join entirely
    val keyed = batch
      .withColumn("__k", keyOf(col("text"), prefixTokens))
      .crossJoin(broadcast(bloomFrame(spark, payload).toDF("__bloom")))
      .withColumn("__maybe",
        bloom_might_contain(xxhash64(col("__k")), col("__bloom")))
      .drop("__bloom")
    val sureNew = keyed.filter(!col("__maybe"))
    val confirmed = keyed.filter(col("__maybe"))
      .join(ledgerKeys, Seq("__k"), "left_anti")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__k").orderBy("doc_id")
    val kept = sureNew.unionByName(confirmed)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("doc_id"), col("lang"), col("source"), col("__k"))
      .persist()
    Pending(kept, m, payload)
  }

  /** State advance: new part + merged bloom, then the manifest — the
    * rename is the commit. */
  private def commitState(
      spark: SparkSession, statePath: String, p: Pending,
      batchId: Option[Long],
      overlapWith: Seq[() => Unit] = Seq.empty): Unit = {
    import graft.functions.BloomFunctions._
    val payload = p.payload // read from bloom/v_<version> in dedupBatch
    val next = p.m.version + 1
    // mode=overwrite: a crash AFTER these writes but BEFORE the
    // manifest rename leaves orphan part/bloom dirs for this version;
    // the replay of the same increment (manifest never advanced, so it
    // re-derives the identical state) must be able to reclaim them.
    // Single-writer discipline is assumed, as with any ledger.
    // `overlapWith` carries independent idempotent writes of the SAME
    // pending increment (absorbSink's per-batch output dir) to run
    // concurrently with the keys write (guide §2.6) — both consume the
    // persisted kept frame, and the manifest rename below stays the
    // one commit point, strictly after every overlapped job.
    graft.Overlap.all((() => {
      p.kept.select("__k")                // kept is 1 row per key
        .write.mode("overwrite")
        .parquet(keysDir(statePath, partName(next)))
      ()
    }) +: overlapWith: _*)
    // batch bloom sized/hashed from the PERSISTED payload's own header
    // (numHashes) and word count (mBits) — merge requires identical
    // geometry, so it is read, not re-specified. The batch bits still
    // aggregate over the COMMITTED part's bytes (read back above the
    // write), but the aggregate, the word-wise OR with the prior
    // payload, and the bloom write are ONE engine job now (round-16,
    // guide §5 driver round trips) — the old shape collected the
    // aggregate to the driver, merged there, and launched a second
    // job to write the one-row result. Word 0 is the header,
    // identical on both sides, so the OR fold covers it too
    // (asserted bitwise against a driver-side reference merge in
    // DedupLedgerSpec).
    val numHashes = (payload(0) & 0x7fffffffL).toInt
    val mBits = (payload.length - 1) * 64
    spark.read
      .parquet(keysDir(statePath, partName(next)))
      .agg(bloom_agg(xxhash64(col("__k")), mBits, numHashes).as("p"))
      .crossJoin(broadcast(bloomFrame(spark, payload)))
      .select(zip_with(
        col("payload"), col("p"), (a, b) => a.bitwiseOR(b)).as("payload"))
      .write.mode("overwrite").parquet(bloomDir(statePath, next))
    Ledger.writeManifest(statePath,
      Manifest(next, p.m.keyParts :+ partName(next), batchId))
  }

  /** Streaming ingest: a `foreachBatch` function that dedups each
    * micro-batch against the ledger and appends the kept rows under
    * `outDir/batch_<id>` — the production crawl-stream shape, with
    * EXACTLY-ONCE output despite foreachBatch's at-least-once replay
    * ([[Ledger.admit]]: output first, batchId-marked commit last, a
    * committed replay no-ops, checkpoint/state drift fails loudly).
    * Usage: `docs.writeStream.foreachBatch(
    *   DedupLedger.absorbSink(spark, state, out)).start()`. */
  def absorbSink(
      spark: SparkSession, statePath: String, outDir: String,
      prefixTokens: Int = 5): (DataFrame, Long) => Unit =
    (batch, batchId) =>
      Ledger.admit(statePath, batchId).foreach { m =>
        val p = dedupBatch(spark, statePath, m, batch, prefixTokens)
        // the per-batch output and the keys part are independent
        // projections of the same persisted kept frame, both
        // idempotent overwrites ahead of the manifest rename — they
        // run as one overlapped pair inside commitState (§2.6); the
        // "output lands before the commit" contract is preserved
        // because the rename still happens last
        commitState(spark, statePath, p, Some(batchId),
          overlapWith = Seq(() => {
            p.kept.select("doc_id", "lang", "source")
              .write.mode("overwrite")
              .parquet(s"$outDir/batch_$batchId")
            ()
          }))
        p.kept.unpersist()
      }

  /** Right-to-erasure for the DERIVED state (the [[graft.sources
    * .Writers.purgeKeys]] counterpart — deleting a document from the
    * corpus is not enough if its fingerprint lives on in dedup
    * state): drop the given key fingerprints from the ledger and
    * REBUILD the bloom from the survivors — a bloom cannot unlearn a
    * bit, so rebuild is the only sound delete, and the retained-key
    * part being rewritten anyway (the compact shape) makes it one
    * extra aggregate, not an extra pass. Geometry (k, m) is read from
    * the persisted GBF1 header, never re-specified. Commits one new
    * manifest version; crash-safe for the same reason absorb is (the
    * manifest is the commit point). Returns the number of key
    * fingerprints removed.
    *
    * Semantics after purge: a FUTURE occurrence of a purged text is
    * new again and will be kept — exactly what erasure means for a
    * dedup ledger. */
  def purge(
      spark: SparkSession, statePath: String,
      purgeKeys: DataFrame): Long = {
    import graft.functions.BloomFunctions._
    import org.apache.spark.sql.functions.{broadcast, xxhash64}
    val m = Ledger.current(statePath)
    val doomed = purgeKeys
      .select(col(purgeKeys.columns.head).as("__k")).distinct()
    val current = keysOf(spark, statePath, m)
    val retained = current.join(broadcast(doomed), Seq("__k"), "left_anti")
    val removed = current.count() - retained.count()
    if (removed == 0L) return 0L
    // erasure closes the time-travel door: as-of reads before this
    // purge would resurface the doomed fingerprints
    Ledger.maintain(statePath, m, erase = true) { next =>
      retained.write.mode("overwrite")
        .parquet(keysDir(statePath, partName(next)))
      val persisted = spark.read.parquet(keysDir(statePath, partName(next)))
      // geometry from the live header (the absorb discipline)
      val payload = readBloom(spark, statePath, m.version)
      val numHashes = (payload(0) & 0x7fffffffL).toInt
      val mBits = (payload.length - 1) * 64
      val rebuilt = persisted
        .agg(bloom_agg(xxhash64(col("__k")), mBits, numHashes).as("p"))
        .head().getSeq[Long](0).toArray
      writeBloom(spark, statePath, next, rebuilt)
    }
    removed
  }

  /** Age-based retention for this ledger's keys + per-version bloom
    * payloads. See [[Ledger.vacuumState]]. */
  def vacuum(statePath: String, keepVersions: Int): Long =
    Ledger.vacuumState(statePath, keepVersions,
      m => m.keyParts.map("keys/" + _) :+ s"bloom/v_${m.version}",
      Seq("keys", "bloom"))

  /** Compact the key parts into one. Every absorb adds a part dir;
    * after many increments the confirm join pays |parts| file listings
    * and small-file overhead, so periodic compaction is the standard
    * append-only-ledger maintenance step. Rewrites the (already
    * distinct-by-construction) key union as a single part and commits
    * a one-part manifest ([[Ledger.maintain]]) re-pointing at the
    * UNCHANGED bloom bits — the filter already covers every key, and
    * bloom bits only ever accumulate. Crash-safe like absorb: data
    * first, manifest rename last; the superseded parts become
    * unreferenced orphans. Returns true if compaction ran (no-op on a
    * single-part ledger). */
  def compact(spark: SparkSession, statePath: String): Boolean = {
    val m = Ledger.current(statePath)
    if (m.keyParts.lengthCompare(1) <= 0) false
    else {
      Ledger.maintain(statePath, m, erase = false) { next =>
        keysOf(spark, statePath, m)
          .write.mode("overwrite")
          .parquet(keysDir(statePath, partName(next)))
        writeBloom(spark, statePath, next,
          readBloom(spark, statePath, m.version))
      }
      true
    }
  }
}
