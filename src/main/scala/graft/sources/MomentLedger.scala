package graft.sources

import graft.functions.MomentMatrixAggregator
import graft.operators.Pca
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType,
  LongType, StructField, StructType}

/** Stream-maintained PCA/covariance state — the fourth production
  * ledger, completing the family (exact keys, minhash signatures,
  * KLL sketch table, and now second moments): as embedding vectors
  * stream in, the d-dim running moment state (n, Σx, Σx², Σx_i·x_j)
  * stays current, and a FULL-HISTORY PCA model — the preprocessing
  * rotation every ANN index build needs (q171's PCAR step, whitening,
  * q148's correlation diagnostic) — reads off in milliseconds without
  * EVER rescanning a vector.
  *
  * Why this is the 100 TB shape: the moment sums are ASSOCIATIVE,
  * COMMUTATIVE state (elementwise double addition), so per-batch
  * moments fold into the running state exactly — unlike a trained
  * model, the STATE loses nothing and defers the eigensolve to read
  * time. State size is d + d(d+1)/2 doubles (~17 KB at d = 64, ~2 MB
  * at d = 512) regardless of corpus size; each micro-batch costs one
  * [[MomentMatrixAggregator]] pass over the batch plus a driver-side
  * kilobyte addition. The q148/q171 alternative recomputes the
  * moment pass over the whole corpus per refresh.
  *
  * Exactly-once and versioning are the [[Ledger]] commit protocol,
  * shaped like [[SketchLedger]] (every version is the full one-row
  * state; manifest commit with the batchId recorded; as-of reads off
  * manifest snapshots).
  * Float caveat, stated precisely: the accumulated sums are exact
  * associative math over doubles, so ledger state differs from a
  * one-shot corpus aggregate only by float ADDITION ORDER (the same
  * caveat partition merge order already imposes on the one-shot
  * path) — MomentLedgerSpec pins equality at 1e-9 relative and n
  * exactly.
  */
object MomentLedger {

  import Ledger.{Manifest, partName, writeManifest}

  private def tableDir(statePath: String, part: String) =
    s"$statePath/table/$part"

  private val pairType = StructType(Seq(
    StructField("i", IntegerType, false),
    StructField("j", IntegerType, false),
    StructField("sxy", DoubleType, false)))
  private val schema = StructType(Seq(
    StructField("n", LongType, false),
    StructField("sums", ArrayType(DoubleType), false),
    StructField("diag", ArrayType(DoubleType), false),
    StructField("pairs", ArrayType(pairType), false)))

  /** The running state, driver-side (kilobytes). */
  final case class Moments(n: Long, sums: Array[Double],
      diag: Array[Double], pairs: Array[(Int, Int, Double)])

  /** Start from the empty state (version 1): n = 0, arrays allocate
    * from the first absorbed batch (dimension-agnostic, like the
    * aggregator's buffer). */
  def init(spark: SparkSession, statePath: String): Unit = {
    Ledger.requireFresh(statePath)
    writeState(spark, statePath, partName(1),
      Moments(0L, Array.empty, Array.empty, Array.empty))
    writeManifest(statePath, Manifest(1, Seq(partName(1))))
  }

  private def writeState(
      spark: SparkSession, statePath: String, part: String,
      m: Moments): Unit =
    spark.createDataFrame(
      java.util.List.of(Row(m.n, m.sums.toSeq, m.diag.toSeq,
        m.pairs.toSeq.map(p => Row(p._1, p._2, p._3)))),
      schema)
      .write.mode("overwrite").parquet(tableDir(statePath, part))

  private def readState(
      spark: SparkSession, statePath: String, part: String): Moments = {
    val r = spark.read.schema(schema)
      .parquet(tableDir(statePath, part)).head()
    Moments(r.getLong(0), r.getSeq[Double](1).toArray,
      r.getSeq[Double](2).toArray,
      r.getSeq[Row](3).map(p =>
        (p.getInt(0), p.getInt(1), p.getDouble(2))).toArray)
  }

  /** The committed running moments (current version). With
    * `asOfVersion`, the time-travel read: the moment state exactly as
    * committed then — "what did the rotation look like before
    * yesterday's crawl?" (same snapshot semantics as the other
    * ledgers; every version is a full state, deleted only by an
    * explicit [[vacuum]]). */
  def moments(
      spark: SparkSession, statePath: String,
      asOfVersion: Long = -1L): Moments =
    readState(spark, statePath,
      Ledger.at(statePath, asOfVersion).keyParts.last)

  private def batchMoments(
      batch: DataFrame, vecCol: String): Moments = {
    val agg = udaf(new MomentMatrixAggregator,
      ExpressionEncoder[Seq[Float]]())
    val r = batch.agg(agg(col(vecCol)).as("m"))
      .select(col("m.n"), col("m.sums"), col("m.diag"), col("m.pairs"))
      .head()
    Moments(r.getLong(0), r.getSeq[Double](1).toArray,
      r.getSeq[Double](2).toArray,
      r.getSeq[Row](3).map(p =>
        (p.getInt(0), p.getInt(1), p.getDouble(2))).toArray)
  }

  /** Elementwise fold — the associative state merge, in a FIXED
    * order (current + batch) so replays are bit-identical. */
  private def add(a: Moments, b: Moments): Moments = {
    if (a.n == 0L) return b
    if (b.n == 0L) return a
    require(a.sums.length == b.sums.length,
      s"dimension drift: ledger d=${a.sums.length}, " +
        s"batch d=${b.sums.length}")
    Moments(a.n + b.n,
      a.sums.zip(b.sums).map { case (x, y) => x + y },
      a.diag.zip(b.diag).map { case (x, y) => x + y },
      a.pairs.zip(b.pairs).map { case ((i, j, x), (i2, j2, y)) =>
        require(i == i2 && j == j2); (i, j, x + y)
      })
  }

  /** Batch absorb: fold the batch's moments into the state, commit a
    * new version. Returns the new running state. */
  def absorb(
      spark: SparkSession, statePath: String, batch: DataFrame,
      vecCol: String = "embedding"): Moments =
    fold(spark, statePath, Ledger.current(statePath), batch, vecCol, None)

  /** The state advance of [[absorb]] and [[absorbSink]]: fold the
    * batch into the state of `m`, write it as the next version, commit
    * with `batchId` as the marker. */
  private def fold(
      spark: SparkSession, statePath: String, m: Manifest,
      batch: DataFrame, vecCol: String, batchId: Option[Long]): Moments = {
    val next = m.version + 1
    val merged = add(readState(spark, statePath, m.keyParts.last),
      batchMoments(batch, vecCol))
    writeState(spark, statePath, partName(next), merged)
    writeManifest(statePath, Manifest(next, Seq(partName(next)), batchId))
    merged
  }

  /** foreachBatch ingest with the [[Ledger.admit]] exactly-once
    * discipline: uncommitted replays re-derive from the
    * unchanged prior version (bit-identical — the fold order is
    * fixed), committed replays no-op, checkpoint/state drift fails
    * loudly. Usage: `vectors.writeStream.foreachBatch(
    * MomentLedger.absorbSink(spark, state)).start()`. */
  def absorbSink(
      spark: SparkSession, statePath: String,
      vecCol: String = "embedding"): (DataFrame, Long) => Unit =
    (batch, batchId) =>
      Ledger.admit(statePath, batchId).foreach { m =>
        fold(spark, statePath, m, batch, vecCol, Some(batchId))
      }

  /** Full-history PCA model off the current (or as-of) state — the
    * read that never rescans a vector. Same deterministic eigensolve
    * as [[Pca.fit]]. */
  def model(
      spark: SparkSession, statePath: String, k: Int,
      asOfVersion: Long = -1L): Pca.Model = {
    val s = moments(spark, statePath, asOfVersion)
    Pca.modelFromMoments(s.n, s.sums, s.diag, s.pairs.toSeq, k)
  }

  /** ml_pca_stream — the declared rows-only artifact: an empty
    * ledger absorbs the embeddings in two id-split batches, then the
    * per-component eigenvalues/EVR read off ledger state (no vector
    * rescan). Iterative eigensolve over float sums → rows-only by
    * the ml_ convention; MomentLedgerSpec pins state equality with
    * the one-shot aggregate and model agreement with Pca.fit. */
  def mlPcaStream(embeddings: DataFrame, k: Int = 8): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val state = java.nio.file.Files
      .createTempDirectory("graft_momentledger_").toString
    init(spark, state)
    val cut = embeddings.agg(
      percentile_approx(col("vec_id"), lit(0.5), lit(10000)))
      .head().getLong(0)
    absorb(spark, state, embeddings.filter(col("vec_id") <= cut))
    absorb(spark, state, embeddings.filter(col("vec_id") > cut))
    val m = model(spark, state, k)
    val evr = m.explainedVariance
    (0 until m.k).map(j =>
      (j.toLong, math.rint(m.eigenvalues(j) * 1e4) / 1e4,
        math.rint(evr(j) * 1e4) / 1e4, m.n))
      .toDF("component", "eigenvalue", "evr", "n_vectors")
      .orderBy("component")
  }

  /** Erasure for the aggregate moment state: subtract the given
    * vectors' contribution (one [[MomentMatrixAggregator]] pass over
    * the purge set, then the associative fold with negated signs).
    * `n` is exactly restored; the double sums are exact up to float
    * CANCELLATION — the same addition-order caveat [[absorb]] already
    * carries (MomentLedgerSpec pins the 1e-9 relative bound).
    *
    * HARD CONTRACT (the [[NgramLedger.purge]] text-identity analog):
    * the rows must carry the vectors EXACTLY as absorbed — the ledger
    * keeps no per-vector state to check against, so a drifted vector
    * silently skews the moments. Dimension drift and n-underflow fail
    * loudly. As-of reads older than the purge are refused (snapshot
    * truncation). Returns the number of vectors subtracted. */
  def purge(
      spark: SparkSession, statePath: String, vectors: DataFrame,
      vecCol: String = "embedding"): Long = {
    val m = Ledger.current(statePath)
    val cur = readState(spark, statePath, m.keyParts.last)
    val b = batchMoments(vectors, vecCol)
    if (b.n == 0L) return 0L
    require(b.n <= cur.n,
      s"purge of ${b.n} vectors exceeds ledger n=${cur.n} at $statePath")
    require(cur.sums.length == b.sums.length,
      s"dimension drift: ledger d=${cur.sums.length}, " +
        s"purge d=${b.sums.length}")
    val merged = Moments(cur.n - b.n,
      cur.sums.zip(b.sums).map { case (x, y) => x - y },
      cur.diag.zip(b.diag).map { case (x, y) => x - y },
      cur.pairs.zip(b.pairs).map { case ((i, j, x), (i2, j2, y)) =>
        require(i == i2 && j == j2); (i, j, x - y)
      })
    Ledger.maintain(statePath, m, erase = true) { next =>
      writeState(spark, statePath, partName(next), merged)
    }
    b.n
  }

  /** Age-based retention for the per-version moment tables — see
    * [[Ledger.vacuumState]]. */
  def vacuum(statePath: String, keepVersions: Int): Long =
    Ledger.vacuumState(statePath, keepVersions,
      m => m.keyParts.map("table/" + _), Seq("table"))
}
