package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Persistent incremental ANN index — the fifth ledger. The q166
  * composed path ([[graft.operators.Similarity.ivfSq8TopK]]) trains its
  * IVF centroids and encodes every vector's SQ8 codes on each call; at
  * production cadence a crawl increment would re-pay the full index
  * build while every other derived state here (keys, signatures,
  * sketches, moments) already has a ledger. This one persists the
  * q166 layout:
  *
  *  - `centroids/v_<N>/` — the IVF coarse quantizer: `nlist` rows of
  *    (cell, cv, c2), kilobytes, written by [[init]] and [[refresh]]
  *    only;
  *  - `codes/part_<N>/`  — append-only per-vector state: (vec_id,
  *    cell, qc, d2) with qc the SQ8 int8 codes stored as
  *    `array<tinyint>` (~d bytes per vector + 12 — the FAISS
  *    IVF+SQ8 budget; the float corpus is ~4d);
  *  - `manifests/v_*` + `CURRENT` — the [[Ledger]] manifest format and
  *    commit protocol (data first, manifest rename last; orphans from
  *    crashes are ignored and reclaimed by the idempotent replay).
  *    Extra marker lines carry the centroid version in force (`cv=N`)
  *    and the init-time distortion baseline (`dist=x`).
  *
  * Contracts:
  *  - [[absorb]] assigns + codes ONLY the batch's new vectors against
  *    the COMMITTED centroids — the corpus embeddings are never
  *    rescanned (IndexLedgerSpec asserts it from `inputFiles`), and
  *    because assignment and coding are per-vector functions of
  *    (vector, committed centroids), any increment composition commits
  *    the same state: two absorbs == one absorb of the union, so
  *    [[topK]] shortlists are identical at any oversample.
  *  - [[topK]] serves from committed state only: collect the
  *    kilobyte centroid frame into a literal, probe each query's
  *    `nprobe` best cells with the shared IVF probe
  *    ([[graft.operators.Similarity.ivfProbe]], inside the query scan,
  *    no exchange), score the stored int8 codes in place (`vec_dot`
  *    reads them as exact-integer doubles — the q162 discipline),
  *    keep each query's k·oversample best with the engine's
  *    bounded-heap [[graft.plans.TopKPerKey]] (partial heap → one qid
  *    exchange → final heap; the candidates are never sorted), rank
  *    those survivors, then take the final k. Both frames are read
  *    with the schema the ledger wrote and from ONE resolved
  *    manifest, so a concurrent commit can never pair new codes with
  *    old centroids. The corpus is not touched; scores are quantized
  *    cosines (exact rescore remains a caller-side join of the
  *    k·oversample shortlist against the float vectors, as in q166
  *    stage 2).
  *  - [[refresh]] re-fits the coarse quantizer FROM COMMITTED CODES
  *    (unit-decoded directions — SQ8 preserves direction to ~1/127)
  *    when [[driftRatio]] says the centroids no longer fit the data;
  *    still no corpus rescan. Reassigns all vectors, writes one
  *    compacted part + new centroids, commits one version.
  *  - [[absorbSink]] gives streaming parity with the [[Ledger.admit]]
  *    exactly-once batchId discipline; [[codes]]/
  *    [[centroids]] take an as-of version for time travel; [[compact]]
  *    folds parts; [[vacuum]] (ledger-wide, see Vacuum) reclaims
  *    superseded state beyond a version horizon.
  *
  * 100 TB posture: per-increment work is O(|batch| · nlist) assign +
  * O(|batch| · d) code — a map over the batch against a kilobyte
  * centroid literal, behind one exchange of the batch by id (one row
  * per id); queries touch `nprobe/nlist` of the code
  * rows via the cell equi-join, and each task keeps at most k·oversample
  * candidates per query (the heap bound), so candidates are never
  * shuffled or sorted in full; the k·|query batch| result is ordered
  * inside one partition (a serving batch is bounded by the caller);
  * nothing driver-side exceeds the `nlist`-row centroid collect.
  *
  * The SQ8 encode-and-cut, the query encode, the IVF probe and the
  * quantized score are the retrieval core of
  * [[graft.operators.Similarity]], shared with q162 and q166. */
object IndexLedger {

  import graft.operators.Similarity.{asDouble, ivfAssign, ivfCentroids, ivfProbe, sq8Cosine, sq8Encode, sq8Quantizable}
  import graft.functions.VectorFunctions.vec_dot
  import graft.plans.TopKPerKey
  import Ledger.{Manifest, partName}

  /** The schemas of the two frames the ledger writes, declared on every
    * read so that no read infers a footer (IndexLedgerSpec checks them
    * against the written footers). */
  private val CentroidSchema =
    StructType.fromDDL("cell INT, cv ARRAY<DOUBLE>, c2 DOUBLE")
  private val CodeSchema = StructType.fromDDL(
    "vec_id BIGINT, cell INT, qc ARRAY<TINYINT>, d2 DOUBLE")

  private def centroidsDir(statePath: String, version: Long) =
    f"$statePath/centroids/v_$version%08d"
  private def codesDir(statePath: String, part: String) =
    s"$statePath/codes/$part"

  private final case class IxManifest(
      version: Long, codeParts: Seq[String], centroidVersion: Long,
      baseDistortion: Double, lastBatchId: Option[Long])

  private def parse(m: Manifest): IxManifest = {
    val parts = m.keyParts.filter(_.startsWith("part_"))
    val cv = m.keyParts.find(_.startsWith("cv="))
      .map(_.stripPrefix("cv=").toLong)
      .getOrElse(throw new IllegalStateException(
        "index manifest missing centroid pointer"))
    val dist = m.keyParts.find(_.startsWith("dist="))
      .map(_.stripPrefix("dist=").toDouble).getOrElse(0.0)
    IxManifest(m.version, parts, cv, dist, m.lastBatchId)
  }

  private def manifestOf(ix: IxManifest): Manifest =
    Manifest(ix.version,
      ix.codeParts ++ Seq(s"cv=${ix.centroidVersion}",
        s"dist=${ix.baseDistortion}"),
      ix.lastBatchId)

  /** The manifest in force: CURRENT for a negative version (the
    * default), else the as-of one. */
  private def ixAt(statePath: String, asOfVersion: Long = -1L): IxManifest =
    parse(Ledger.at(statePath, asOfVersion))

  /** The centroid frame of one resolved manifest. */
  private def readCentroids(
      spark: SparkSession, statePath: String, ix: IxManifest): DataFrame =
    spark.read.schema(CentroidSchema)
      .parquet(centroidsDir(statePath, ix.centroidVersion))

  /** The code frame of one resolved manifest. */
  private def readCodes(
      spark: SparkSession, statePath: String, ix: IxManifest): DataFrame =
    spark.read.schema(CodeSchema)
      .parquet(ix.codeParts.map(codesDir(statePath, _)): _*)

  /** Committed centroid frame (cell, cv, c2) — CURRENT or as-of. */
  def centroids(
      spark: SparkSession, statePath: String,
      asOfVersion: Long = -1L): DataFrame =
    readCentroids(spark, statePath, ixAt(statePath, asOfVersion))

  /** Committed per-vector state (vec_id, cell, qc, d2) — CURRENT or
    * as-of. qc reads back as array<tinyint>; [[topK]] dots it in place
    * (`vec_dot` reads int8 codes as exact-integer doubles). */
  def codes(
      spark: SparkSession, statePath: String,
      asOfVersion: Long = -1L): DataFrame =
    readCodes(spark, statePath, ixAt(statePath, asOfVersion))

  /** (__aid, __v, ...) → + (cell, cv): nearest committed centroid —
    * the shared [[graft.operators.Similarity.ivfAssign]] argmin — for
    * ONE row per `__aid`: a repeated id keeps its least (__v, ...) row,
    * so a write commits one code row per id and [[topK]] serves
    * distinct (qid, cid) without a distinct. That cut is the one
    * exchange of a build or an increment: an id's rows can sit in any
    * partition. */
  private def assign(vs: DataFrame, cent: DataFrame): DataFrame = {
    val rest = vs.columns.filter(_ != "__aid").toSeq
    val onePerId = vs.groupBy("__aid")
      .agg(min(struct(rest.map(col): _*)).as("__r"))
      .select(col("__aid") +: rest.map(c => col(s"__r.$c")): _*)
    ivfAssign(onePerId, cent, "__v")
  }

  /** Mean angular distortion 1 − cos(v, centroid(v)) over an assigned
    * frame — the drift statistic. */
  private val meanDistortion =
    avg(lit(1.0) - vec_dot(col("__v"), col("cv")) /
      (sqrt(vec_dot(col("__v"), col("__v"))) *
        sqrt(vec_dot(col("cv"), col("cv")))))

  private def distortionOf(assigned: DataFrame): Double =
    assigned.agg(meanDistortion).head().getDouble(0)

  /** [[meanDistortion]] attached as an observed metric, so the
    * baseline falls out of the frame's ONE write job (init/refresh)
    * instead of a second aggregate pass. Returns the frame to write
    * and the pending observation. */
  private def observedDistortion(
      assigned: DataFrame): (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation()
    (assigned.observe(obs, meanDistortion.as("base")), obs)
  }

  /** An embeddings frame as (__aid, __v, qc, d2): float vector, SQ8
    * codes and their squared norm, for the quantizable vectors only —
    * the shared encode-and-cut ([[graft.operators.Similarity
    * .sq8Quantizable]]), one encode per vector. */
  private def quantizable(batch: DataFrame): DataFrame =
    sq8Quantizable(batch.select(col("vec_id").as("__aid"),
      asDouble(col("embedding")).as("__v")), "__v")

  private def writeCodes(
      spark: SparkSession, statePath: String, part: String,
      assigned: DataFrame): Unit =
    assigned.select(col("__aid").cast("long").as("vec_id"), col("cell"),
        col("qc").cast("array<tinyint>").as("qc"), col("d2"))
      .write.mode("overwrite").parquet(codesDir(statePath, part))

  /** Build the index from the seed corpus — the ONE full embedding
    * scan this state requires (the coarse quantizer trains on a
    * deterministic sample, so the build is deterministic). Refuses to
    * overwrite existing state. */
  def init(
      spark: SparkSession, statePath: String, embeddings: DataFrame,
      nlist: Int = 16): Unit = {
    Ledger.requireFresh(statePath)
    build(spark, statePath, quantizable(embeddings), nlist,
      IxManifest(1L, Seq(partName(1L)), 1L, 0.0, None))
  }

  /** The build body of [[init]] and [[refresh]]: fit the coarse
    * quantizer on a sample of the quantizable `vecs` (__aid, __v,
    * qc, d2 > 0), write
    * the centroids, assign every vector against the PERSISTED
    * centroids (the same expression path [[absorb]] uses — init ==
    * absorb assignment parity is the composition contract), write the
    * one code part with the float-vector distortion baseline observed
    * during that write, then commit `ix` with that baseline. */
  private def build(
      spark: SparkSession, statePath: String, vecs: DataFrame, nlist: Int,
      ix: IxManifest): Unit = {
    ivfCentroids(vecs, "__aid", "__v", nlist)
      .write.mode("overwrite")
      .parquet(centroidsDir(statePath, ix.centroidVersion))
    val cent = readCentroids(spark, statePath, ix)
    val (assigned, baseObs) = observedDistortion(assign(vecs, cent))
    writeCodes(spark, statePath, ix.codeParts.head, assigned)
    val base = scala.concurrent.Await.result(baseObs.future,
      scala.concurrent.duration.Duration(300, "s")).getDouble(0)
    Ledger.writeManifest(statePath,
      manifestOf(ix.copy(baseDistortion = base)))
  }

  /** Derived-but-uncommitted increment state. */
  private final case class Pending(assigned: DataFrame, ix: IxManifest)

  private def deriveBatch(
      spark: SparkSession, statePath: String, ix: IxManifest,
      batch: DataFrame): Pending = {
    val cent = readCentroids(spark, statePath, ix)
    val known = readCodes(spark, statePath, ix)
      .select(col("vec_id").as("__aid"))
    val fresh = quantizable(batch).join(known, Seq("__aid"), "left_anti")
    Pending(assign(fresh, cent), ix)
  }

  /** Write the batch's code part and commit it; returns the part. */
  private def commitState(
      spark: SparkSession, statePath: String, p: Pending,
      batchId: Option[Long]): String = {
    val next = p.ix.version + 1
    writeCodes(spark, statePath, partName(next), p.assigned)
    Ledger.writeManifest(statePath, manifestOf(p.ix.copy(
      version = next,
      codeParts = p.ix.codeParts :+ partName(next),
      lastBatchId = batchId)))
    partName(next)
  }

  /** Index an increment: assign + SQ8-code the batch's NEW vectors
    * against committed centroids, append one code part, advance one
    * version. Returns the newly indexed (vec_id, cell), read back from
    * the committed part (not recomputed from the batch). The corpus is
    * never rescanned; a vec_id already committed is skipped (replay/
    * overlap safety). */
  def absorb(
      spark: SparkSession, statePath: String,
      batch: DataFrame): DataFrame = {
    val p = deriveBatch(spark, statePath, ixAt(statePath), batch)
    val part = commitState(spark, statePath, p, batchId = None)
    spark.read.schema(CodeSchema).parquet(codesDir(statePath, part))
      .select("vec_id", "cell").orderBy("vec_id")
  }

  /** Streaming ingest with the [[Ledger.admit]] exactly-once
    * discipline: per-batch output dir first (deterministic overwrite),
    * batchId-marked manifest commit last, replay of a committed batch
    * is a no-op, checkpoint/state drift fails loudly. */
  def absorbSink(
      spark: SparkSession, statePath: String,
      outDir: String): (DataFrame, Long) => Unit =
    (batch, batchId) =>
      Ledger.admit(statePath, batchId).foreach { m =>
        // two writes read the batch's state: derive it once
        val p = deriveBatch(spark, statePath, parse(m), batch)
        p.assigned.persist()
        p.assigned.select(col("__aid").as("vec_id"), col("cell"))
          .write.mode("overwrite").parquet(s"$outDir/batch_$batchId")
        commitState(spark, statePath, p, Some(batchId))
        p.assigned.unpersist()
      }

  /** The k·oversample stage-1 shortlist per query, from committed
    * state only: probe the `nprobe` best cells by centroid dot (the
    * q166 probe rule), score int8 codes, keep each query's best
    * k·oversample by bounded heap and rank them. Columns (qid, cid,
    * approx, ar). */
  def shortlist(
      spark: SparkSession, statePath: String, queries: DataFrame,
      k: Int = 5, nprobe: Int = 4, oversample: Int = 4,
      excludeSelf: Boolean = false,
      asOfVersion: Long = -1L): DataFrame = {
    val ix = ixAt(statePath, asOfVersion)
    val cent = readCentroids(spark, statePath, ix)
    val cs = readCodes(spark, statePath, ix)
    val q = sq8Encode(queries.select(col("vec_id").as("qid"),
      asDouble(col("embedding")).as("qv")), "qv", "q")
    // a zero query (qd2 = 0) probes no cell: the cut is the probe's
    // guard, inside its generator, so each query is encoded once
    val qCells = q.select(col("qid"), col("qqc"), col("qd2"),
      ivfProbe(col("qv"), cent, nprobe, live = col("qd2") > 0.0).as("cell"))
    val self = if (excludeSelf) col("vec_id") =!= col("qid") else lit(true)
    val cand = cs.join(broadcast(qCells), Seq("cell"))
      .filter(self)
      .select(col("qid"), col("vec_id").as("cid"), sq8Cosine.as("approx"))
    // (qid, cid) is unique without a distinct: each vec_id has one code
    // row ([[assign]] keeps one row per id within a write, absorb
    // anti-joins the committed ids) and a query's probed cells are
    // distinct
    val order = Seq(col("approx").desc, col("cid"))
    TopKPerKey.topK(cand, Seq("qid"), order, k * oversample)
      .withColumn("ar",
        row_number().over(Window.partitionBy("qid").orderBy(order: _*)))
  }

  /** Final quantized-cosine top-k per query (qid, cid, cos_q, rk) —
    * the serving read. Exact rescore, when wanted, is the caller's
    * join of this shortlist against the float vectors (q166 stage 2):
    * k·oversample·|queries| rows, not the corpus. */
  def topK(
      spark: SparkSession, statePath: String, queries: DataFrame,
      k: Int = 5, nprobe: Int = 4, oversample: Int = 4,
      excludeSelf: Boolean = false,
      asOfVersion: Long = -1L): DataFrame =
    shortlist(spark, statePath, queries, k, nprobe, oversample,
        excludeSelf, asOfVersion)
      .filter(col("ar") <= k)
      .select(col("qid"), col("cid"),
        round(col("approx"), 6).as("cos_q"),
        col("ar").cast("long").as("rk"))
      // k·|query batch| rows, bounded by the caller's serving batch:
      // ordered inside one partition, so no range-sampling job runs
      .coalesce(1).orderBy("qid", "rk")

  /** Batch drift statistic: mean angular distortion of the batch under
    * the COMMITTED centroids, relative to the baseline recorded when
    * those centroids were fitted. ~1 ⇒ centroids still fit; call
    * [[refresh]] when it exceeds the caller's threshold (the
    * CorpusIncrement monitor convention: measure, report, let policy
    * decide). */
  def driftRatio(
      spark: SparkSession, statePath: String,
      batch: DataFrame): Double = {
    val ix = ixAt(statePath)
    val cent = readCentroids(spark, statePath, ix)
    val d = distortionOf(assign(quantizable(batch), cent))
    if (ix.baseDistortion <= 0.0) 1.0 else d / ix.baseDistortion
  }

  /** Re-fit the coarse quantizer FROM COMMITTED CODES: decode each
    * vector's direction (qc/|qc| — SQ8 is symmetric per-vector, so
    * direction survives to ~1/127), train [[ivfCentroids]] over the
    * unit sphere, reassign every committed vector, write new centroids
    * + ONE compacted code part, commit one version. No corpus rescan —
    * the whole point of persisting codes. Distortion baseline resets
    * to the refreshed fit. */
  def refresh(
      spark: SparkSession, statePath: String, nlist: Int = 16): Unit = {
    val ix = ixAt(statePath)
    val decoded = readCodes(spark, statePath, ix)
      .select(col("vec_id").as("__aid"),
        transform(col("qc").cast("array<double>"),
          x => x / sqrt(col("d2"))).as("__v"),
        col("qc").cast("array<double>").as("qc"), col("d2"))
    val next = ix.version + 1
    build(spark, statePath, decoded, nlist, IxManifest(
      next, Seq(partName(next)), next, 0.0, ix.lastBatchId))
  }

  /** Erasure for the per-vector index state (the [[DedupLedger
    * .purge]] contract lifted to codes): drop the given vec_ids' code
    * rows so the purged vectors can never appear in a shortlist
    * again. Rewrites the retained codes as one part (the compact
    * shape); manifest rename is the commit; as-of reads older than
    * the purge are refused (snapshot truncation). The centroid frame
    * is `nlist` aggregate directions (kilobytes, no per-vector rows)
    * — it may keep statistical influence from purged vectors until
    * the next [[refresh]], which re-fits from SURVIVING codes only.
    * Returns the number of code rows removed. */
  def purge(
      spark: SparkSession, statePath: String,
      vecIds: DataFrame): Long = {
    val ix = ixAt(statePath)
    val doomed = vecIds
      .select(col(vecIds.columns.head).cast("long").as("vec_id"))
      .distinct()
    val current = readCodes(spark, statePath, ix)
    val retained =
      current.join(broadcast(doomed), Seq("vec_id"), "left_anti")
    val removed = current.count() - retained.count()
    if (removed == 0L) return 0L
    Ledger.maintain(statePath, manifestOf(ix), erase = true) { next =>
      retained.write.mode("overwrite")
        .parquet(codesDir(statePath, partName(next)))
    }
    removed
  }

  /** Age-based retention for code parts + centroid versions — see
    * [[Ledger.vacuumState]]. A centroid version survives while
    * ANY surviving manifest points at it. */
  def vacuum(statePath: String, keepVersions: Int): Long =
    Ledger.vacuumState(statePath, keepVersions,
      m => {
        val ix = parse(m)
        ix.codeParts.map("codes/" + _) :+
          f"centroids/v_${ix.centroidVersion}%08d"
      },
      Seq("codes", "centroids"))

  /** Fold the code parts into one (absorb appends a part per
    * increment) through the [[Ledger.maintain]] commit — centroids and
    * the stream marker carry forward, superseded parts stay on disk
    * for as-of reads. Returns true if compaction ran. */
  def compact(spark: SparkSession, statePath: String): Boolean = {
    val ix = ixAt(statePath)
    if (ix.codeParts.lengthCompare(1) <= 0) false
    else {
      Ledger.maintain(statePath, manifestOf(ix), erase = false) { next =>
        readCodes(spark, statePath, ix).write.mode("overwrite")
          .parquet(codesDir(statePath, partName(next)))
      }
      true
    }
  }
}
