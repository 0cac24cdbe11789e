package graft

import graft.sources.{IndexLedger, Ledger}
import graft.operators.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** The persisted incremental ANN index (q166's IVF+SQ8 layout with
  * the Ledger manifest discipline): increments assign+code only
  * new vectors against committed centroids, so any increment
  * composition commits the same state and serves identical
  * shortlists; queries read committed state only; refresh re-fits the
  * coarse quantizer from committed codes without a corpus rescan. */
class IndexLedgerSpec extends SparkSpec {
  import spark.implicits._

  private def fixture(tag: String): (String, String, String, String) = {
    val base = java.nio.file.Files
      .createTempDirectory(s"ixledger_$tag").toString
    val emb = tables.embeddings
    emb.filter($"vec_id" % 10 < 6).write.parquet(s"$base/seed")
    emb.filter($"vec_id" % 10 === 6 || $"vec_id" % 10 === 7)
      .write.parquet(s"$base/b1")
    emb.filter($"vec_id" % 10 >= 8).write.parquet(s"$base/b2")
    (s"$base/seed", s"$base/b1", s"$base/b2", s"$base/state")
  }

  private def queries10: DataFrame =
    tables.embeddings.filter($"vec_id" < 10)

  private def pairSet(df: DataFrame): Set[(Long, Long, Long)] =
    df.select("qid", "cid", "ar").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.get(2).asInstanceOf[Number].longValue)).toSet

  test("increment composition: absorb(b1); absorb(b2) commits the " +
    "same state as absorb(b1 ∪ b2) — identical shortlists at " +
    "oversample 2 and 8") {
    val (seedDir, b1Dir, b2Dir, state) = fixture("compose")
    val twin = state + "_twin"
    val seed = spark.read.parquet(seedDir)
    val b1 = spark.read.parquet(b1Dir)
    val b2 = spark.read.parquet(b2Dir)
    IndexLedger.init(spark, state, seed)
    IndexLedger.init(spark, twin, seed)
    IndexLedger.absorb(spark, state, b1).collect()
    IndexLedger.absorb(spark, state, b2).collect()
    IndexLedger.absorb(spark, twin, b1.unionByName(b2)).collect()
    for (os <- Seq(2, 8)) {
      val a = pairSet(IndexLedger.shortlist(
        spark, state, queries10, k = 5, oversample = os,
        excludeSelf = true))
      val b = pairSet(IndexLedger.shortlist(
        spark, twin, queries10, k = 5, oversample = os,
        excludeSelf = true))
      assert(a == b, s"oversample=$os shortlists diverge")
      assert(a.nonEmpty, "vacuous fixture")
    }
    // and the served top-k agrees too
    assert(pairSet(IndexLedger.topK(spark, state, queries10,
        excludeSelf = true).withColumnRenamed("rk", "ar")) ==
      pairSet(IndexLedger.topK(spark, twin, queries10,
        excludeSelf = true).withColumnRenamed("rk", "ar")))
  }

  test("an increment never reads the seed corpus embeddings: its scan " +
    "set is the batch plus committed index state") {
    val (seedDir, b1Dir, _, state) = fixture("scanset")
    IndexLedger.init(spark, state, spark.read.parquet(seedDir))
    val r = IndexLedger.absorb(spark, state, spark.read.parquet(b1Dir))
    r.collect()
    val files = r.inputFiles
    assert(files.nonEmpty)
    assert(!files.exists(_.contains(seedDir)),
      s"increment scanned seed embeddings: " +
        files.filter(_.contains(seedDir)).mkString(", "))
    // committed state carries codes, never float embeddings
    val cols = IndexLedger.codes(spark, state).columns.toSet
    assert(cols == Set("vec_id", "cell", "qc", "d2"), cols.toString)
    // serving reads committed state ONLY — not even the batch
    val served = IndexLedger.topK(spark, state, queries10.localCheckpoint(true))
    served.collect()
    assert(served.inputFiles.forall(f =>
      f.contains(s"$state/codes/") || f.contains(s"$state/centroids/")),
      served.inputFiles.mkString(", "))
  }

  test("crash replay is idempotent: re-absorbing after a rolled-back " +
    "manifest reclaims the orphan part and commits the same state") {
    val (seedDir, b1Dir, _, state) = fixture("crash")
    IndexLedger.init(spark, state, spark.read.parquet(seedDir))
    val before = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(state, "CURRENT"))
    val first = IndexLedger.absorb(spark, state,
      spark.read.parquet(b1Dir)).collect().map(r =>
        (r.getLong(0), r.getInt(1))).toSet
    java.nio.file.Files.write(
      java.nio.file.Paths.get(state, "CURRENT"), before)
    val replay = IndexLedger.absorb(spark, state,
      spark.read.parquet(b1Dir)).collect().map(r =>
        (r.getLong(0), r.getInt(1))).toSet
    assert(first == replay && first.nonEmpty)
    assert(Ledger.readManifest(state).get.version == 2)
  }

  test("as-of reads: codes/topK at version v serve the state committed " +
    "then; beyond-CURRENT refused; compact resolves") {
    val (seedDir, b1Dir, _, state) = fixture("asof")
    IndexLedger.init(spark, state, spark.read.parquet(seedDir))
    val ids1 = IndexLedger.codes(spark, state)
      .select("vec_id").as[Long].collect().toSet
    val top1 = pairSet(IndexLedger.topK(spark, state, queries10)
      .withColumnRenamed("rk", "ar"))
    IndexLedger.absorb(spark, state, spark.read.parquet(b1Dir)).collect()
    val ids2 = IndexLedger.codes(spark, state)
      .select("vec_id").as[Long].collect().toSet
    assert(ids1 != ids2)
    assert(IndexLedger.codes(spark, state, 1L)
      .select("vec_id").as[Long].collect().toSet == ids1)
    assert(pairSet(IndexLedger.topK(spark, state, queries10,
      asOfVersion = 1L).withColumnRenamed("rk", "ar")) == top1)
    intercept[IllegalArgumentException] {
      IndexLedger.codes(spark, state, 3L).collect()
    }
    assert(IndexLedger.compact(spark, state))
    assert(IndexLedger.codes(spark, state)
      .select("vec_id").as[Long].collect().toSet == ids2)
    assert(IndexLedger.codes(spark, state, 2L)
      .select("vec_id").as[Long].collect().toSet == ids2)
  }

  test("ledger topK recall@5 vs brute-force exact cosine meets the " +
    "q166 IVF bar on the full fixture") {
    val state = java.nio.file.Files
      .createTempDirectory("ixledger_recall").toString + "/state"
    IndexLedger.init(spark, state, tables.embeddings)
    val exact = Similarity.cosineTopK(tables.embeddings).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = pairSet(IndexLedger.topK(spark, state, queries10,
      excludeSelf = true).withColumnRenamed("rk", "ar"))
      .map(p => (p._1, p._2))
    val recall = (exact & got).size.toDouble / exact.size
    info(s"IndexLedger recall@5 = $recall")
    assert(recall >= 0.4, s"recall $recall")
  }

  test("streaming ingest via absorbSink: micro-batches equal batch " +
    "absorbs; committed replay no-ops; checkpoint drift fails loudly") {
    val (seedDir, b1Dir, b2Dir, state) = fixture("stream")
    val seed = spark.read.parquet(seedDir)
    IndexLedger.init(spark, state, seed)
    val twin = state + "_twin"
    IndexLedger.init(spark, twin, seed)
    val exp1 = IndexLedger.absorb(spark, twin,
      spark.read.parquet(b1Dir)).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    val exp2 = IndexLedger.absorb(spark, twin,
      spark.read.parquet(b2Dir)).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(exp1.nonEmpty && exp2.nonEmpty)

    val root = java.nio.file.Files
      .createTempDirectory("ixledger_streamio").toString
    val (inDir, outDir, ckpt) = (s"$root/in", s"$root/out", s"$root/ckpt")
    new java.io.File(inDir).mkdirs()
    def feed(srcDir: String, tag: String): Unit =
      new java.io.File(srcDir).listFiles
        .filter(_.getName.endsWith(".parquet")).zipWithIndex
        .foreach { case (f, i) =>
          java.nio.file.Files.copy(f.toPath,
            java.nio.file.Paths.get(inDir, s"${tag}_$i.parquet"))
        }
    val q = spark.readStream.schema(seed.schema).parquet(inDir)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch(IndexLedger.absorbSink(spark, state, outDir))
      .start()
    try {
      feed(b1Dir, "b1"); q.processAllAvailable()
      feed(b2Dir, "b2"); q.processAllAvailable()
    } finally q.stop()
    def got(i: Int) = spark.read.parquet(s"$outDir/batch_$i").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(got(0) == exp1, "batch 0 assignments diverge")
    assert(got(1) == exp2, "batch 1 assignments diverge")
    val m = Ledger.readManifest(state).get
    // committed replay no-op
    IndexLedger.absorbSink(spark, state, outDir)(
      spark.read.parquet(b2Dir), m.lastBatchId.get)
    assert(Ledger.readManifest(state).get.version == m.version)
    assert(got(1) == exp2)
    // fresh-checkpoint drift guard
    val e = intercept[IllegalArgumentException] {
      IndexLedger.absorbSink(spark, state, outDir)(
        spark.read.parquet(b1Dir), 0L)
    }
    assert(e.getMessage.contains("stream/ledger mismatch"), e.getMessage)
  }

  test("refresh re-fits centroids from committed codes (no corpus " +
    "rescan), reduces distortion on drifted data, and still serves") {
    val (seedDir, _, _, state) = fixture("refresh")
    IndexLedger.init(spark, state, spark.read.parquet(seedDir))
    // a drifted increment: shift every vector into a far region so the
    // seed-time centroids fit badly
    val drifted = tables.embeddings.filter($"vec_id" % 10 >= 6)
      .select(($"vec_id" + 10000).as("vec_id"),
        transform($"embedding", x => x * lit(-3.0f) + lit(5.0f))
          .as("embedding"))
    val ratio = IndexLedger.driftRatio(spark, state, drifted)
    assert(ratio > 1.0, s"drifted batch should exceed baseline: $ratio")
    IndexLedger.absorb(spark, state, drifted).collect()
    val preIds = IndexLedger.codes(spark, state)
      .select("vec_id").as[Long].collect().toSet
    IndexLedger.refresh(spark, state)
    // same membership, one compacted part, new centroid version
    assert(IndexLedger.codes(spark, state)
      .select("vec_id").as[Long].collect().toSet == preIds)
    val m = Ledger.readManifest(state).get
    assert(m.keyParts.count(_.startsWith("part_")) == 1)
    // post-refresh distortion on the drifted slice improves
    val post = IndexLedger.driftRatio(spark, state, drifted)
    assert(post < ratio,
      s"refresh did not improve drifted-batch fit: $ratio -> $post")
    // and serving still works against the refreshed state
    assert(IndexLedger.topK(spark, state, queries10).count() > 0)
  }

  test("purge: the vec_ids' code rows leave the index, survivors and " +
    "their shortlists are untouched, older as-of reads refuse, a " +
    "second purge is a no-op, and re-absorbing the purged vectors " +
    "re-indexes them") {
    val (seedDir, b1Dir, _, state) = fixture("purge")
    val seed = spark.read.parquet(seedDir)
    val b1 = spark.read.parquet(b1Dir)
    IndexLedger.init(spark, state, seed)
    IndexLedger.absorb(spark, state, b1).collect()
    val vPre = Ledger.readManifest(state).get.version
    val doomedIds = b1.select("vec_id").as[Long].collect().sorted
      .take(5).toSeq
    val doomed = doomedIds.toDF("vec_id")
    val allBefore = IndexLedger.codes(spark, state)
      .select("vec_id").as[Long].collect().toSet

    val removed = IndexLedger.purge(spark, state, doomed)
    assert(removed == 5L)
    val after = IndexLedger.codes(spark, state)
      .select("vec_id").as[Long].collect().toSet
    assert(after == allBefore -- doomedIds)
    // purged vectors can never appear in a shortlist again; the
    // queries still serve from surviving state
    val served = IndexLedger.topK(spark, state, queries10, k = 10)
    assert(served.count() > 0)
    assert(served.filter($"cid".isin(doomedIds: _*)).isEmpty)
    // time-travel past the purge refuses (snapshot truncation)
    intercept[Exception] {
      IndexLedger.codes(spark, state, asOfVersion = vPre).collect()
    }
    // idempotent
    assert(IndexLedger.purge(spark, state, doomed) == 0L)
    // erasure semantics: re-absorbing the purged vectors re-indexes
    // them (they are new again)
    IndexLedger.absorb(spark, state,
      b1.filter($"vec_id".isin(doomedIds: _*))).collect()
    assert(IndexLedger.codes(spark, state)
      .select("vec_id").as[Long].collect().toSet == allBefore)
  }

  test("pinned read schemas: after init → absorb → refresh → absorb → " +
    "compact → purge, codes and centroids read back with exactly the " +
    "declared schema, which is the one every written footer carries, " +
    "and no column reads back null") {
    val (seedDir, b1Dir, b2Dir, state) = fixture("schema")
    IndexLedger.init(spark, state, spark.read.parquet(seedDir))
    IndexLedger.absorb(spark, state, spark.read.parquet(b1Dir)).collect()
    IndexLedger.refresh(spark, state)
    IndexLedger.absorb(spark, state, spark.read.parquet(b2Dir)).collect()
    assert(IndexLedger.compact(spark, state))
    assert(IndexLedger.purge(spark, state,
      Seq(6L, 7L).toDF("vec_id")) == 2L)
    val declared = Map(
      "codes" -> StructType.fromDDL(
        "vec_id BIGINT, cell INT, qc ARRAY<TINYINT>, d2 DOUBLE"),
      "centroids" -> StructType.fromDDL(
        "cell INT, cv ARRAY<DOUBLE>, c2 DOUBLE"))
    val read = Map(
      "codes" -> IndexLedger.codes(spark, state),
      "centroids" -> IndexLedger.centroids(spark, state))
    for ((frame, schema) <- declared) {
      assert(read(frame).schema == schema, frame)
      // every dir any step wrote, footer-inferred
      val dirs = new java.io.File(s"$state/$frame").listFiles
        .filter(_.isDirectory).map(_.getPath)
      assert(dirs.length >= 2, s"$frame: ${dirs.mkString(", ")}")
      for (d <- dirs)
        assert(spark.read.parquet(d).schema == schema, d)
      val df = read(frame)
      val nonNull = df.agg(count(lit(1)),
        df.columns.toSeq.map(c => count(col(c))): _*).head()
      assert(nonNull.getLong(0) > 0, s"$frame is empty")
      for (i <- df.columns.indices)
        assert(nonNull.getLong(i + 1) == nonNull.getLong(0),
          s"$frame.${df.columns(i)} reads back null")
    }
    // the code elements carry values, not nulls
    assert(read("codes").filter(exists($"qc", _.isNull)).isEmpty)
    assert(read("centroids").filter(exists($"cv", _.isNull)).isEmpty)
  }

  test("an INT vec_id input is stored and read back as BIGINT with the " +
    "same ids") {
    val state = java.nio.file.Files
      .createTempDirectory("ixledger_intid").toString + "/state"
    val emb = tables.embeddings
      .select($"vec_id".cast("int").as("vec_id"), $"embedding")
    IndexLedger.init(spark, state, emb)
    val cs = IndexLedger.codes(spark, state)
    assert(cs.schema("vec_id").dataType == LongType)
    assert(cs.select("vec_id").as[Long].collect().toSet ==
      tables.embeddings.select($"vec_id".cast("long"))
        .as[Long].collect().toSet)
  }

  test("uniqueness: repeated and already-committed vec_ids still leave " +
    "one code row per id, so topK serves exactly k distinct (qid, cid) " +
    "per query without a distinct") {
    val (seedDir, b1Dir, _, state) = fixture("unique")
    val seed = spark.read.parquet(seedDir)
    val b1 = spark.read.parquet(b1Dir)
    // id 0 again, carrying another vector
    val seedRepeat = seed.filter($"vec_id" === 1).withColumn("vec_id",
      lit(0L).cast(seed.schema("vec_id").dataType))
    IndexLedger.init(spark, state, seed.unionByName(seedRepeat))
    // the batch overlaps committed ids (0..2) and repeats a new id
    val b1First = b1.agg(min("vec_id")).head().get(0)
    val batch = b1
      .unionByName(seed.filter($"vec_id" < 3))
      .unionByName(seed.filter($"vec_id" === 3).withColumn("vec_id",
        lit(b1First).cast(b1.schema("vec_id").dataType)))
    IndexLedger.absorb(spark, state, batch).collect()
    val ids = IndexLedger.codes(spark, state).select("vec_id")
      .as[Long].collect()
    assert(ids.length == ids.distinct.length,
      s"${ids.length - ids.distinct.length} repeated vec_ids in codes")
    assert(ids.contains(0L) && ids.contains(
      b1First.asInstanceOf[Number].longValue))
    val k = 5
    val served = IndexLedger.topK(spark, state, queries10, k = k)
      .select("qid", "cid").as[(Long, Long)].collect()
    assert(served.length == served.distinct.length,
      "repeated (qid, cid) in topK")
    val perQuery = served.groupBy(_._1).map { case (q, r) => q -> r.length }
    assert(perQuery.size == 10 && perQuery.values.forall(_ == k),
      perQuery.toString)
  }
}
