package graft

import graft.functions.MomentMatrixAggregator
import graft.operators.Pca
import graft.sources.{Ledger, MomentLedger}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._

/** Stream-maintained PCA/covariance state: ledger moments must equal
  * the one-shot corpus aggregate (n exactly, sums to float-addition-
  * order tolerance), the model off ledger state must agree with
  * Pca.fit on the full data, micro-batch ingest must be exactly-once,
  * and as-of reads must return the pre-increment state. */
class MomentLedgerSpec extends SparkSpec {

  private def relErr(a: Double, b: Double): Double =
    if (a == 0.0 && b == 0.0) 0.0
    else math.abs(a - b) / math.max(1e-30, math.max(math.abs(a), math.abs(b)))

  private def oneShot(df: org.apache.spark.sql.DataFrame) = {
    val agg = udaf(new MomentMatrixAggregator,
      ExpressionEncoder[Seq[Float]]())
    val r = df.agg(agg(col("embedding")).as("m"))
      .select(col("m.n"), col("m.sums"), col("m.diag"), col("m.pairs"))
      .head()
    (r.getLong(0), r.getSeq[Double](1).toArray,
      r.getSeq[Double](2).toArray)
  }

  test("two batch absorbs equal the one-shot corpus aggregate: n " +
    "exact, sums/diag within 1e-9 relative; the ledger model agrees " +
    "with Pca.fit") {
    val emb = tables.embeddings
    val state = java.nio.file.Files
      .createTempDirectory("momentledger_batch").toString
    MomentLedger.init(spark, state)
    val cut = emb.agg(
      percentile_approx(col("vec_id"), lit(0.5), lit(10000)))
      .head().getLong(0)
    MomentLedger.absorb(spark, state,
      emb.filter(col("vec_id") <= cut))
    val merged = MomentLedger.absorb(spark, state,
      emb.filter(col("vec_id") > cut))
    val (n0, sums0, diag0) = oneShot(emb)
    assert(merged.n == n0)
    sums0.zip(merged.sums).foreach { case (a, b) =>
      assert(relErr(a, b) < 1e-9, s"sum drift $a vs $b") }
    diag0.zip(merged.diag).foreach { case (a, b) =>
      assert(relErr(a, b) < 1e-9, s"diag drift $a vs $b") }
    // model read off ledger state vs a direct fit: same n/mean, and
    // eigenvalues agree to the same float tolerance
    val mL = MomentLedger.model(spark, state, k = 4)
    val mF = Pca.fit(emb, k = 4)
    assert(mL.n == mF.n)
    mL.mean.zip(mF.mean).foreach { case (a, b) =>
      assert(relErr(a, b) < 1e-9) }
    mL.eigenvalues.take(4).zip(mF.eigenvalues.take(4)).foreach {
      case (a, b) => assert(relErr(a, b) < 1e-6, s"eig $a vs $b") }
  }

  test("file-stream ingest: two micro-batches == the two-absorb " +
    "batch twin, committed replay no-ops, drift guard fires, as-of " +
    "reads return pre-increment state") {
    val emb = tables.embeddings
    val root = java.nio.file.Files
      .createTempDirectory("momentledger_stream").toString
    val (inDir, ckpt, state, twin) =
      (s"$root/in", s"$root/ckpt", s"$root/state", s"$root/twin")
    new java.io.File(inDir).mkdirs()
    emb.filter(col("vec_id") % 2 === 0).write.parquet(s"$root/h1")
    emb.filter(col("vec_id") % 2 =!= 0).write.parquet(s"$root/h2")
    MomentLedger.init(spark, state)
    MomentLedger.init(spark, twin)
    MomentLedger.absorb(spark, twin, spark.read.parquet(s"$root/h1"))
    val expected = MomentLedger.absorb(spark, twin,
      spark.read.parquet(s"$root/h2"))

    def feed(srcDir: String, tag: String): Unit =
      new java.io.File(srcDir).listFiles
        .filter(_.getName.endsWith(".parquet")).zipWithIndex
        .foreach { case (f, i) =>
          java.nio.file.Files.copy(f.toPath,
            java.nio.file.Paths.get(inDir, s"${tag}_$i.parquet"))
        }
    val q = spark.readStream.schema(emb.schema).parquet(inDir)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch(MomentLedger.absorbSink(spark, state))
      .start()
    try {
      feed(s"$root/h1", "h1"); q.processAllAvailable()
      feed(s"$root/h2", "h2"); q.processAllAvailable()
    } finally q.stop()
    val got = MomentLedger.moments(spark, state)
    assert(got.n == expected.n && got.n == emb.count())
    got.sums.zip(expected.sums).foreach { case (a, b) =>
      assert(math.abs(a - b) <=
        1e-9 * math.max(1.0, math.abs(b)), s"$a vs $b") }

    // committed replay no-ops
    val m = Ledger.readManifest(state).get
    MomentLedger.absorbSink(spark, state)(
      spark.read.parquet(s"$root/h2"), m.lastBatchId.get)
    assert(Ledger.readManifest(state).get.version == m.version)
    // drift guard
    val e = intercept[IllegalArgumentException] {
      MomentLedger.absorbSink(spark, state)(
        spark.read.parquet(s"$root/h1"), 0L)
    }
    assert(e.getMessage.contains("mismatch"), e.getMessage)
    // as-of: v1 empty, v2 = after batch 0 only, v3 = current
    assert(MomentLedger.moments(spark, state, 1L).n == 0L)
    val v2 = MomentLedger.moments(spark, state, 2L)
    assert(v2.n > 0L && v2.n < got.n)
    assert(MomentLedger.moments(spark, state, 3L).n == got.n)
    intercept[IllegalArgumentException] {
      MomentLedger.moments(spark, state, 4L)
    }
  }

  test("ml_pca_stream on the fixture: k components, EVR in (0,1], " +
    "monotone non-increasing eigenvalues, n = corpus size") {
    val rows = MomentLedger.mlPcaStream(tables.embeddings, k = 4)
      .collect()
    assert(rows.length == 4)
    val evs = rows.map(_.getDouble(1))
    evs.sliding(2).foreach {
      case Array(a, b) => assert(a >= b, s"eig rose: $a -> $b")
      case _ =>
    }
    rows.foreach { r =>
      assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0)
      assert(r.getLong(3) == tables.embeddings.count())
    }
    // dimension-drift guard: absorbing a different width fails loudly
    val state = java.nio.file.Files
      .createTempDirectory("momentledger_drift").toString
    MomentLedger.init(spark, state)
    MomentLedger.absorb(spark, state, tables.embeddings)
    import spark.implicits._
    val bad = Seq((1L, Seq(1.0f, 2.0f))).toDF("vec_id", "embedding")
    val err = intercept[Exception] {
      MomentLedger.absorb(spark, state, bad)
    }
    assert(err.getMessage != null)
  }

  test("purge subtracts the vectors' contribution: n exact, state " +
    "within 1e-9 of a rebuilt-without ledger, older as-of refused, " +
    "n-underflow refused") {
    val emb = tables.embeddings
    val cut = emb.agg(
      percentile_approx(col("vec_id"), lit(0.5), lit(10000)))
      .head().getLong(0)
    val (keep, drop) =
      (emb.filter(col("vec_id") <= cut), emb.filter(col("vec_id") > cut))
    val state = java.nio.file.Files
      .createTempDirectory("momentledger_purge").toString
    MomentLedger.init(spark, state)
    MomentLedger.absorb(spark, state, emb)
    val vPre = Ledger.readManifest(state).get.version

    val removed = MomentLedger.purge(spark, state, drop)
    assert(removed == drop.count())
    val after = MomentLedger.moments(spark, state)
    val (n0, sums0, diag0) = oneShot(keep)
    assert(after.n == n0)
    sums0.zip(after.sums).foreach { case (a, b) =>
      assert(relErr(a, b) < 1e-9, s"purged sum drift $a vs $b") }
    diag0.zip(after.diag).foreach { case (a, b) =>
      assert(relErr(a, b) < 1e-9, s"purged diag drift $a vs $b") }
    // the pre-purge state is unreadable (snapshot truncation)
    intercept[Exception] {
      MomentLedger.moments(spark, state, asOfVersion = vPre)
    }
    // subtracting more vectors than the ledger holds fails loudly
    intercept[IllegalArgumentException] {
      MomentLedger.purge(spark, state, emb)
    }
  }
}
