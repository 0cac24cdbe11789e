package graft

import graft.sources.{Ledger, SketchLedger}
import org.apache.spark.sql.functions._

/** Stream-maintained KLL sketch table: two real micro-batches over a
  * file stream must leave a table whose counts are EXACT and whose
  * quantiles obey the rank bound against the full data; committed
  * replays no-op; checkpoint/state drift fails loudly. */
class SketchLedgerSpec extends SparkSpec {
  import spark.implicits._

  test("file-stream maintenance: exact getN, bounded quantile ranks, " +
    "exactly-once replay, drift guard") {
    val root = java.nio.file.Files
      .createTempDirectory("sketchledger").toString
    val (inDir, ckpt, state) = (s"$root/in", s"$root/ckpt", s"$root/state")
    new java.io.File(inDir).mkdirs()
    val e = tables.events
    e.filter($"user_id" % 2 === 0).write.parquet(s"$root/h1")
    e.filter($"user_id" % 2 =!= 0).write.parquet(s"$root/h2")
    SketchLedger.init(spark, state)

    def feed(srcDir: String, tag: String): Unit =
      new java.io.File(srcDir).listFiles
        .filter(_.getName.endsWith(".parquet")).zipWithIndex
        .foreach { case (f, i) =>
          java.nio.file.Files.copy(f.toPath,
            java.nio.file.Paths.get(inDir, s"${tag}_$i.parquet"))
        }
    val q = spark.readStream.schema(e.schema).parquet(inDir)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch(SketchLedger.absorbSink(spark, state))
      .start()
    try {
      feed(s"$root/h1", "h1"); q.processAllAvailable()
      feed(s"$root/h2", "h2"); q.processAllAvailable()
    } finally q.stop()

    // counts are exact through every build + merge
    val exactN = e.filter($"value".isNotNull)
      .groupBy("event_type").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = SketchLedger.quantiles(spark, state).collect()
    assert(got.map(_.getString(0)).toSet == exactN.keySet)
    val values = e.filter($"value".isNotNull)
      .select("event_type", "value").collect()
      .groupBy(_.getString(0))
      .map { case (k, rs) => k -> rs.map(_.getDouble(1)).sorted }
    got.foreach { r =>
      val key = r.getString(0)
      assert(r.getLong(1) == exactN(key), s"$key n_values")
      assert(r.getLong(2) == exactN(key), s"$key sketch getN")
      val qs = r.getSeq[Double](3)
      val vs = values(key)
      Seq(0.5, 0.9, 0.99).zip(qs).foreach { case (p, est) =>
        val rank = vs.count(_ <= est).toDouble / vs.length
        assert(math.abs(rank - p) <= 0.033 + 1.0 / vs.length,
          s"$key p$p rank $rank")
      }
    }

    // committed replay: same batchId again → version unchanged
    val m = Ledger.readManifest(state).get
    SketchLedger.absorbSink(spark, state)(
      spark.read.parquet(s"$root/h2"), m.lastBatchId.get)
    assert(Ledger.readManifest(state).get.version == m.version)

    // drift guard: a fresh checkpoint restarting at batch 0 over this
    // advanced ledger must fail loudly
    val err = intercept[IllegalArgumentException] {
      SketchLedger.absorbSink(spark, state)(
        spark.read.parquet(s"$root/h1"), 0L)
    }
    assert(err.getMessage.contains("mismatch"))

    // as-of reads: every version is a full table — v1 empty (init),
    // v2 = after batch 0 (half the mass), v3 = current; beyond
    // CURRENT refused
    def totalN(df: org.apache.spark.sql.DataFrame): Long =
      Option(df.agg(sum("n_values")).head().getAs[java.lang.Long](0))
        .map(_.longValue).getOrElse(0L)
    assert(totalN(SketchLedger.table(spark, state, 1L)) == 0L)
    val n2 = totalN(SketchLedger.table(spark, state, 2L))
    val n3 = totalN(SketchLedger.table(spark, state, 3L))
    assert(n2 > 0L && n2 < n3, s"v2=$n2 v3=$n3")
    assert(n3 == exactN.values.sum)
    assert(totalN(SketchLedger.table(spark, state)) == n3)
    intercept[IllegalArgumentException] {
      SketchLedger.table(spark, state, 4L)
    }
  }
}
