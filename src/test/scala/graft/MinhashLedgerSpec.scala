package graft

import graft.operators.Dedup
import graft.sources.MinhashLedger
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Stateful incremental NEAR-dup detection (the q170 operator's
  * production form): a persisted MinHash signature ledger each
  * increment loads, probes via band collisions, and extends — never
  * rescanning corpus text. The contract mirrors DedupLedgerSpec's:
  * increment-by-increment equals the one-shot replay, and the
  * increment's scan set provably excludes the corpus files. */
class MinhashLedgerSpec extends SparkSpec {
  import spark.implicits._

  private def fixture(tag: String): (String, String, String, String) = {
    val base = java.nio.file.Files
      .createTempDirectory(s"mhledger_$tag").toString
    val docs = tables.documents
    val n = docs.count()
    val (c1, c2) = (n * 6 / 10, n * 8 / 10)
    docs.filter($"doc_id" < c1).write.parquet(s"$base/corpus")
    docs.filter($"doc_id" >= c1 && $"doc_id" < c2)
      .write.parquet(s"$base/b1")
    docs.filter($"doc_id" >= c2).write.parquet(s"$base/b2")
    (s"$base/corpus", s"$base/b1", s"$base/b2", s"$base/state")
  }

  private def flagSet(rows: Array[Row]): Map[Long, (Long, Long, Double)] =
    rows.map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap

  test("increment-by-increment == one-shot: absorb(b1) matches the " +
    "stateless q170 vs corpus, absorb(b2) matches it vs corpus ∪ b1 " +
    "(seen-set semantics compose across increments)") {
    val (corpusDir, b1Dir, b2Dir, state) = fixture("replay")
    val corpus = spark.read.parquet(corpusDir)
    val b1 = spark.read.parquet(b1Dir)
    val b2 = spark.read.parquet(b2Dir)
    MinhashLedger.init(spark, state, corpus)
    val f1 = flagSet(MinhashLedger.absorb(spark, state, b1).collect())
    val f2 = flagSet(MinhashLedger.absorb(spark, state, b2).collect())
    val one1 = flagSet(Dedup.incrementalNearDup(corpus, b1).collect())
    val one2 = flagSet(Dedup.incrementalNearDup(
      corpus.select("doc_id", "text")
        .unionByName(b1.select("doc_id", "text")), b2).collect())
    assert(f1 == one1, s"b1 flags diverge: ledger=$f1 oneshot=$one1")
    assert(f2 == one2, s"b2 flags diverge: ledger=$f2 oneshot=$one2")
    // the fixture must actually exercise the path: at least one
    // near-dup flagged across the corpus/batch boundary
    assert(f1.nonEmpty || f2.nonEmpty,
      "fixture produced no near-dup flags — the spec is vacuous")
  }

  test("q170 flags are partitioning-invariant: 1-partition and " +
    "13-partition inputs derive identical flag tables") {
    val docs = tables.documents
    val corpus = docs.filter($"doc_id" % 10 < 8)
    val batch = docs.filter($"doc_id" % 10 >= 8)
    val a = flagSet(Dedup.incrementalNearDup(
      corpus.repartition(1), batch.repartition(1)).collect())
    val b = flagSet(Dedup.incrementalNearDup(
      corpus.repartition(13), batch.repartition(13)).collect())
    assert(a == b)
    assert(a.nonEmpty, "fixture produced no flags — vacuous")
  }

  test("an increment never reads corpus text: its scan set is the " +
    "batch plus the persisted signature parts") {
    val (corpusDir, b1Dir, _, state) = fixture("scanset")
    MinhashLedger.init(spark, state, spark.read.parquet(corpusDir))
    val r1 = MinhashLedger.absorb(spark, state,
      spark.read.parquet(b1Dir))
    r1.collect()
    val files = r1.inputFiles
    assert(files.nonEmpty)
    assert(!files.exists(_.contains(corpusDir)),
      s"increment scanned corpus files: " +
        files.filter(_.contains(corpusDir)).mkString(", "))
    // stronger than the DedupLedger form: the batch TEXT is consumed
    // once while writing the new signature part, so the flag
    // computation itself reads NOTHING but persisted signature state
    assert(files.forall(_.contains(s"$state/sigs/")),
      s"flag scan left the signature ledger: ${files.mkString(", ")}")
    assert(b1Dir.nonEmpty) // fixture wiring
    // the persisted state holds only doc_id + k signature columns —
    // no text column anywhere
    val cols = MinhashLedger.signatures(spark, state).columns.toSeq
    assert(cols.head == "doc_id" &&
      cols.tail.forall(_.startsWith("mh")), cols.toString)
  }

  test("crash replay is idempotent: re-absorbing after a rolled-back " +
    "manifest reclaims the orphan part and yields the same flags") {
    val (corpusDir, b1Dir, _, state) = fixture("crash")
    MinhashLedger.init(spark, state, spark.read.parquet(corpusDir))
    val manifestBefore = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(state, "CURRENT"))
    val first = flagSet(MinhashLedger.absorb(spark, state,
      spark.read.parquet(b1Dir)).collect())
    // simulate a crash after the part write but before the manifest
    // rename: roll CURRENT back to the pre-absorb version
    java.nio.file.Files.write(
      java.nio.file.Paths.get(state, "CURRENT"), manifestBefore)
    val replay = flagSet(MinhashLedger.absorb(spark, state,
      spark.read.parquet(b1Dir)).collect())
    assert(first == replay)
    assert(graft.sources.Ledger.readManifest(state).get.version == 2)
  }

  test("streaming ingest via absorbSink: two micro-batches over a file " +
    "stream equal the batch two-absorb replay per batch; a committed-" +
    "batch replay is a no-op, not a clobber") {
    val (corpusDir, b1Dir, b2Dir, state) = fixture("stream")
    val corpus = spark.read.parquet(corpusDir)
    MinhashLedger.init(spark, state, corpus)
    // twin state, batch mode — the expected per-increment flag frames
    val twin = java.nio.file.Files
      .createTempDirectory("mhledger_twin").toString
    MinhashLedger.init(spark, twin, corpus)
    val exp1 = flagSet(MinhashLedger.absorb(spark, twin,
      spark.read.parquet(b1Dir)).collect())
    val exp2 = flagSet(MinhashLedger.absorb(spark, twin,
      spark.read.parquet(b2Dir)).collect())
    assert(exp1.nonEmpty || exp2.nonEmpty, "vacuous fixture")

    val root = java.nio.file.Files
      .createTempDirectory("mhledger_streamio").toString
    val (inDir, outDir, ckpt) = (s"$root/in", s"$root/out", s"$root/ckpt")
    new java.io.File(inDir).mkdirs()
    def feed(srcDir: String, tag: String): Unit =
      new java.io.File(srcDir).listFiles
        .filter(_.getName.endsWith(".parquet")).zipWithIndex
        .foreach { case (f, i) =>
          java.nio.file.Files.copy(f.toPath,
            java.nio.file.Paths.get(inDir, s"${tag}_$i.parquet"))
        }
    val q = spark.readStream.schema(corpus.schema).parquet(inDir)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch(MinhashLedger.absorbSink(spark, state, outDir))
      .start()
    try {
      feed(b1Dir, "b1"); q.processAllAvailable()
      feed(b2Dir, "b2"); q.processAllAvailable()
    } finally q.stop()
    val got1 = flagSet(spark.read.parquet(s"$outDir/batch_0").collect())
    val got2 = flagSet(spark.read.parquet(s"$outDir/batch_1").collect())
    assert(got1 == exp1, s"batch 0 flags diverge: $got1 vs $exp1")
    assert(got2 == exp2, s"batch 1 flags diverge: $got2 vs $exp2")
    // ledger state advanced identically to the batch twin
    assert(MinhashLedger.signatures(spark, state).count() ==
      MinhashLedger.signatures(spark, twin).count())

    // exactly-once: replaying the last COMMITTED micro-batch must
    // no-op (re-absorbing would flag the batch as dup-of-itself and
    // clobber the real flag output)
    val m = graft.sources.Ledger.readManifest(state).get
    MinhashLedger.absorbSink(spark, state, outDir)(
      spark.read.parquet(b2Dir), m.lastBatchId.get)
    assert(graft.sources.Ledger.readManifest(state).get.version ==
      m.version)
    assert(flagSet(spark.read.parquet(s"$outDir/batch_1").collect())
      == exp2)

    // drift guard: a fresh checkpoint restarting at batch 0 over this
    // advanced ledger fails loudly
    val e = intercept[IllegalArgumentException] {
      MinhashLedger.absorbSink(spark, state, outDir)(
        spark.read.parquet(b1Dir), 0L)
    }
    assert(e.getMessage.contains("stream/ledger mismatch"), e.getMessage)
  }

  test("as-of reads: signatures(asOfVersion) equal the state committed " +
    "before the next absorb; compact RESOLVES pre-compaction versions; " +
    "purge REFUSES pre-purge versions") {
    val (corpusDir, b1Dir, b2Dir, state) = fixture("asof")
    MinhashLedger.init(spark, state, spark.read.parquet(corpusDir))
    def sigSet(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val v1 = sigSet(MinhashLedger.signatures(spark, state))
    MinhashLedger.absorb(spark, state,
      spark.read.parquet(b1Dir)).collect()
    val v2 = sigSet(MinhashLedger.signatures(spark, state))
    // read at version v equals the state recorded before absorb v+1
    assert(sigSet(MinhashLedger.signatures(spark, state, 1L)) == v1)
    assert(sigSet(MinhashLedger.signatures(spark, state, 2L)) == v2)
    assert(v1 != v2)
    // beyond CURRENT refused
    intercept[IllegalArgumentException] {
      MinhashLedger.signatures(spark, state, 3L)
    }
    // compact (v3): superseded parts stay readable — as-of RESOLVES
    assert(MinhashLedger.compact(spark, state))
    assert(sigSet(MinhashLedger.signatures(spark, state, 1L)) == v1)
    assert(sigSet(MinhashLedger.signatures(spark, state, 2L)) == v2)
    assert(sigSet(MinhashLedger.signatures(spark, state, 3L)) == v2)
    // purge (v4): pre-purge versions are refused — erasure closes the
    // time-travel door
    val victim = v1.min
    assert(MinhashLedger.purge(spark, state,
      Seq(victim).toDF("doc_id")) == 1L)
    val e = intercept[IllegalArgumentException] {
      MinhashLedger.signatures(spark, state, 2L)
    }
    assert(e.getMessage.contains("purge"), e.getMessage)
    assert(!sigSet(MinhashLedger.signatures(spark, state, 4L))
      .contains(victim))
    assert(b2Dir.nonEmpty) // fixture wiring
  }

  test("compact folds parts into one and changes no flags for the " +
    "next increment; purge removes signatures so a purged doc's twin " +
    "is new again") {
    val (corpusDir, b1Dir, b2Dir, state) = fixture("maint")
    val corpus = spark.read.parquet(corpusDir)
    MinhashLedger.init(spark, state, corpus)
    MinhashLedger.absorb(spark, state,
      spark.read.parquet(b1Dir)).collect()
    val before = MinhashLedger.signatures(spark, state)
      .orderBy("doc_id").collect().toSeq
    assert(MinhashLedger.compact(spark, state))
    val after = MinhashLedger.signatures(spark, state)
      .orderBy("doc_id").collect().toSeq
    assert(before == after, "compaction changed the signature set")
    val f2 = flagSet(MinhashLedger.absorb(spark, state,
      spark.read.parquet(b2Dir)).collect())
    val one2 = flagSet(Dedup.incrementalNearDup(
      corpus.select("doc_id", "text").unionByName(
        spark.read.parquet(b1Dir).select("doc_id", "text")),
      spark.read.parquet(b2Dir)).collect())
    assert(f2 == one2)
    // purge: remove one corpus doc's signature, then a batch that IS
    // that doc must come back clean against the ledger
    val victim = corpus.select("doc_id").orderBy("doc_id").head().getLong(0)
    val removed = MinhashLedger.purge(spark, state,
      Seq(victim).toDF("doc_id"))
    assert(removed == 1L)
    assert(MinhashLedger.signatures(spark, state)
      .filter($"doc_id" === victim).count() == 0L)
  }
}
