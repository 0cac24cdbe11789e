package graft

import graft.operators.Dedup
import graft.sources.NgramLedger
import org.apache.spark.sql.functions._

/** The sixth ledger: persisted shingle document-frequency state with
  * q193's memorization risk computed as-of each batch's arrival. The
  * family invariants under test: additive state composition (two
  * absorbs == one absorb of the union, EXACTLY), one-shot parity with
  * the batch operator, as-of reads, exactly-once absorbSink replay,
  * compact read-equality, purge erasure + snapshot truncation, and
  * vacuum reclamation with CURRENT untouched. */
class NgramLedgerSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"ngled_$tag").toString +
      "/state"

  private def dfMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")

  test("one-shot parity: init(empty) + absorb(corpus) == the q193 " +
    "batch operator, exactly") {
    val state = tmp("oneshot")
    NgramLedger.init(spark, state, empty)
    val got = NgramLedger
      .absorb(spark, state, tables.documents).collect()
    val want = Dedup.memorizationRisk(tables.documents).collect()
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) => assert(g == w) }
  }

  test("state additivity: two absorbs == one absorb of the union, " +
    "and the risk rows are as-of (batch-1 dfs <= union dfs)") {
    val docs = tables.documents
    val (b1, b2) = (docs.filter($"doc_id" % 2 === 0),
      docs.filter($"doc_id" % 2 === 1))
    val sA = tmp("addA"); val sB = tmp("addB")
    NgramLedger.init(spark, sA, empty)
    val r1 = NgramLedger.absorb(spark, sA, b1).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("max_df")).toMap
    NgramLedger.absorb(spark, sA, b2).count()
    NgramLedger.init(spark, sB, empty)
    NgramLedger.absorb(spark, sB, b1.unionByName(b2)).count()
    assert(dfMap(NgramLedger.dfTable(spark, sA))
      == dfMap(NgramLedger.dfTable(spark, sB)),
      "df state must compose additively")
    // as-of semantics: a doc judged at batch 1 saw dfs no larger
    // than the one-shot (union) judgment of the same doc
    val oneShot = Dedup.memorizationRisk(docs).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("max_df")).toMap
    r1.foreach { case (id, m) => assert(m <= oneShot(id),
      s"doc $id: as-of max_df $m exceeds corpus-wide ${oneShot(id)}") }
  }

  test("as-of reads: version N-1 returns the pre-absorb table; beyond " +
    "CURRENT refuses") {
    val state = tmp("asof")
    NgramLedger.init(spark, state, tables.documents.filter($"doc_id" < 20))
    val v1 = dfMap(NgramLedger.dfTable(spark, state))
    NgramLedger.absorb(
      spark, state, tables.documents.filter($"doc_id" >= 20)).count()
    assert(dfMap(NgramLedger.dfTable(spark, state, 1L)) == v1)
    assert(dfMap(NgramLedger.dfTable(spark, state)) != v1)
    intercept[IllegalArgumentException] {
      NgramLedger.dfTable(spark, state, 99L).count()
    }
  }

  test("absorbSink is exactly-once under foreachBatch replay: a " +
    "committed batchId no-ops and the output dir survives byte-stable") {
    val state = tmp("sink")
    val out = state + "_out"
    NgramLedger.init(spark, state, tables.documents.filter($"doc_id" < 25))
    val sink = NgramLedger.absorbSink(spark, state, out)
    val batch = tables.documents.filter($"doc_id" >= 25 && $"doc_id" < 40)
    sink(batch, 0L)
    val first = spark.read.parquet(s"$out/batch_0").collect().toSet
    val vAfter = graft.sources.Ledger
      .readManifest(state).get.version
    sink(batch, 0L) // replay of the committed id: must no-op
    assert(graft.sources.Ledger.readManifest(state).get.version
      == vAfter, "replay must not advance the ledger")
    assert(spark.read.parquet(s"$out/batch_0").collect().toSet == first)
    intercept[IllegalArgumentException] { sink(batch, 5L) } // drift
  }

  test("compact folds parts to one with an identical merged table; " +
    "purge erases contributions and closes the time-travel door") {
    val state = tmp("maint")
    val docs = tables.documents
    NgramLedger.init(spark, state, docs.filter($"doc_id" < 15))
    NgramLedger.absorb(spark, state,
      docs.filter($"doc_id" >= 15 && $"doc_id" < 30)).count()
    NgramLedger.absorb(spark, state, docs.filter($"doc_id" >= 30)).count()
    val before = dfMap(NgramLedger.dfTable(spark, state))
    assert(NgramLedger.compact(spark, state))
    assert(dfMap(NgramLedger.dfTable(spark, state)) == before)
    assert(graft.sources.Ledger.readManifest(state)
      .get.keyParts.size == 1)
    assert(!NgramLedger.compact(spark, state), "single part: no-op")

    // purge: state equals a from-scratch build without the purged docs
    val doomed = docs.filter($"doc_id" % 7 === 0)
    val verPrePurge = graft.sources.Ledger
      .readManifest(state).get.version
    assert(NgramLedger.purge(spark, state, doomed) > 0)
    val ref = tmp("maintref")
    NgramLedger.init(spark, ref, docs.filter($"doc_id" % 7 =!= 0))
    assert(dfMap(NgramLedger.dfTable(spark, state))
      == dfMap(NgramLedger.dfTable(spark, ref)),
      "purged state must equal the rebuilt-without reference")
    intercept[IllegalArgumentException] {
      NgramLedger.dfTable(spark, state, verPrePurge).count()
    }

    // IDEMPOTENCE (the doc-registry guard): re-purging the same docs
    // — the crash-retry case — subtracts NOTHING the second time;
    // shared shingles of surviving docs keep their counts
    val after = dfMap(NgramLedger.dfTable(spark, state))
    assert(NgramLedger.purge(spark, state, doomed) == 0L,
      "replayed purge must be a no-op")
    assert(dfMap(NgramLedger.dfTable(spark, state)) == after,
      "replayed purge must not double-subtract")
    // purging never-absorbed docs is also a no-op
    val alien = Seq((999999L, "totally novel alien text body"))
      .toDF("doc_id", "text")
    assert(NgramLedger.purge(spark, state, alien) == 0L)
  }

  test("streaming ingest via absorbSink: two micro-batches over a " +
    "file stream equal the batch two-absorb twin, rows and state") {
    val docs = tables.documents
    val root = java.nio.file.Files
      .createTempDirectory("ngled_stream").toString
    val (corpusDir, b1Dir, b2Dir) =
      (s"$root/corpus", s"$root/b1", s"$root/b2")
    docs.filter($"doc_id" < 30).write.parquet(corpusDir)
    docs.filter($"doc_id" >= 30 && $"doc_id" < 40).write.parquet(b1Dir)
    docs.filter($"doc_id" >= 40).write.parquet(b2Dir)
    val corpus = spark.read.parquet(corpusDir)

    val state = s"$root/state"; val twin = s"$root/twin"
    NgramLedger.init(spark, state, corpus)
    NgramLedger.init(spark, twin, corpus)
    val exp1 = NgramLedger.absorb(spark, twin,
      spark.read.parquet(b1Dir)).collect().toSet
    val exp2 = NgramLedger.absorb(spark, twin,
      spark.read.parquet(b2Dir)).collect().toSet
    assert(exp1.nonEmpty && exp2.nonEmpty, "vacuous fixture")

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
      .foreachBatch(NgramLedger.absorbSink(spark, state, outDir))
      .start()
    try {
      feed(b1Dir, "b1"); q.processAllAvailable()
      feed(b2Dir, "b2"); q.processAllAvailable()
    } finally q.stop()
    assert(spark.read.parquet(s"$outDir/batch_0").collect().toSet
      == exp1)
    assert(spark.read.parquet(s"$outDir/batch_1").collect().toSet
      == exp2)
    assert(dfMap(NgramLedger.dfTable(spark, state))
      == dfMap(NgramLedger.dfTable(spark, twin)),
      "stream-maintained df state must equal the batch twin")
  }

  test("vacuum reclaims superseded parts, refuses as-of beyond the " +
    "horizon, and leaves CURRENT byte-identical") {
    val state = tmp("vac")
    val docs = tables.documents
    NgramLedger.init(spark, state, docs.filter($"doc_id" < 15))
    NgramLedger.absorb(spark, state,
      docs.filter($"doc_id" >= 15 && $"doc_id" < 30)).count()
    NgramLedger.absorb(spark, state, docs.filter($"doc_id" >= 30)).count()
    NgramLedger.compact(spark, state) // supersedes all delta parts
    val cur = dfMap(NgramLedger.dfTable(spark, state))
    val reclaimed = NgramLedger.vacuum(state, keepVersions = 1)
    assert(reclaimed > 0, "superseded delta parts must be reclaimed")
    assert(dfMap(NgramLedger.dfTable(spark, state)) == cur)
    intercept[IllegalArgumentException] {
      NgramLedger.dfTable(spark, state, 1L).count()
    }
  }

  test("re-absorbing a registered doc_id is a per-doc no-op (the " +
    "additivity/erasure guard): dfs never double-count, and a purge " +
    "after the replay still leaves the exact rebuilt-without state") {
    val docs = tables.documents
    val (b1, b2) = (docs.filter($"doc_id" < 25),
      docs.filter($"doc_id" >= 25 && $"doc_id" < 50))
    val state = tmp("reabsorb")
    NgramLedger.init(spark, state, empty)
    NgramLedger.absorb(spark, state, b1).count()
    val afterB1 = dfMap(NgramLedger.dfTable(spark, state))
    // replay b1 (plus overlap inside a mixed batch): only b2 may add
    NgramLedger.absorb(spark, state, b1).count()
    assert(dfMap(NgramLedger.dfTable(spark, state)) == afterB1,
      "a full re-absorb must not change the df table")
    NgramLedger.absorb(spark, state, b1.unionByName(b2)).count()
    val twin = tmp("reabsorb_twin")
    NgramLedger.init(spark, twin, empty)
    NgramLedger.absorb(spark, twin, b1.unionByName(b2)).count()
    assert(dfMap(NgramLedger.dfTable(spark, state))
      == dfMap(NgramLedger.dfTable(spark, twin)),
      "overlapping absorbs must equal the disjoint-union state")
    // and erasure stays exact despite the replays
    assert(NgramLedger.purge(spark, state, b1) > 0)
    val ref = tmp("reabsorb_ref")
    NgramLedger.init(spark, ref, empty)
    NgramLedger.absorb(spark, ref, b2).count()
    assert(dfMap(NgramLedger.dfTable(spark, state))
      == dfMap(NgramLedger.dfTable(spark, ref)))
  }

  test("shingle width is pinned at init: an absorb or purge with a " +
    "different n refuses loudly instead of corrupting counts") {
    val state = tmp("pinned")
    NgramLedger.init(spark, state, tables.documents.limit(10), n = 3)
    val more = tables.documents.filter($"doc_id" >= 10).limit(5)
    val e = intercept[IllegalArgumentException] {
      NgramLedger.absorb(spark, state, more, n = 2)
    }
    assert(e.getMessage.contains("refusing"))
    intercept[IllegalArgumentException] {
      NgramLedger.purge(spark, state, tables.documents.limit(10), n = 5)
    }
    // the pinned width still works
    NgramLedger.absorb(spark, state, more, n = 3).count()
  }
}
