package graft

import graft.sources.{DedupLedger, IndexLedger, Ledger, MinhashLedger,
  MomentLedger, SketchLedger}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Age-based ledger retention ([[Ledger.vacuumState]]): vacuum
  * reclaims state referenced only by manifests older than
  * CURRENT − keepVersions and truncates those snapshots, so reclaimed
  * versions are REFUSED (never half-served), CURRENT and surviving
  * as-of versions are untouched, commit orphans are reclaimed, and
  * re-running vacuum is idempotent. One test per ledger — the five
  * layouts wrap the same shared sweep. */
class VacuumSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"vacuum_$tag").toString

  private def docSlices(base: String): (DataFrame, DataFrame, DataFrame) = {
    val docs = tables.documents
    val n = docs.count()
    val (c1, c2) = (n * 6 / 10, n * 8 / 10)
    (docs.filter($"doc_id" < c1),
      docs.filter($"doc_id" >= c1 && $"doc_id" < c2),
      docs.filter($"doc_id" >= c2))
  }

  private def plantOrphan(state: String, rel: String): Unit = {
    val d = new java.io.File(state, rel)
    d.mkdirs()
    val w = new java.io.PrintWriter(new java.io.File(d, "junk"))
    w.println("orphan"); w.close()
  }

  test("DedupLedger.vacuum: refused horizon, CURRENT intact, " +
    "post-vacuum absorb equality, orphan reclamation, idempotence") {
    val base = tmp("dedup")
    val (corpus, b1, b2) = docSlices(base)
    val state = s"$base/state"
    val twin = s"$base/twin"
    DedupLedger.init(spark, state, corpus)
    DedupLedger.init(spark, twin, corpus)
    DedupLedger.absorb(spark, state, b1).collect()
    DedupLedger.absorb(spark, twin, b1).collect()
    def keySet(s: String) = DedupLedger.keys(spark, s)
      .as[String].collect().toSet
    val before = keySet(state)
    // a crashed commit's orphan part — vacuum reclaims it
    plantOrphan(state, "keys/part_00000099")
    val reclaimed = DedupLedger.vacuum(state, keepVersions = 1)
    // at least the orphan and the superseded v1 bloom payload
    assert(reclaimed >= 2, s"reclaimed=$reclaimed")
    assert(!new java.io.File(state, "keys/part_00000099").exists())
    // CURRENT state identical
    assert(keySet(state) == before)
    // horizon refusal: version 1 predates keepVersions=1 of CURRENT=2
    val e = intercept[IllegalArgumentException] {
      DedupLedger.keys(spark, state, 1L).collect()
    }
    assert(e.getMessage.contains("no manifest snapshot"), e.getMessage)
    // post-vacuum absorb equals the un-vacuumed twin's
    val got = DedupLedger.absorb(spark, state, b2)
      .collect().map(_.getLong(0)).toSet
    val want = DedupLedger.absorb(spark, twin, b2)
      .collect().map(_.getLong(0)).toSet
    assert(got == want && got.nonEmpty)
    // idempotent: everything still referenced is kept
    assert(DedupLedger.vacuum(state, keepVersions = 2) == 0L)
    assert(keySet(state) == keySet(twin))
  }

  test("MinhashLedger.vacuum: compaction leftovers reclaimed, flags " +
    "unchanged, pre-horizon as-of refused") {
    val base = tmp("minhash")
    val (corpus, b1, b2) = docSlices(base)
    val state = s"$base/state"
    MinhashLedger.init(spark, state, corpus)
    MinhashLedger.absorb(spark, state, b1).collect()
    assert(MinhashLedger.compact(spark, state)) // v3: one folded part
    def sigCount(s: String) = MinhashLedger.signatures(spark, s).count()
    val before = sigCount(state)
    // part_1 + part_2 are referenced only by v1/v2 manifests now
    val reclaimed = MinhashLedger.vacuum(state, keepVersions = 1)
    assert(reclaimed == 2, s"reclaimed=$reclaimed")
    assert(sigCount(state) == before)
    intercept[IllegalArgumentException] {
      MinhashLedger.signatures(spark, state, 2L).collect()
    }
    // the ledger still absorbs and flags after vacuum; the new part
    // is referenced by CURRENT, so a further vacuum reclaims nothing
    MinhashLedger.absorb(spark, state, b2).collect()
    assert(sigCount(state) > before)
    assert(MinhashLedger.vacuum(state, keepVersions = 1) == 0L)
  }

  test("SketchLedger.vacuum: superseded full tables reclaimed, " +
    "current table and quantiles unchanged, stream continues") {
    val state = tmp("sketch") + "/state"
    SketchLedger.init(spark, state)
    val ev = tables.events
    SketchLedger.absorbSink(spark, state)(
      ev.filter($"event_id" % 2 === 0), 0L)
    SketchLedger.absorbSink(spark, state)(
      ev.filter($"event_id" % 2 === 1), 1L)
    val before = SketchLedger.table(spark, state)
      .select("event_type", "day", "n_values").collect().toSet
    // v1 (empty init table) and v2 (first batch) are pre-horizon
    val reclaimed = SketchLedger.vacuum(state, keepVersions = 1)
    assert(reclaimed == 2, s"reclaimed=$reclaimed")
    assert(SketchLedger.table(spark, state)
      .select("event_type", "day", "n_values").collect().toSet == before)
    intercept[IllegalArgumentException] {
      SketchLedger.table(spark, state, 2L).collect()
    }
    // exactly-once replay of the committed batch still no-ops
    SketchLedger.absorbSink(spark, state)(
      ev.filter($"event_id" % 2 === 1), 1L)
    assert(Ledger.readManifest(state).get.version == 3)
  }

  test("MomentLedger.vacuum: superseded moment states reclaimed, " +
    "model output unchanged, absorb continues") {
    val base = tmp("moment")
    val emb = tables.embeddings
    val state = s"$base/state"
    val twin = s"$base/twin"
    for (s <- Seq(state, twin)) {
      MomentLedger.init(spark, s)
      MomentLedger.absorb(spark, s, emb.filter($"vec_id" % 2 === 0))
    }
    val before = MomentLedger.moments(spark, state)
    val reclaimed = MomentLedger.vacuum(state, keepVersions = 1)
    assert(reclaimed == 1, s"reclaimed=$reclaimed") // v1's empty state
    val after = MomentLedger.moments(spark, state)
    assert(after.n == before.n)
    intercept[IllegalArgumentException] {
      MomentLedger.moments(spark, state, 1L)
    }
    // post-vacuum absorb equals the un-vacuumed twin's state
    val a = MomentLedger.absorb(spark, state,
      emb.filter($"vec_id" % 2 === 1))
    val b = MomentLedger.absorb(spark, twin,
      emb.filter($"vec_id" % 2 === 1))
    assert(a.n == b.n)
  }

  test("IndexLedger.vacuum: refresh leftovers (old code parts + old " +
    "centroids) reclaimed, served top-k unchanged") {
    val base = tmp("index")
    val emb = tables.embeddings
    val state = s"$base/state"
    IndexLedger.init(spark, state, emb.filter($"vec_id" % 10 < 8))
    IndexLedger.absorb(spark, state,
      emb.filter($"vec_id" % 10 >= 8)).collect()
    IndexLedger.refresh(spark, state) // v3: new centroids + 1 part
    val qs = emb.filter($"vec_id" < 10)
    def served = IndexLedger.topK(spark, state, qs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = served
    val reclaimed = IndexLedger.vacuum(state, keepVersions = 1)
    // part_1, part_2 and centroids v_1 are only referenced pre-refresh
    assert(reclaimed == 3, s"reclaimed=$reclaimed")
    assert(served == before)
    intercept[IllegalArgumentException] {
      IndexLedger.codes(spark, state, 2L).collect()
    }
    assert(IndexLedger.vacuum(state, keepVersions = 1) == 0L)
  }
}
