package graft.sources

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The one ledger commit protocol ([[Ledger]]): the on-disk manifest
  * format is pinned byte for byte, the maintenance commit (every
  * `compact` and row-level `purge`) keeps the micro-batch marker so a
  * replay of the committed micro-batch stays a no-op after it, and no
  * other source file carries its own copy of the protocol. */
class LedgerSpec extends SparkSpec {
  import Ledger.Manifest
  import spark.implicits._

  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"ledger_$tag").toString

  private def text(p: Path): String =
    new String(Files.readAllBytes(p), "UTF-8")

  private def snapshot(state: String, version: Long): Path =
    Paths.get(state, "manifests", f"v_$version%08d")

  // ---- the on-disk format -------------------------------------------

  /** CURRENT files exactly as the ledgers have written them: a root
    * after init (no parts), an append-only ledger, a stream-driven
    * ledger with its marker, IndexLedger's `cv=`/`dist=` lines, and a
    * CorpusIncrement root's per-increment parts. */
  private val written: Seq[(String, Manifest)] = Seq(
    "1\n" -> Manifest(1, Seq.empty),
    "3\npart_00000001\npart_00000002\npart_00000003\n" ->
      Manifest(3, Seq("part_00000001", "part_00000002", "part_00000003")),
    "5\nlastBatch=1\npart_00000001\npart_00000004\npart_00000005\n" ->
      Manifest(5, Seq("part_00000001", "part_00000004", "part_00000005"),
        Some(1L)),
    "4\nlastBatch=2\npart_00000001\npart_00000003\npart_00000004\n" +
      "cv=1\ndist=0.0731\n" ->
      Manifest(4, Seq("part_00000001", "part_00000003", "part_00000004",
        "cv=1", "dist=0.0731"), Some(2L)),
    "3\nlastBatch=1\nbatch_0\nbatch_1\n" ->
      Manifest(3, Seq("batch_0", "batch_1"), Some(1L)))

  test("a written CURRENT parses to its Manifest, and writeManifest " +
    "writes that Manifest back byte-identically (CURRENT and snapshot)") {
    written.zipWithIndex.foreach { case ((bytes, want), i) =>
      val src = tmpDir(s"fmt_src$i")
      Files.write(Paths.get(src, "CURRENT"), bytes.getBytes("UTF-8"))
      assert(Ledger.readManifest(src).contains(want), bytes)
      val dst = tmpDir(s"fmt_dst$i")
      Ledger.writeManifest(dst, want)
      assert(text(Paths.get(dst, "CURRENT")) == bytes)
      assert(text(snapshot(dst, want.version)) == bytes)
      // an identical commit writes identical bytes
      Ledger.writeManifest(dst, want)
      assert(text(Paths.get(dst, "CURRENT")) == bytes)
      assert(!Files.exists(Paths.get(dst, ".current_tmp")))
    }
  }

  test("the maintenance commit replaces the part lines with one part, " +
    "keeps the marker and the other lines, and truncates only on erase") {
    val state = tmpDir("maintain")
    val parts = Seq("part_00000001", "part_00000003", "part_00000004")
    Ledger.writeManifest(state, Manifest(3, parts.take(2) ++
      Seq("cv=1", "dist=0.0731"), Some(1L)))
    Ledger.writeManifest(state, Manifest(4, parts ++
      Seq("cv=1", "dist=0.0731"), Some(2L)))
    var seen = Seq.empty[Long]
    Ledger.maintain(state, Ledger.current(state), erase = false) { next =>
      seen :+= next
    }
    assert(text(Paths.get(state, "CURRENT")) ==
      "5\nlastBatch=2\npart_00000005\ncv=1\ndist=0.0731\n")
    assert(Files.exists(snapshot(state, 3)) && Files.exists(snapshot(state, 4)))
    Ledger.maintain(state, Ledger.current(state), erase = true) { next =>
      seen :+= next
    }
    assert(seen == Seq(5L, 6L))
    assert(Ledger.readManifest(state).contains(Manifest(6,
      Seq("part_00000006", "cv=1", "dist=0.0731"), Some(2L))))
    (3L to 5L).foreach(v => assert(!Files.exists(snapshot(state, v)), v))
    intercept[IllegalArgumentException](Ledger.readManifestAt(state, 5L))
  }

  // ---- the micro-batch marker across maintenance ---------------------

  /** One ledger's streaming surface over the sf0.001 fixture: `init`
    * on the seed, its `absorbSink`, two micro-batches, its maintenance
    * steps (each must commit one version), and what a clobbering
    * replay would change — the rows under `outDir/batch_1`, or the
    * state itself for MomentLedger, whose sink writes no output. */
  private case class Streamed(
      name: String,
      init: String => Unit,
      sink: (String, String) => (DataFrame, Long) => Unit,
      b1: DataFrame, b2: DataFrame,
      maintenance: Seq[(String, String => Unit)],
      observe: (String, String) => Seq[String])

  private lazy val (corpus, d1, d2) = {
    val docs = tables.documents
    val n = docs.count()
    val (c1, c2) = (n * 6 / 10, n * 8 / 10)
    (docs.filter($"doc_id" < c1),
      docs.filter($"doc_id" >= c1 && $"doc_id" < c2),
      docs.filter($"doc_id" >= c2))
  }
  private lazy val (seed, e1, e2) = {
    val emb = tables.embeddings
    (emb.filter($"vec_id" % 10 < 6),
      emb.filter($"vec_id" % 10 === 6 || $"vec_id" % 10 === 7),
      emb.filter($"vec_id" % 10 >= 8))
  }

  private def batchRows(state: String, out: String): Seq[String] =
    spark.read.parquet(s"$out/batch_1").collect().map(_.toString).sorted.toSeq

  private def firstDocs = d1.orderBy("doc_id").limit(5)
  private def firstVecs = e1.orderBy("vec_id").limit(5)

  private def step(op: String)(f: String => Unit): (String, String => Unit) =
    op -> f

  private def check(removed: Long): Unit =
    assert(removed > 0L, "vacuous purge")

  private lazy val streamed: Seq[Streamed] = Seq(
    Streamed("DedupLedger",
      DedupLedger.init(spark, _, corpus),
      DedupLedger.absorbSink(spark, _, _), d1, d2,
      Seq(step("compact")(s => assert(DedupLedger.compact(spark, s))),
        step("purge")(s => check(DedupLedger.purge(spark, s,
          firstDocs.select(DedupLedger.keyOf(col("text"), 5)))))),
      batchRows),
    Streamed("MinhashLedger",
      MinhashLedger.init(spark, _, corpus),
      MinhashLedger.absorbSink(spark, _, _), d1, d2,
      Seq(step("compact")(s => assert(MinhashLedger.compact(spark, s))),
        step("purge")(s => check(MinhashLedger.purge(spark, s,
          firstDocs.select("doc_id"))))),
      batchRows),
    Streamed("NgramLedger",
      NgramLedger.init(spark, _, corpus),
      NgramLedger.absorbSink(spark, _, _), d1, d2,
      Seq(step("compact")(s => assert(NgramLedger.compact(spark, s))),
        step("purge")(s => check(NgramLedger.purge(spark, s,
          firstDocs.select("doc_id", "text"))))),
      batchRows),
    Streamed("IndexLedger",
      IndexLedger.init(spark, _, seed),
      IndexLedger.absorbSink(spark, _, _), e1, e2,
      Seq(step("compact")(s => assert(IndexLedger.compact(spark, s))),
        step("purge")(s => check(IndexLedger.purge(spark, s,
          firstVecs.select("vec_id"))))),
      batchRows),
    Streamed("MomentLedger",
      MomentLedger.init(spark, _),
      (s, _) => MomentLedger.absorbSink(spark, s), e1, e2,
      Seq(step("purge")(s => check(MomentLedger.purge(spark, s, firstVecs)))),
      (s, _) => {
        val m = MomentLedger.moments(spark, s)
        Seq(m.n.toString) ++ m.sums.map(_.toString)
      }))

  /** A byte copy of a ledger root: each maintenance step starts from
    * the same two sunk micro-batches without re-running them. */
  private def copyTree(from: Path, to: Path): Unit = {
    val stream = Files.walk(from)
    try stream.iterator().asScala.foreach { p =>
      Files.copy(p, to.resolve(from.relativize(p).toString))
    } finally stream.close()
  }

  test("every ledger with a sink keeps its micro-batch marker through " +
    "compact and purge: the committed replay no-ops, id 0 is refused") {
    for (l <- streamed) {
      val sunk = Paths.get(tmpDir(s"marker_${l.name}"), "root")
      l.init(s"$sunk/state")
      l.sink(s"$sunk/state", s"$sunk/out")(l.b1, 0L)
      l.sink(s"$sunk/state", s"$sunk/out")(l.b2, 1L)
      val v = Ledger.readManifest(s"$sunk/state").get.version
      for ((op, maintain) <- l.maintenance) {
        val clue = s"${l.name}.$op"
        val root = Paths.get(tmpDir(s"marker_${l.name}_$op"), "root")
        copyTree(sunk, root)
        val (state, out) = (s"$root/state", s"$root/out")
        maintain(state)
        val after = Ledger.readManifest(state).get
        assert(after.version == v + 1, clue)
        assert(after.lastBatchId.contains(1L), clue)
        val before = l.observe(state, out)

        // crash after the commit, before the stream checkpoint
        // advanced: the committed micro-batch is delivered again
        l.sink(state, out)(l.b2, 1L)
        assert(Ledger.readManifest(state).get.version == after.version, clue)
        assert(l.observe(state, out) == before, clue)

        // a fresh checkpoint over this state restarts at micro-batch 0
        val e = intercept[IllegalArgumentException] {
          l.sink(state, out)(l.b1, 0L)
        }
        assert(e.getMessage.contains("stream/ledger mismatch"),
          s"$clue: ${e.getMessage}")
        assert(Ledger.readManifest(state).get.version == after.version, clue)
      }
    }
  }

  // ---- one mechanism --------------------------------------------------

  /** The protocol's fingerprints in source text. */
  private val needles: Seq[(String, scala.util.matching.Regex)] = Seq(
    "the CURRENT file name" -> "\"CURRENT\"".r,
    "the CURRENT temp file" -> """\.current_tmp""".r,
    "the drift guard" -> """==\s*last\s*\|\|[^\n]*==\s*last\s*\+\s*1""".r,
    "resolve-or-throw" ->
      """readManifest\([^)]*\)\s*\.getOrElse\(\s*throw""".r)

  private lazy val mainSources: Seq[(Path, String)] = {
    val stream = Files.walk(Paths.get("src/main")) // cwd = repo root
    try stream.iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .map(p => p -> Files.readString(p)).toList
    finally stream.close()
  }

  test("only sources/Ledger.scala names CURRENT, guards micro-batch " +
    "ids or resolves a manifest by throwing — each exactly once") {
    val ledger = "src/main/scala/graft/sources/Ledger.scala"
    assert(mainSources.size > 50, mainSources.size)
    for ((what, re) <- needles) {
      val hits = mainSources.map { case (p, src) =>
        p -> re.findAllIn(src).size }.filter(_._2 > 0)
      assert(hits.map { case (p, n) => (p.toString, n) } ==
        Seq(ledger -> 1), what)
    }
  }
}
