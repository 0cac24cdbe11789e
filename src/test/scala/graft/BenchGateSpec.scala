package graft

import org.scalatest.funsuite.AnyFunSuite

/** The round-13 verdict's one real finding was in the bench
  * INSTRUMENT: the sweep-outlier gate regex-scraped BASELINE.md and
  * mis-armed 70/238 queries (second-column cells invisible,
  * last-occurrence fallthrough to sf1 scale-table rows — q192 armed
  * at 33.9 s vs its true 5.035). This suite is that bug's regression
  * fence. Round-16 restructure (round-15 verdict item 1): the old
  * version hard-coded the round-13/14 anchor rows, so every
  * legitimate anchor re-cut broke the suite. The durable invariant
  * is not any particular row VALUE but the provenance discipline
  * tools/baseline_table.py enforces: the gate file must be cut from
  * the committed anchor measurement (bench_latest.json), row for
  * row, full surface — never scraped from markdown, never filtered
  * down. That is asserted here against whatever the current anchor
  * is; the planted-outlier and round-trip behaviour tests below are
  * value-free and unchanged. */
class BenchGateSpec extends AnyFunSuite {

  private def repoFile(name: String) = {
    // tests run with cwd = repo root under sbt
    val p = java.nio.file.Paths.get(name)
    assert(java.nio.file.Files.exists(p), s"$name missing from repo root")
    p
  }

  /** The committed anchor measurement the gate must be cut from:
    * bench_latest.json's `queries` map (a verbatim graft.Bench JSON
    * line, re-cut by the same commit that re-cuts the gate file). */
  private lazy val anchor: Map[String, Double] = {
    val r = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(repoFile("bench_latest.json").toFile)
    val it = r.path("queries").fields()
    val b = Map.newBuilder[String, Double]
    while (it.hasNext) {
      val e = it.next()
      b += e.getKey -> e.getValue.asDouble()
    }
    b.result()
  }

  test("baseline_rows.json is cut from the committed anchor " +
    "(bench_latest.json) row-for-row: same full key set, every gate " +
    "row = the anchor row rounded to 3 dp") {
    val gate = BenchGate.loadQueryBaseline(
      repoFile("baseline_rows.json").toString)
    // full-surface guard: a filtered bench run must never re-cut the
    // gate (it would disarm the other ~230 rows); 238 was the count
    // when this fence was written and may only grow
    assert(anchor.size >= 238,
      s"anchor has ${anchor.size} rows, want >= 238 — a filtered run " +
        "must not become the anchor")
    assert(gate.keySet == anchor.keySet,
      s"key sets differ: only-in-gate=${gate.keySet -- anchor.keySet}, " +
        s"only-in-anchor=${anchor.keySet -- gate.keySet}")
    for ((k, v) <- anchor) {
      val expected = math.rint(v * 1000) / 1000 // baseline_table.py round(v, 3)
      assert(math.abs(gate(k) - expected) < 1e-9,
        s"$k: gate=${gate(k)} anchor=$v — gate file not cut from " +
          "bench_latest.json (re-run tools/baseline_table.py)")
    }
  }

  test("the four queries the round-13 parser disarmed are armed at " +
    "anchor-scale rows, not sf1 scale-table rows") {
    val gate = BenchGate.loadQueryBaseline(
      repoFile("baseline_rows.json").toString)
    // the old regex resolved these to sf1 scale-table rows 5-7x too
    // high (q192 at 33.9 instead of its then-true 5.035), turning the
    // gate off. The durable fence: each row equals its anchor row
    // (asserted value-free against the current anchor, so re-cuts
    // don't break this), and sits well under the historical sf1
    // mis-arm values.
    val sf1MisArms = Map(
      "q192_corpus_containment" -> 33.9,
      "q216_mojibake_audit" -> 2.2,
      "q200_ngram_ledger_risk" -> 17.4,
      "q212_char_entropy" -> 6.6)
    for ((k, sf1Row) <- sf1MisArms) {
      assert(gate.contains(k) && anchor.contains(k), s"$k missing")
      assert(math.abs(gate(k) - math.rint(anchor(k) * 1000) / 1000) < 1e-9,
        s"$k: gate=${gate(k)} anchor=${anchor(k)}")
      assert(gate(k) < sf1Row / 2,
        s"$k: gate=${gate(k)} looks like an sf1 scale-table row ($sf1Row)")
    }
  }

  test("a planted >1.5x sweep outlier is flagged for focused " +
    "re-measure; in-band and baseline-less queries are not") {
    val baseline = Map("qa" -> 1.0, "qb" -> 2.0, "qc" -> 0.5)
    val results = Seq(
      "qa" -> 1.51, // 1.51x -> flagged
      "qb" -> 2.9,  // 1.45x -> in band
      "qc" -> 0.75, // exactly 1.5x -> NOT flagged (strict >)
      "qd" -> 99.0) // no baseline row -> never flagged
    assert(BenchGate.flagged(results, baseline) == Seq("qa"))
    // the gate-off posture: empty baseline flags nothing
    assert(BenchGate.flagged(results, Map.empty).isEmpty)
  }

  test("stage tripwire: a budgeted stage trips only on all three of " +
    ">1.5x, >0.5 s over and a >1.25x share; the pipeline total and an " +
    "unbudgeted stage over 2 s trip on their own") {
    // budget sum 10 s; stage a's budget share is 0.05
    val budgets = Map("p" -> Map("a" -> 0.5, "big" -> 9.5))
    def fails(ms: (String, Double)*): Seq[String] =
      BenchGate.stageFailures(ms.map { case (st, v) => ("p", st, v) }, budgets)
    // ratio alone: a 1.6x but +0.3 s, share 0.8/13 < 1.25 x 0.05
    assert(fails("a" -> 0.8, "big" -> 12.2).isEmpty)
    // absolute move alone: big +0.7 s but 1.07x, share ~fixed
    assert(fails("a" -> 0.5, "big" -> 10.2).isEmpty)
    // share alone: a's share 0.7/5.7 but 1.4x and +0.2 s
    assert(fails("a" -> 0.7, "big" -> 5.0).isEmpty)
    // all three: a 2.4x, +0.7 s, share 1.2/10.7
    val all3 = fails("a" -> 1.2, "big" -> 9.5)
    assert(all3.size == 1 && all3.head.contains(""""stage":"a","sec":1.200"""), all3)
    // total 15.7 > 1.5 x 10 and > 10 + 2 while every share stays put
    val total = fails("a" -> 0.5, "big" -> 15.2)
    assert(total.size == 1 && total.head.contains(""""stage":"__TOTAL__""""), total)
    // a stage with no row trips over 2 s only; an unbudgeted pipeline never
    val fresh = fails("a" -> 0.5, "big" -> 9.5, "new" -> 2.1, "newer" -> 1.9)
    assert(fresh.size == 1 && fresh.head.contains(
      """"stage":"new","sec":2.100,"budget":null"""), fresh)
    assert(BenchGate.stageFailures(Seq(("q9", "x", 50.0)), budgets).isEmpty)
  }

  test("canonical estimator takes the min over sweep and focused " +
    "measurements - a sick focused re-run cannot override a healthy " +
    "sweep value (round-16 q132 post-mortem)") {
    // focused faster than sweep (the common case): focused wins
    assert(BenchGate.canonicalValue(2.0, Some(1.2)) == 1.2)
    // focused SLOWER than sweep (late-session JVM artifact): sweep wins
    assert(BenchGate.canonicalValue(1.29, Some(8.93)) == 1.29)
    // no focused re-measure ran: sweep value passes through
    assert(BenchGate.canonicalValue(0.7, None) == 0.7)
  }

  test("loadQueryBaseline/loadStageBudgets round-trip a written " +
    "gate file and return empty when the file is absent") {
    val tmp = java.nio.file.Files.createTempFile("gate", ".json")
    java.nio.file.Files.write(tmp,
      """{"queries":{"q01_x":0.378,"q192_y":5.035},
         |"stage_budgets":{"q177":{"inc/exact":4.6,"inc/near":3.2}}}"""
        .stripMargin.getBytes("UTF-8"))
    assert(BenchGate.loadQueryBaseline(tmp.toString) ==
      Map("q01_x" -> 0.378, "q192_y" -> 5.035))
    assert(BenchGate.loadStageBudgets(tmp.toString) ==
      Map("q177" -> Map("inc/exact" -> 4.6, "inc/near" -> 3.2)))
    assert(BenchGate.loadQueryBaseline("/nonexistent/gate.json").isEmpty)
    assert(BenchGate.loadStageBudgets("/nonexistent/gate.json").isEmpty)
  }

  test("jsonString escapes quote, backslash and every control char, " +
    "and the result parses back to the original string") {
    val raw = "a\tb\rc\"d\\e\u0001f\ng"
    val lit = BenchGate.jsonString(raw)
    assert(lit == "\"a\\tb\\rc\\\"d\\\\e\\u0001f\\ng\"", lit)
    assert(!lit.exists(_ < ' '), lit)
    val back = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(lit).asText()
    assert(back == raw)
  }

  test("errorLine records the first informative line, falls back to " +
    "the exception class on an empty message, and caps at 200 chars") {
    assert(BenchGate.errorLine(new RuntimeException("")) ==
      "java.lang.RuntimeException")
    assert(BenchGate.errorLine(new IllegalStateException(null: String)) ==
      "java.lang.IllegalStateException")
    assert(BenchGate.errorLine(
      new RuntimeException("\n  \n[UNRESOLVED_COLUMN] x\nplan...")) ==
      "[UNRESOLVED_COLUMN] x")
    assert(BenchGate.errorLine(new RuntimeException("y" * 500)) ==
      "y" * 200)
  }
}
