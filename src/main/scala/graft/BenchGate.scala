package graft

/** Machine-readable gate baselines (round-13 verdict item 1): the
  * 1.5x sweep-outlier re-measure gate in [[Bench]] and the per-stage
  * budget tripwire in [[StageBench]] `--check` read
  * `baseline_rows.json` — never the BASELINE.md markdown. The old
  * gate parser regex-scraped the markdown tables; its cell regex
  * consumed the pipe between the two query columns of the round-13
  * re-baseline table (making every second-column row invisible) and
  * "last occurrence wins" then fell through to OLDER tables —
  * including sf1/sf10 SCALE-table rows — so 70/238 queries were
  * gated against the wrong number and four (q192/q200/q212/q216)
  * against 5–7x-too-high sf1 values, i.e. effectively ungated. The
  * q192 = 19.64 s sweep artifact shipped unadjudicated in
  * BENCH_r13.json precisely because of that. The JSON is emitted by
  * tools/baseline_table.py alongside the human-readable table, so
  * the table and the gate cannot drift apart again.
  */
object BenchGate {
  import com.fasterxml.jackson.databind.ObjectMapper

  val DefaultPath = "baseline_rows.json"

  private def root(path: String) = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p))
      Some(new ObjectMapper().readTree(p.toFile))
    else None
  }

  /** Per-query gate baselines (seconds at sf0.1) from the `queries`
    * map. Empty when the file is absent → gate off. NOTE (round-14
    * advice, corrected): `baseline_rows.json` is TRACKED, so any fresh
    * worktree of a post-round-14 tree carries it and runs gated — an
    * A/B against an older tree is gate-ASYMMETRIC unless both
    * worktrees delete the file first (or point this loader elsewhere);
    * symmetric A/B protocol = `rm baseline_rows.json` in both trees. */
  def loadQueryBaseline(
      path: String = DefaultPath): Map[String, Double] =
    root(path).fold(Map.empty[String, Double]) { r =>
      val it = r.path("queries").fields()
      val b = Map.newBuilder[String, Double]
      while (it.hasNext) {
        val e = it.next()
        b += e.getKey -> e.getValue.asDouble()
      }
      b.result()
    }

  /** Per-stage budgets from the `stage_budgets` map:
    * pipeline -> (stage -> seconds at sf0.1). */
  def loadStageBudgets(
      path: String = DefaultPath): Map[String, Map[String, Double]] =
    root(path).fold(Map.empty[String, Map[String, Double]]) { r =>
      val pit = r.path("stage_budgets").fields()
      val pb = Map.newBuilder[String, Map[String, Double]]
      while (pit.hasNext) {
        val pe = pit.next()
        val sit = pe.getValue.fields()
        val sb = Map.newBuilder[String, Double]
        while (sit.hasNext) {
          val se = sit.next()
          sb += se.getKey -> se.getValue.asDouble()
        }
        pb += pe.getKey -> sb.result()
      }
      pb.result()
    }

  /** The sweep-outlier predicate, extracted so BenchSpec can assert
    * it on planted values: names of queries whose sweep measurement
    * exceeds `factor` x their baseline row (queries with no row are
    * never flagged — an absent row is "no gate", not "gate at 0"). */
  def flagged(results: Seq[(String, Double)],
      baseline: Map[String, Double],
      factor: Double = 1.5): Seq[String] =
    results.collect {
      case (n, v) if baseline.get(n).exists(b => v > factor * b) => n
    }

  /** The [[StageBench]] `--check` tripwire, extracted so BenchGateSpec
    * can assert it on planted values: one FAIL line per breach of
    * `measured` (pipeline, stage, seconds) rows against `budgets`
    * (pipeline -> stage -> seconds), empty when nothing trips. Only
    * pipelines with a budget entry are judged. */
  def stageFailures(measured: Seq[(String, String, Double)],
      budgets: Map[String, Map[String, Double]]): Seq[String] = {
    // Three clauses, ALL required to fail a budgeted stage:
    //  1. >1.5x its budget row (the stated contract);
    //  2. >0.5 s absolute move — the accretion this tripwire
    //     exists for is seconds-scale (q177 crept 10.5→14.4 s),
    //     while a 0.2 s stage routinely doubles on scheduler
    //     jitter;
    //  3. its SHARE of the pipeline grew >1.25x vs its budget
    //     share — the weather-immunity clause: the round-13 A/B
    //     proved ambient 1.37–1.54x UNIFORM inflations on a
    //     bit-identical tree, and a uniform inflation moves every
    //     absolute row while leaving shares fixed; a genuine
    //     stage accretion is precisely a share move. Without
    //     this clause the gate fires on weather every slow
    //     session and trains everyone to ignore it.
    val mTotal = measured.groupBy(_._1)
      .map { case (p, rs) => p -> rs.map(_._3).sum }
    val bTotal = budgets.map { case (p, b) => p -> b.values.sum }
    val perStage = measured.flatMap { case (pipe, st, sec) =>
      budgets.get(pipe).flatMap { b =>
        b.get(st) match {
          case Some(bud) =>
            val share = sec / math.max(mTotal(pipe), 1e-9)
            val budShare = bud / math.max(bTotal(pipe), 1e-9)
            if (sec > 1.5 * bud && sec > bud + 0.5 &&
                share > 1.25 * budShare)
              Some(
                f"""{"stage_check":"FAIL","pipeline":"$pipe","stage":"$st","sec":$sec%.3f,"budget":$bud%.3f,"ratio":${sec / bud}%.2f,"share":$share%.3f,"budget_share":$budShare%.3f}""")
            else None
          case None if sec > 2.0 => Some(
            f"""{"stage_check":"FAIL","pipeline":"$pipe","stage":"$st","sec":$sec%.3f,"budget":null,"reason":"unbudgeted new stage > 2 s"}""")
          case _ => None
        }
      }
    }
    // Fourth clause — pipeline-TOTAL tripwire (round-14 advice):
    // the share clause above cannot fire for a stage whose budget
    // share exceeds 0.8, and a correlated regression from a shared
    // feeder that inflates every stage proportionally keeps shares
    // fixed and reads as weather. A total >1.5x its budget sum AND
    // >2 s over it is caught regardless of how the excess is
    // distributed (2 s absolute slack: the round-13 ambient band
    // multiplies sub-second pipelines without meaning anything).
    val totalFails = bTotal.toSeq.flatMap { case (pipe, budSum) =>
      mTotal.get(pipe).filter(t =>
          t > 1.5 * budSum && t > budSum + 2.0)
        .map(t =>
          f"""{"stage_check":"FAIL","pipeline":"$pipe","stage":"__TOTAL__","sec":$t%.3f,"budget":$budSum%.3f,"ratio":${t / budSum}%.2f,"reason":"pipeline total over budget sum"}""")
    }
    perStage ++ totalFails
  }

  /** Canonical per-query estimator (round-16 measurement-bug fix,
    * extracted so BenchGateSpec can assert it): the MIN over every
    * successful measurement of the run — the sweep min-of-two and,
    * when a flagged query was focused-re-measured, the focused
    * min-of-two as well. The old rule REPLACED the sweep value with
    * the focused one, which let a late-session JVM artifact override
    * two healthy sweep passes (q132: sweep 1.29 s published as 8.9 s
    * because both end-of-run focused re-runs were sick; fresh-JVM
    * steady state 1.19 s). All raw measurements stay published in the
    * JSON's "sweep"/"focused" maps. */
  def canonicalValue(sweepMin: Double, focusedMin: Option[Double]): Double =
    focusedMin.fold(sweepMin)(math.min(sweepMin, _))

  /** `s` as a JSON string literal: quotes plus a full escape of
    * backslash, quote and ALL control chars (< 0x20) — a tab or CR in
    * a Spark error message or in builder-authored oracle SQL would
    * otherwise make the emitted JSON (the bench line,
    * target/bench.json, oracle_sql.json, errors.json) invalid. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** The recorded error of a failed query: the first INFORMATIVE line
    * of its exception message, at most 200 chars. An empty (non-null)
    * message falls back to the exception class — `.next()` on its
    * lines would throw from inside the failure handler and abort the
    * whole run — and a leading newline must not record an empty
    * string. */
  def errorLine(e: Throwable): String = {
    val msg = Option(e.getMessage).filter(_.nonEmpty)
      .getOrElse(e.getClass.getName)
    msg.linesIterator.find(_.trim.nonEmpty).getOrElse(msg).take(200)
  }
}
