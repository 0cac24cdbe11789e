package graft

import java.nio.file.Files
import graft.cli.Main
import org.apache.spark.sql.functions._

/** End-to-end t1 smoke (SURVEY §5.2.4): fixture TSVs → parse →
  * featurize → train → score via the CLI driver, pinned seeds,
  * shape + reproducibility assertions. */
class PipelineSpec extends SparkSpec {

  lazy val dir: String = Files.createTempDirectory("graft-e2e").toString
  lazy val (slPath, pcPath, _) = Fixtures.write(dir)

  test("arg validation matrix") {
    assert(Main.parseArgs(Array()).isLeft)
    assert(Main.parseArgs(Array("--extract-features")).isLeft)
    assert(Main.parseArgs(
      Array("--parse-raw-data", "--raw-sitelinks", "x")).isLeft)
    assert(Main.parseArgs(Array(
      "--parse-raw-data", "--raw-sitelinks", "x", "--raw-pagecounts", "y")).isRight)
    assert(Main.parseArgs(Array(
      "--extract-features", "--parsed-data", "p")).isRight)
    assert(Main.parseArgs(Array("--bogus")).isLeft)
  }

  test("full pipeline: parse → features → models → scores") {
    val p = Main.Params(
      parse = true, extract = true, build = true, score = true,
      sitelinks = Some(slPath), pagecounts = Some(pcPath),
      outputDir = s"$dir/out1")
    val matrix = Main.run(spark, p)
    // schema: id + one double column per site that had missing items
    assert(matrix.columns.head == "id")
    assert(matrix.columns.length > 1)
    assert(matrix.count() > 0)
    // scores stay within the label range
    val scoreCols = matrix.columns.drop(1)
    val bad = scoreCols.map(c =>
      matrix.filter(col(c) < 0 || col(c) > 1).count()).sum
    assert(bad == 0)
    // artifacts on disk: parsed + feature parquet, models, predictions
    val base = new java.io.File(s"$dir/out1")
    val entries = base.listFiles().map(_.getName)
    assert(entries.exists(_.endsWith("_parsedData")))
    assert(entries.exists(_.endsWith("_featureData")))
    assert(entries.exists(_.endsWith("_models")))
    assert(entries.exists(_.endsWith("_predictions")))
  }

  test("--target-wikis restricts the score matrix columns") {
    val p = Main.Params(
      parse = true, extract = true, build = true, score = true,
      sitelinks = Some(slPath), pagecounts = Some(pcPath),
      targetSites = Seq("enwiki", "dewiki"),
      outputDir = s"$dir/out_t")
    val matrix = Main.run(spark, p)
    assert(matrix.columns.toSet.subsetOf(Set("id", "enwiki", "dewiki")))
    assert(matrix.columns.length <= 3)
  }

  test("score-only run loads persisted models (no retrain) from --models-dir") {
    // run A: build + save models + score
    val pA = Main.Params(
      parse = true, extract = true, build = true, score = true,
      sitelinks = Some(slPath), pagecounts = Some(pcPath),
      outputDir = s"$dir/out_load_a")
    val matrixA = Main.run(spark, pA)
    val baseA = new java.io.File(s"$dir/out_load_a").listFiles()
    val fmPath = baseA.find(_.getName.endsWith("_featureData")).get.getPath
    val modelsPath = baseA.find(_.getName.endsWith("_models")).get.getPath
    val savedSites = new java.io.File(modelsPath).listFiles().map(_.getName)
    assert(savedSites.length > 1)
    // delete one site's persisted model: if run B really LOADS (and does
    // not retrain), that site's column must vanish from its matrix —
    // a retrain would regenerate it
    val dropped = savedSites.sorted.head
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(s"$modelsPath/$dropped"))
    // run B: score-only, fresh params, sourced from persisted artifacts
    val pB = Main.Params(
      score = true, featureData = Some(fmPath), modelsDir = Some(modelsPath),
      outputDir = s"$dir/out_load_b")
    val matrixB = Main.run(spark, pB)
    assert(!matrixB.columns.contains(dropped))
    assert(matrixB.columns.toSet == matrixA.columns.toSet - dropped)
    // surviving sites score identically to run A's in-session models
    val shared = matrixB.columns.toSeq
    val a = matrixA.select(shared.head, shared.tail: _*)
      .collect().map(_.toString).sorted
    val b = matrixB.collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  test("a build-only run and a score-only run each run an exact job " +
    "count") {
    Main.run(spark, Main.Params(
      parse = true, extract = true,
      sitelinks = Some(slPath), pagecounts = Some(pcPath),
      outputDir = s"$dir/out_jobs_x"))
    def only(out: String, suffix: String): String =
      new java.io.File(out).listFiles()
        .find(_.getName.endsWith(suffix)).get.getPath
    val fmPath = only(s"$dir/out_jobs_x", "_featureData")
    val build = Trace.of(spark)(Main.run(spark, Main.Params(
      build = true, featureData = Some(fmPath),
      outputDir = s"$dir/out_jobs_b"))).jobs
    val score = Trace.of(spark)(Main.run(spark, Main.Params(
      score = true, featureData = Some(fmPath),
      modelsDir = Some(only(s"$dir/out_jobs_b", "_models")),
      outputDir = s"$dir/out_jobs_s"))).jobs
    // the per-site model writes and loads add no job: they move on the
    // fits' fan-out, not out of it. Score is 30 model-load jobs, the
    // feature read's footer job, and 4 jobs of the id-ordered csv write:
    // the score matrix itself is one projection of the cached features,
    // with no union-branch or pivot stage of its own
    assert((build.length, score.length) == ((71, 35)),
      (build ++ score).map(_.name).mkString(", "))
  }

  test("an extract-only run reads persisted parsed data without a " +
    "footer-inference job") {
    Main.run(spark, Main.Params(
      parse = true, sitelinks = Some(slPath), pagecounts = Some(pcPath),
      outputDir = s"$dir/out_pq_p"))
    val parsedPath = new java.io.File(s"$dir/out_pq_p").listFiles()
      .find(_.getName.endsWith("_parsedData")).get.getPath
    val jobs = Trace.of(spark)(Main.run(spark, Main.Params(
      extract = true, parsedData = Some(parsedPath),
      outputDir = s"$dir/out_pq_x"))).jobs
    assert(jobs.nonEmpty)
    val inferred = jobs.filter(j =>
      !j.inQuery && j.name.startsWith("parquet at Readers.scala"))
    assert(inferred.isEmpty, jobs.mkString(", "))
  }

  test("--build-models sources --feature-data without a parse stage") {
    // ADVICE: this validation-accepted path used to crash on the eager
    // `parsed.get` before the feature branch was consulted
    val pA = Main.Params(
      parse = true, extract = true,
      sitelinks = Some(slPath), pagecounts = Some(pcPath),
      outputDir = s"$dir/out_fd_a")
    Main.run(spark, pA)
    val fmPath = new java.io.File(s"$dir/out_fd_a").listFiles()
      .find(_.getName.endsWith("_featureData")).get.getPath
    val pB = Main.Params(
      build = true, featureData = Some(fmPath),
      outputDir = s"$dir/out_fd_b")
    val features = Main.run(spark, pB)
    assert(features.count() > 0)
    assert(new java.io.File(s"$dir/out_fd_b").listFiles()
      .exists(_.getName.endsWith("_models")))
  }

  test("reference lite fixture end-to-end: --parse-raw-data " +
    "--raw-data <lite.tsv> --extract-features --build-models " +
    "--score-items") {
    // the reference repo's own checked-in sample
    // (lite-sitelinks-pagecounts.tsv, 2,615 data rows + header with a
    // leading unnamed index column — reference reader
    // DataGatherer.scala:52-59), copied verbatim into test resources:
    // the one input the reference demonstrably ran, driven through
    // the full four-action CLI
    val lite = getClass.getResource("/lite-sitelinks-pagecounts.tsv")
    assert(lite != null, "lite fixture missing from test resources")
    val litePath = lite.getPath

    // parse-only first: the S2 reader must bind columns BY NAME past
    // the fixture's leading index column and keep every complete row
    val parsed = Main.run(spark, Main.Params(
      parse = true, rawData = Some(litePath),
      outputDir = s"$dir/out_lite_p"))
    assert(parsed.count() == 2615L)
    assert(parsed.select("site").distinct().count() == 269L)

    // full four-action run; --target-wikis bounds the RF fan-out to
    // three sites (269 independent fits would be a minutes-long spec
    // for no extra coverage — the fan-out breadth is PipelineSpec's
    // earlier cases' concern)
    def full(n: Int) = Main.run(spark, Main.Params(
      parse = true, extract = true, build = true, score = true,
      rawData = Some(litePath),
      targetSites = Seq("enwiki", "dewiki", "frwiki"),
      outputDir = s"$dir/out_lite_$n"))
    val matrix = full(1)
    assert(matrix.count() > 0)
    assert(matrix.columns.head == "id")
    assert(matrix.columns.toSet.subsetOf(
      Set("id", "enwiki", "dewiki", "frwiki")))

    // persisted feature matrix: one (pageviews, rank, exists) triple
    // per site — all 269 wikis of the fixture
    val fmPath = new java.io.File(s"$dir/out_lite_1").listFiles()
      .find(_.getName.endsWith("_featureData")).get.getPath
    val fm = spark.read.parquet(fmPath)
    assert(fm.columns.count(_.startsWith("exists_")) == 269)
    assert(fm.columns.count(_.startsWith("rank_")) == 269)
    assert(fm.columns.count(_.startsWith("pageviews_")) == 269)
    assert(fm.count() == 23L) // one row per item id in the fixture

    // seeds pinned: a rerun reproduces the score matrix exactly
    Thread.sleep(1100) // distinct timestamped layout dirs
    val again = full(2)
    assert(matrix.collect().map(_.toString).sorted
      .sameElements(again.collect().map(_.toString).sorted))
  }

  test("pipeline is reproducible with pinned seeds") {
    def run(n: Int) = {
      val p = Main.Params(
        parse = true, extract = true, build = true, score = true,
        sitelinks = Some(slPath), pagecounts = Some(pcPath),
        outputDir = s"$dir/out_rep$n")
      Main.run(spark, p)
    }
    val a = run(1).collect().map(_.toString).sorted
    Thread.sleep(1100) // distinct timestamped layout dirs
    val b = run(2).collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }
}
