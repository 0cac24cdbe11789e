package graft

import graft.ml.{Features, Ranker, Recommender}
import org.apache.spark.sql.functions._

class MlSpec extends SparkSpec {
  import spark.implicits._

  lazy val parsed = Features.parse(tables.events)
  lazy val sites = Features.siteList(parsed)
  lazy val fm = Features.pivotFeatures(Features.ranked(parsed), sites).cache()
  lazy val models = Ranker.train(fm, sites)

  test("rank is in (0,1], max 1 per site, monotone in pageviews") {
    val r = Features.ranked(parsed)
    assert(r.filter(col("rank") <= 0 || col("rank") > 1).count() == 0)
    val perSiteMax = r.groupBy("site").agg(max("rank").as("m"))
    assert(perSiteMax.filter(col("m") =!= 1.0).count() == 0)
    // monotone: rank order matches pageviews order within site
    val viol = r.as("a").join(r.as("b"),
      col("a.site") === col("b.site")
        && col("a.pageviews") < col("b.pageviews")
        && col("a.rank") >= col("b.rank"))
    assert(viol.count() == 0)
  }

  test("feature matrix layout: id + sorted site triples, no nulls") {
    val expected = "id" +: sites.sorted.flatMap(s =>
      Seq(s"pageviews_$s", s"rank_$s", s"exists_$s"))
    assert(fm.columns.toSeq == expected)
    val nullCount = fm.select(
      fm.columns.map(c => sum(when(col(c).isNull, 1).otherwise(0)).as(c)): _*)
      .collect()(0).toSeq.map(_.asInstanceOf[Long]).sum
    assert(nullCount == 0)
  }

  test("workData excludes the target triple, keeps exists leakage") {
    val target = sites.head
    val cols = Ranker.featureCols(sites, target)
    assert(!cols.exists(_.endsWith(s"_$target")))
    assert(cols.count(_.startsWith("exists_")) == sites.size - 1)
    val wd = Ranker.workData(fm, sites, target, exists = true)
    assert(wd.columns.toSeq == Seq("id", "label", "features"))
    // training rows are exactly the exists=1 rows
    assert(wd.count() == fm.filter(col(s"exists_$target") === 1.0).count())
  }

  test("train fits every site with a finite rmse below 0.5") {
    assert(models.map(_.site).toSet == sites.toSet,
      s"trained=${models.map(_.site)}")
    models.foreach(m =>
      assert(!m.rmse.isNaN && m.rmse < 0.5, s"${m.site} rmse=${m.rmse}"))
  }

  /** Equal as row multisets over the same column set: `exceptAll` both
    * ways, with columns in sorted order on both sides. */
  def sameRows(
      a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame): Boolean = {
    val aCanon = a.select(a.columns.sorted.map(col): _*)
    val bCanon = b.select(b.columns.sorted.map(col): _*)
    a.columns.sorted.sameElements(b.columns.sorted) &&
      aCanon.exceptAll(bCanon).count() == 0 &&
      bCanon.exceptAll(aCanon).count() == 0
  }

  test("score matrix: one projection equals the reference join-chain") {
    val a = Ranker.scoreMatrix(fm, sites, models)
    val b = Ranker.scoreMatrixJoinChain(fm, sites, models)
    assert(a.columns.toSeq == "id" +: sites.sorted)
    assert(sameRows(a, b))
  }

  test("predictions are within the label range (0,1]") {
    val m = Ranker.scoreMatrix(fm, sites, models)
    val cells = m.select(explode(array(sites.map(col): _*)).as("score"))
      .filter(col("score").isNotNull)
    assert(cells.filter(col("score") < 0 || col("score") > 1).count() == 0)
    assert(cells.count() > 0, "no missing cells scored — proxy id grain wrong")
  }

  test("score matrix with no models: column id only, no rows") {
    val m = Ranker.scoreMatrix(fm, sites, Seq())
    assert(m.columns.toSeq == Seq("id"))
    assert(m.count() == 0)
  }

  test("score matrix: a modeled site with no missing rows is an all-null " +
    "column, columns in sorted site order") {
    val full = sites.sorted.last
    val present = fm.filter(col(s"exists_$full") === 1.0)
    val m = Ranker.scoreMatrix(present, sites, models.reverse)
    assert(m.columns.toSeq == "id" +: sites.sorted)
    assert(m.filter(col(full).isNotNull).count() == 0)
    assert(m.count() > 0)
    assert(sameRows(m, Ranker.scoreMatrixJoinChain(present, sites, models)))
  }

  test("score matrix: a model for a site with no exists column is an " +
    "all-null column and adds no rows") {
    val ghost = Ranker.SiteModel("aaa_nosuchwiki", models.head.model, Double.NaN)
    val m = Ranker.scoreMatrix(fm, sites, models :+ ghost)
    assert(m.columns.toSeq == "id" +: (ghost.site +: sites.sorted))
    assert(m.schema(ghost.site).dataType == org.apache.spark.sql.types.DoubleType)
    assert(m.filter(col(ghost.site).isNotNull).count() == 0)
    assert(sameRows(m.drop(ghost.site), Ranker.scoreMatrix(fm, sites, models)))
    assert(sameRows(m, Ranker.scoreMatrixJoinChain(fm, sites, models :+ ghost)))
  }

  test("model save/load round-trip predicts identically") {
    val target = sites.head
    val models = Ranker.train(fm, Seq(target) ++ sites.filterNot(_ == target))
    val sm = models.find(_.site == target).get
    val dir = java.nio.file.Files.createTempDirectory("graft-model").toString
    sm.model.write.overwrite().save(s"$dir/$target")
    val loaded = org.apache.spark.ml.regression.RandomForestRegressionModel
      .load(s"$dir/$target")
    val wd = Ranker.workData(fm, sites, target, exists = false)
    val orig = sm.model.transform(wd).select("id", target)
    val rt = loaded.transform(wd).select("id", target)
    assert(orig.exceptAll(rt).count() == 0)
  }

  test("train writes each site's model from its own fan-out thread: a " +
    "failed write fails the call only after every other site is " +
    "written; loadModels skips missing sites and keeps targets order") {
    val dir = java.nio.file.Files.createTempDirectory("graft-models").toString
    // a non-empty <dir>/<site> makes that site's fail-if-exists save throw
    val blocked = sites.sorted.head
    val clash = java.nio.file.Paths.get(dir, blocked)
    java.nio.file.Files.createDirectories(clash)
    java.nio.file.Files.writeString(clash.resolve("occupied"), "x")
    val err = intercept[java.io.IOException](Ranker.train(fm, sites, Some(dir)))
    assert(err.getMessage.contains(blocked), err.getMessage)
    // when train returned, no fan-out thread was still writing
    val alive = Thread.getAllStackTraces.keySet.toArray(new Array[Thread](0))
      .filter(t => t.isAlive && t.getName.startsWith("graft-overlap-"))
    assert(alive.isEmpty, alive.map(_.getName).mkString(", "))
    val written = sites.filterNot(_ == blocked)
    assert(written.nonEmpty)
    written.foreach(s =>
      org.apache.spark.ml.regression.RandomForestRegressionModel
        .load(s"$dir/$s"))
    // loads come back in targets order; the blocked dir (no model in
    // it) and a site with no dir at all are skipped
    val targets = ("nosuchwiki" +: sites.sorted.reverse)
    val loaded = Ranker.loadModels(dir, targets)
    assert(loaded.map(_.site) == targets.filter(written.contains))
    loaded.foreach(sm =>
      assert(sm.model.getPredictionCol == sm.site && sm.rmse.isNaN))
  }

  test("ALS recommender: k recs per customer, seeded-reproducible") {
    val recs = Recommender.recommend(tables.lineitem, tables.orders, k = 5)
    val perUser = recs.groupBy("o_custkey").count()
    assert(perUser.filter(col("count") =!= 5).count() == 0,
      "every factorized customer gets exactly k recommendations")
    assert(recs.count() > 0)
    // same seed + same input => identical recommendation sets
    val again = Recommender.recommend(tables.lineitem, tables.orders, k = 5)
    assert(recs.select("o_custkey", "l_partkey")
      .exceptAll(again.select("o_custkey", "l_partkey")).count() == 0)
  }

  test("ALS recovers planted low-rank structure: holdout RMSE beats " +
    "the global-mean predictor") {
    import spark.implicits._
    // rank-2 planted structure: 40 users x 30 items in 2x2 taste
    // blocks plus a deterministic per-cell wobble; 70% of cells kept.
    // A mean predictor can't see the blocks; a factorizer must.
    val cells = for {
      u <- 0 until 40; i <- 0 until 30
      if (u * 31 + i * 17) % 10 < 7
      base = if ((u < 20) == (i < 15)) 40.0f else 10.0f
    } yield (u, i, base + ((u * 7 + i * 13) % 5).toFloat)
    val planted = cells.toDF("user", "item", "rating")
    val (alsRmse, baseline) = Recommender.rmseVsMean(planted)
    assert(alsRmse.isFinite && baseline.isFinite)
    assert(alsRmse < 0.5 * baseline,
      s"ALS rmse $alsRmse did not recover structure (mean $baseline)")
  }
}
