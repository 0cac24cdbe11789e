package graft.ml

import org.apache.spark.ml.evaluation.RegressionEvaluator
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.ml.regression.{RandomForestRegressionModel, RandomForestRegressor}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Train/score stage: per-site RandomForest regression predicting a
  * site's popularity rank from every *other* site's features —
  * the reference's ModelBuilder/ScorePredictor rebuilt on an MLlib
  * `VectorAssembler → RandomForestRegressor` pipeline.
  *
  * What changes vs the reference (SURVEY §3.3, §4.4):
  *  - name-based column selection via VectorAssembler instead of
  *    positional field-index slicing (Utils.scala:41-42 depended
  *    silently on schema layout);
  *  - seeds pinned everywhere (`randomSplit`, RF) — the reference was
  *    unseeded (ModelBuilder.scala:23);
  *  - the `exists` leakage semantic is preserved exactly: the feature
  *    vector includes other sites' exists flags but excludes the whole
  *    target triple (Utils.scala:39-43);
  *  - per-site failure isolation is kept: a site that cannot be scored
  *    is all-null, as the reference's empty-frame fallback leaves it;
  *  - model saves and loads run on the fits' bounded 8-way fan-out
  *    (JobRunner.scala:15,51-54) instead of one site at a time
  *    (ScorePredictor.scala:26-34): each site's model is written by
  *    the thread that fit it;
  *  - the N-way outer-join score-matrix reduce (ScorePredictor.scala:47)
  *    is replaced by one projection over the feature rows missing in
  *    some modeled site — no join, union, pivot or shuffle. The
  *    join-chain form is kept for parity testing.
  */
object Ranker {

  val Seed = 42L

  /** Feature columns for a target site: every other site's full triple
    * (reference "include everything except the target language's
    * features", Utils.scala:39-43). */
  def featureCols(sites: Seq[String], target: String): Array[String] =
    sites.sorted.filterNot(_ == target)
      .flatMap(s => Seq(s"pageviews_$s", s"rank_$s", s"exists_$s")).toArray

  /** Work data for one target: rows where the target exists (training,
    * exists=1.0) or is missing (scoring, exists=0.0), with `label` =
    * the target's rank and `features` assembled by name. */
  def workData(
      features: DataFrame, sites: Seq[String], target: String,
      exists: Boolean): DataFrame = {
    val flag = if (exists) 1.0 else 0.0
    val assembler = new VectorAssembler()
      .setInputCols(featureCols(sites, target))
      .setOutputCol("features")
    assembler
      .transform(features.filter(col(s"exists_$target") === flag))
      .withColumn("label", col(s"rank_$target"))
      .select("id", "label", "features")
  }

  private def regressor(target: String): RandomForestRegressor =
    new RandomForestRegressor() // MLlib defaults: 20 trees, depth 5 —
      .setLabelCol("label")     // matches the reference (Utils.scala:22-24)
      .setFeaturesCol("features")
      .setPredictionCol(target)
      .setSeed(Seed)

  final case class SiteModel(
      site: String, model: RandomForestRegressionModel, rmse: Double)

  /** Width of the per-site fan-out: the reference's 8-way ForkJoin
    * `.par` (JobRunner.scala:15,51-54), one thread per site below it.
    * FAIR scheduling (Sessions) shares executors between the sites'
    * concurrent jobs. */
  private val FanOut = 8

  /** Train one model per site concurrently with per-site failure
    * isolation; returns only the sites that trained successfully. With
    * `modelsDir`, each site's thread writes its model to
    * `<modelsDir>/<site>` (the reference's fail-if-exists MLlib save)
    * right after its fit, while other sites still fit. A failed fit
    * drops its site; a failed write fails the call, once every other
    * site has finished. */
  def train(
      features: DataFrame, sites: Seq[String],
      modelsDir: Option[String] = None,
      targets: Seq[String] = Seq()): Seq[SiteModel] = {
    // targets restricts which sites get a model (reference
    // --target-wikis); `sites` stays the full feature-column universe
    val toTrain = if (targets.nonEmpty) sites.filter(targets.contains)
      else sites
    graft.Overlap.map(toTrain, FanOut) { site =>
      val fitted =
        try {
          val work = workData(features, sites, site, exists = true)
          val Array(trainDf, testDf) =
            work.randomSplit(Array(0.7, 0.3), Seed)
          val model = regressor(site).fit(trainDf)
          val predictions = model.transform(
            if (testDf.isEmpty) trainDf else testDf)
          // evaluator is per-task: Params are mutable, sharing one
          // across concurrent site fits races on predictionCol
          val rmse = new RegressionEvaluator()
            .setLabelCol("label").setMetricName("rmse")
            .setPredictionCol(site).evaluate(predictions)
          Some(SiteModel(site, model, rmse))
        } catch {
          case e: Exception =>
            System.err.println(s"[ranker] train $site failed: ${e.getMessage}")
            None
        }
      // outside the isolation: a model that fit but cannot be persisted
      // fails the run, as a sequential save after the fan-out would
      for (sm <- fitted; dir <- modelsDir) sm.model.write.save(s"$dir/$site")
      fitted
    }.flatten
  }

  /** Load persisted per-site models for score-only runs (reference
    * ScorePredictor.scala:26-34: `RandomForestRegressionModel.load(new
    * File(modelsInputDir, target))`) on the same fan-out as [[train]],
    * in `targets` order, with the same per-site failure isolation — a
    * missing or corrupt model dir skips that site instead of failing
    * the run. The prediction column is re-pinned to the site name
    * exactly as the reference re-sets it after load. RMSE is not
    * persisted alongside models; loaded entries carry NaN. */
  def loadModels(modelsDir: String, targets: Seq[String]): Seq[SiteModel] =
    graft.Overlap.map(targets, FanOut) { site =>
      try {
        val m = RandomForestRegressionModel.load(s"$modelsDir/$site")
        Some(SiteModel(site, m.setPredictionCol(site), Double.NaN))
      } catch {
        case e: Exception =>
          System.err.println(s"[ranker] load $site failed: ${e.getMessage}")
          None
      }
    }.flatten

  /** Score matrix `id × modeled sites` (sorted): the feature rows missing
    * in some modeled site, each site's prediction where it is missing —
    * one projection of per-site VectorAssembler + model columns. A site
    * whose stages fail their schema check is an all-null column and adds
    * no rows (the reference's empty-frame fallback). */
  def scoreMatrix(
      features: DataFrame, sites: Seq[String],
      models: Seq[SiteModel]): DataFrame = {
    val planned = models.sortBy(_.site).map { case SiteModel(site, model, _) =>
      site -> (try {
        val assemble = new VectorAssembler()
          .setInputCols(featureCols(sites, site)).setOutputCol(s"__f_$site")
        val predict = model.copy(ParamMap.empty)
          .setFeaturesCol(s"__f_$site").setPredictionCol(s"__score_$site")
        predict.transformSchema(assemble.transformSchema(features.schema))
        Some((features.col(s"exists_$site") === 0.0,
          (df: DataFrame) => predict.transform(assemble.transform(df))))
      } catch {
        case e: Exception =>
          System.err.println(s"[ranker] score $site failed: ${e.getMessage}")
          None
      })
    }
    val live = planned.flatMap(_._2)
    val missingAny = live.map(_._1).reduceOption(_ || _).getOrElse(lit(false))
    live.foldLeft(features.filter(missingAny))((df, s) => s._2(df))
      .select(col("id") +: planned.map {
        case (site, Some((missing, _))) =>
          when(missing, col(s"__score_$site")).as(site)
        case (site, None) => lit(null).cast("double").as(site)
      }: _*)
  }

  /** The reference's whole score stage (ScorePredictor.scala:22-47): per
    * site, `model.transform` of its missing rows or an empty typed frame,
    * then the left-deep full-outer-join chain on `id` — the parity
    * reference for [[scoreMatrix]]. */
  def scoreMatrixJoinChain(
      features: DataFrame, sites: Seq[String],
      models: Seq[SiteModel]): DataFrame =
    models.sortBy(_.site).map { case SiteModel(site, model, _) =>
      try model.transform(workData(features, sites, site, exists = false))
        .select("id", site)
      catch {
        case _: Exception =>
          features.select(col("id"), lit(null).cast("double").as(site)).limit(0)
      }
    }.reduceOption(_.join(_, Seq("id"), "full_outer"))
      .getOrElse(features.select("id").limit(0))

  /** End-to-end pipeline on the events proxy domain: parse → rank →
    * feature pivot → train → score matrix of the missing cells. */
  def pipeline(spark: SparkSession, events: DataFrame): DataFrame = {
    val (fm, sites) = Features.featureMatrix(events)
    val cached = fm.cache()
    try scoreMatrix(cached, sites, train(cached, sites)).orderBy("id")
    finally { cached.unpersist(); () }
  }

  /** Per-site holdout RMSE (the reference's logged quality signal,
    * ModelBuilder.scala:33-34) as a queryable frame. */
  def rmseReport(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val (fm, sites) = Features.featureMatrix(events)
    val cached = fm.cache()
    try {
      train(cached, sites).map(sm => (sm.site, sm.rmse))
        .toDF("site", "rmse").orderBy("site")
    } finally { cached.unpersist(); () }
  }
}
