package graft.cli

import graft.ml.{Features, Ranker}
import graft.sources.{Readers, Writers}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CLI pipeline driver: the reference's four chained, flag-gated stages
  * (JobRunner.scala:37-72, ArgParser.scala:19-22) — parse → featurize →
  * train → score — over the sitelink/pagecount domain.
  *
  * The argument surface mirrors the reference's scopt config
  * (ArgParser.scala:9-22) with the same validation matrix
  * (ArgParser.scala:132-144): every action must be able to source its
  * input either from the preceding action or from a persisted path.
  */
object Main {

  final case class Params(
      parse: Boolean = false,
      extract: Boolean = false,
      build: Boolean = false,
      score: Boolean = false,
      sitelinks: Option[String] = None,
      pagecounts: Option[String] = None,
      rawData: Option[String] = None,
      parsedData: Option[String] = None,
      featureData: Option[String] = None,
      modelsDir: Option[String] = None,
      outputDir: String = "output",
      targetSites: Seq[String] = Seq(),
      local: Boolean = false,
      singleFileOutput: Boolean = false)

  /** Hand-rolled parser (no external CLI dependency) with the
    * reference's option surface — long names and short aliases match
    * ArgParser.scala:29-130 (`--raw-sitelinks`/`-l`/`-r`/`-p`/`-f`/
    * `-m`/`-o`/`-a`/`-x`/`-b`/`-s`/`-t`). Returns an error message
    * instead of a config when validation fails. */
  def parseArgs(args: Array[String]): Either[String, Params] = {
    def loop(rest: List[String], p: Params): Either[String, Params] =
      rest match {
        case Nil => Right(p)
        case ("--parse-raw-data" | "-a") :: t => loop(t, p.copy(parse = true))
        case ("--extract-features" | "-x") :: t =>
          loop(t, p.copy(extract = true))
        case ("--build-models" | "-b") :: t => loop(t, p.copy(build = true))
        case ("--score-items" | "-s") :: t => loop(t, p.copy(score = true))
        case ("--local" | "-l") :: t => loop(t, p.copy(local = true))
        case "--single-file" :: t => loop(t, p.copy(singleFileOutput = true))
        case "--raw-sitelinks" :: v :: t => loop(t, p.copy(sitelinks = Some(v)))
        case "--raw-pagecounts" :: v :: t =>
          loop(t, p.copy(pagecounts = Some(v)))
        case ("--raw-data" | "-r") :: v :: t => loop(t, p.copy(rawData = Some(v)))
        case ("--parsed-data" | "-p") :: v :: t =>
          loop(t, p.copy(parsedData = Some(v)))
        case ("--feature-data" | "-f") :: v :: t =>
          loop(t, p.copy(featureData = Some(v)))
        case ("--models-dir" | "-m") :: v :: t =>
          loop(t, p.copy(modelsDir = Some(v)))
        case ("--output-dir" | "-o") :: v :: t => loop(t, p.copy(outputDir = v))
        case ("--target-wikis" | "-t") :: v :: t =>
          loop(t, p.copy(targetSites = v.split(",").toSeq.filter(_.nonEmpty)))
        case other :: _ => Left(s"unknown or incomplete option: $other")
      }
    loop(args.toList, Params()).flatMap(check)
  }

  /** Validation matrix parity with reference ArgParser.scala:132-144. */
  def check(p: Params): Either[String, Params] = {
    if (!(p.parse || p.extract || p.build || p.score))
      Left("no action requested")
    else if (p.parse && p.rawData.isEmpty
      && (p.sitelinks.isEmpty || p.pagecounts.isEmpty))
      Left("--parse-raw-data needs --raw-data or --sitelinks + --pagecounts")
    else if (p.extract && !p.parse && p.parsedData.isEmpty)
      Left("--extract-features needs --parse-raw-data or --parsed-data")
    else if (p.build && !p.extract && p.featureData.isEmpty)
      Left("--build-models needs --extract-features or --feature-data")
    else if (p.score && !p.build
      && (p.featureData.isEmpty || p.modelsDir.isEmpty) && !p.extract)
      Left("--score-items needs --build-models or --feature-data + --models")
    else Right(p)
  }

  /** Run the configured stages; returns the final frame of the last
    * stage for inspection (score matrix, feature matrix, or parsed). */
  def run(spark: SparkSession, p: Params): DataFrame = {
    val layout = Writers.layout(p.outputDir)

    val parsed: Option[DataFrame] =
      if (p.parse) {
        val df = p.rawData match {
          case Some(raw) => Readers.rawData(spark, raw).toDF()
          case None =>
            Readers.parseRaw(spark, p.sitelinks.get, p.pagecounts.get).toDF()
        }
        Writers.parquet(df, layout.parsedData)
        Some(df)
      } else p.parsedData.map(path => Readers.parsedParquet(spark, path).toDF())

    if (!(p.extract || p.build || p.score)) return parsed.get

    val (features, sites) =
      if (p.extract || p.featureData.isEmpty) {
        // the pipeline's long form drops `title`: feature grain is
        // (id, site). Only touch `parsed` on this branch — a
        // --feature-data invocation has no parse stage to read from.
        val long = parsed.get
          .groupBy("id", "site").agg(sum("pageviews").as("pageviews"))
        val (fm, s) = Features.featureMatrixFromParsed(long)
        if (p.extract) Writers.parquet(fm, layout.featureData)
        (fm, s)
      } else {
        val fm = spark.read.parquet(p.featureData.get)
        val s = fm.columns.filter(_.startsWith("exists_"))
          .map(_.stripPrefix("exists_")).toSeq
        (fm, s)
      }

    if (!(p.build || p.score)) return features

    val cached = features.cache()
    try {
      // model fan-out restricted to --target-wikis when given
      // (reference ArgParser.scala:123-127, JobRunner.scala:47-50)
      val models =
        if (p.score && !p.build && p.modelsDir.isDefined)
          // score-only mode LOADS persisted models — the reference's
          // ScorePredictor.scala:26-34 behavior; retraining here would
          // silently charge a full fit to a user who built yesterday
          Ranker.loadModels(p.modelsDir.get,
            if (p.targetSites.nonEmpty) sites.filter(p.targetSites.contains)
            else sites)
        else Ranker.train(cached, sites,
          modelsDir = Option.when(p.build)(layout.models),
          targets = p.targetSites)
      if (p.score) {
        val matrix = Ranker.scoreMatrix(cached, sites, models).orderBy("id")
        Writers.csv(matrix, layout.predictions, p.singleFileOutput)
        matrix
      } else cached
    } finally { cached.unpersist(); () }
  }

  def main(args: Array[String]): Unit =
    parseArgs(args) match {
      case Left(err) =>
        System.err.println(s"[graft] $err")
        sys.exit(2)
      case Right(p) =>
        val spark = graft.Sessions.builder(
          "graft-translation-recs",
          master = if (p.local) Some("local[*]") else None).getOrCreate()
        try run(spark, p)
        finally spark.stop()
    }
}
