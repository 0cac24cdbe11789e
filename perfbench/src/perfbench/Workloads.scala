package perfbench

import java.io.File
import scala.collection.mutable
import graft.cli.{Main => Cli}
import graft.ml.Ranker
import graft.sources.{CorpusIncrement, IndexLedger}
import org.apache.spark.ml.evaluation.RegressionEvaluator
import org.apache.spark.ml.regression.RandomForestRegressionModel
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The untimed verdict on one pass's outputs.
  *  - `errors`: failed correctness gates (the pass counts as failed);
  *  - `hash`: an order-independent digest of the pass's output;
  *  - `values`: ratios and quality figures measured on the output. */
final case class Check(
    errors: Seq[String], hash: String, values: Map[String, Double])

/** One benchmark workload: the timed program calls of a pass, and the
  * untimed checks on what the pass left under its directory. */
trait Workload {
  /** Run the pass's program calls under `dir`, each inside a span. */
  def pass(dir: String, span: Spans): Unit

  /** Correctness gates and output measurements, after the pass. */
  def check(dir: String): Check

  /** Quality figures that cost extra Spark work; run once per run,
    * after the last pass's check, before its directory is deleted. */
  def quality(dir: String): Map[String, Double] = Map.empty

  /** Whether a pass whose output hash differs from the first pass's
    * fails, or is only reported as a finding. */
  def hashMustRepeat: Boolean
}

object Workload {
  def apply(name: String, spark: SparkSession, in: String,
      manifest: Map[String, Any]): Workload = name match {
    case "translate" => new Translate(spark, in)
    case "refresh" => new Refresh(spark, in, manifest)
    case "search" => new Search(spark, in, manifest)
    case other => throw new IllegalArgumentException(s"no workload $other")
  }

  /** Order-independent digest of a frame's rows. */
  def digest(df: DataFrame): String = {
    val r = df.select(sum(xxhash64(df.columns.map(col).toIndexedSeq: _*)
      .cast("decimal(38,0)")).cast("string"), count(lit(1))).head()
    s"${r.getString(0)}/${r.getLong(1)}"
  }
}

/** The paper's job: `cli.Main.run` one flag-gated stage at a time
  * (parse, extract, build, score), each stage reading the previous
  * stage's persisted output, as the reference's JobRunner chains them. */
final class Translate(spark: SparkSession, in: String) extends Workload {

  val hashMustRepeat = false

  /** The one entry of `dir` whose name ends with `suffix` (the CLI
    * writes `<timestamp>_<stage>` directories). */
  private def only(dir: String, suffix: String): String = {
    val hits = Option(new File(dir).listFiles).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(suffix))
    require(hits.length == 1,
      s"expected one *$suffix under $dir, found ${hits.length}")
    hits.head.getPath
  }

  def pass(dir: String, span: Spans): Unit = {
    val p = Cli.Params()
    span("sources.parse") {
      Cli.run(spark, p.copy(parse = true,
        sitelinks = Some(s"$in/sitelinks.tsv"),
        pagecounts = Some(s"$in/pagecounts.txt"), outputDir = s"$dir/a"))
    }
    val parsed = only(s"$dir/a", "_parsedData")
    span("ml.featurize") {
      Cli.run(spark, p.copy(extract = true, parsedData = Some(parsed),
        outputDir = s"$dir/x"))
    }
    val features = only(s"$dir/x", "_featureData")
    span("ml.train") {
      Cli.run(spark, p.copy(build = true, featureData = Some(features),
        outputDir = s"$dir/b"))
    }
    val models = only(s"$dir/b", "_models")
    span("ml.score") {
      Cli.run(spark, p.copy(score = true, featureData = Some(features),
        modelsDir = Some(models), outputDir = s"$dir/s"))
    }
  }

  private def sitesOf(features: DataFrame): Seq[String] =
    features.columns.filter(_.startsWith("exists_"))
      .map(_.stripPrefix("exists_")).sorted.toSeq

  private def modelSites(dir: String): Seq[String] =
    Option(new File(only(s"$dir/b", "_models")).listFiles)
      .getOrElse(Array.empty[File]).filter(_.isDirectory)
      .map(_.getName).sorted.toSeq

  def check(dir: String): Check = {
    val errors = mutable.ArrayBuffer.empty[String]
    val features = spark.read.parquet(only(s"$dir/x", "_featureData"))
    val sites = sitesOf(features)
    val modeled = modelSites(dir)
    // Ranker.train drops a site whose fit failed without failing the
    // run: a missing model would otherwise read as a faster pass
    if (modeled != sites)
      errors += s"models written for ${modeled.size} of ${sites.size} sites"
    val pred = spark.read.option("header", "true")
      .csv(only(s"$dir/s", "_predictions"))
    if (pred.columns.toSeq != "id" +: modeled)
      errors += s"score matrix columns ${pred.columns.mkString(",")}"
    if (modeled.nonEmpty) {
      val expected = features
        .filter(modeled.map(s => col(s"exists_$s") === 0.0).reduce(_ || _))
        .select("id")
      val got = pred.select("id")
      val missing = expected.except(got).count()
      val extra = got.except(expected).count()
      val dups = got.count() - got.distinct().count()
      if (missing + extra + dups > 0)
        errors += s"score matrix rows: $missing missing, $extra extra, " +
          s"$dups duplicate ids"
    }
    Check(errors.toSeq, Workload.digest(pred), Map(
      "ml.train.models_ok_ratio" ->
        modeled.size.toDouble / math.max(sites.size, 1)))
  }

  /** Mean per-site holdout RMSE of the persisted models, on the same
    * seeded split `Ranker.train` evaluates on. */
  override def quality(dir: String): Map[String, Double] = {
    val features = spark.read.parquet(only(s"$dir/x", "_featureData"))
    val sites = sitesOf(features)
    val models = only(s"$dir/b", "_models")
    val rmses = modelSites(dir).map { s =>
      val model = RandomForestRegressionModel.load(s"$models/$s")
        .setPredictionCol(s)
      val work = Ranker.workData(features, sites, s, exists = true)
      val Array(train, test) =
        work.randomSplit(Array(0.7, 0.3), Ranker.Seed)
      new RegressionEvaluator().setLabelCol("label").setMetricName("rmse")
        .setPredictionCol(s)
        .evaluate(model.transform(if (test.isEmpty) train else test))
    }
    Map("holdout_rmse" -> rmses.sum / math.max(rmses.size, 1))
  }
}

/** The nightly corpus refresh: `CorpusIncrement.init` on the history,
  * `increments` consecutive `increment` calls, then `trainingShards`. */
final class Refresh(
    spark: SparkSession, in: String, manifest: Map[String, Any])
    extends Workload {

  val hashMustRepeat = true

  private val bounds = manifest("bounds").asInstanceOf[Seq[Any]]
    .map(_.toString.toDouble.toLong)
  private val increments = bounds.size - 1

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("lang", StringType),
    StructField("source", StringType), StructField("text", StringType)))

  private def docs: DataFrame = spark.read.option("header", "true")
    .option("sep", "\t").option("quote", "\u0000").schema(schema)
    .csv(s"$in/docs.tsv")

  private def batch(d: DataFrame, i: Int): DataFrame =
    d.filter(col("doc_id") >= bounds(i) && col("doc_id") < bounds(i + 1))

  /** doc_id -> (kind, n_email, n_phone, n_ip); kind 0 original,
    * 1 planted exact duplicate, 2 planted near-duplicate. */
  private lazy val truth: Map[Long, (Int, Long, Long, Long)] = {
    val src = scala.io.Source.fromFile(s"$in/truth.tsv", "UTF-8")
    try src.getLines().drop(1).map { l =>
      val f = l.split('\t')
      f(0).toLong -> ((f(1).toInt, f(3).toLong, f(4).toLong, f(5).toLong))
    }.toMap
    finally src.close()
  }

  def pass(dir: String, span: Spans): Unit = {
    val root = s"$dir/root"
    val d = docs
    span("sources.corpus_init") {
      CorpusIncrement.init(spark, root, d.filter(col("doc_id") < bounds(0)))
    }
    for (i <- 0 until increments) span("sources.corpus_increment") {
      CorpusIncrement.increment(spark, root, batch(d, i), i.toLong)
    }
    span("sources.training_shards") {
      CorpusIncrement.trainingShards(spark, root, d)
    }
  }

  def check(dir: String): Check = {
    val errors = mutable.ArrayBuffer.empty[String]
    val root = s"$dir/root"
    val keptDf = CorpusIncrement.kept(spark, root)
    val kept = keptDf.select("doc_id", "n_email", "n_phone", "n_ip")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3))))
    val ids = kept.map(_._1)
    val idSet = ids.toSet
    if (idSet.size != ids.length)
      errors += s"${ids.length - idSet.size} duplicate kept ids"
    val (lo, hi) = (bounds.head, bounds.last)
    val outside = ids.count(id => id < lo || id >= hi)
    if (outside > 0) errors += s"$outside kept ids are not increment inputs"
    val keptExact = ids.count(id => truth.get(id).exists(_._1 == 1))
    if (keptExact > 0) errors += s"$keptExact planted exact duplicates kept"
    val badPii = kept.count { case (id, (e, p, ip)) =>
      truth.get(id).forall(t => (t._2, t._3, t._4) != ((e, p, ip)))
    }
    if (badPii > 0) errors += s"$badPii kept rows with wrong PII counts"
    // replaying the committed last increment must return its part
    val last = increments - 1
    val replay = CorpusIncrement.increment(spark, root, batch(docs, last),
      last.toLong)
    val lastPart = keptDf.filter(
      col("doc_id") >= bounds(last) && col("doc_id") < bounds(last + 1))
    if (Workload.digest(replay) != Workload.digest(lastPart))
      errors += "replay of the committed increment returned another part"
    val shards = CorpusIncrement.trainingShards(spark, root,
      increments + 1L).select("doc_id").collect().map(_.getLong(0))
    if (shards.isEmpty || !shards.forall(idSet.contains))
      errors += s"training shards hold ${shards.length} rows, " +
        s"${shards.count(id => !idSet.contains(id))} not in kept"

    val planted = truth.collect { case (id, t) if t._1 != 0 => id }.toSet
    val dropped = (lo until hi).filterNot(idSet.contains).toSet
    val hit = (planted & dropped).size.toDouble
    Check(errors.toSeq, Workload.digest(keptDf), Map(
      "sources.corpus_increment.kept_ratio" ->
        ids.length.toDouble / (hi - lo),
      "dup_recall" -> hit / math.max(planted.size, 1),
      "dup_precision" -> hit / math.max(dropped.size, 1)))
  }
}

/** ANN serving: `IndexLedger.init` (KMeans fit plus SQ8 codes) on the
  * corpus, `absorb` of a fresh batch, then `topK` over the query set,
  * one call per query batch (a closed loop of consecutive requests). */
final class Search(
    spark: SparkSession, in: String, manifest: Map[String, Any])
    extends Workload {

  val hashMustRepeat = true
  val K = 10
  val Probes = 8  // of the index's 16 cells

  private val dim = manifest("dim").toString.toDouble.toInt
  private val queries = manifest("queries").toString.toDouble.toLong
  private val batches = manifest("query_batches").toString.toDouble.toLong

  private def vectors(name: String): DataFrame = {
    val schema = StructType(StructField("vec_id", LongType) +:
      (0 until dim).map(i => StructField(s"f$i", FloatType)))
    spark.read.option("header", "true").schema(schema)
      .csv(s"$in/$name.csv")
      .select(col("vec_id"),
        array((0 until dim).map(i => col(s"f$i")): _*).as("embedding"))
  }

  private var served: Array[Row] = Array.empty

  def pass(dir: String, span: Spans): Unit = {
    val state = s"$dir/index"
    span("sources.index_init") {
      IndexLedger.init(spark, state, vectors("corpus"))
    }
    span("sources.index_absorb") {
      IndexLedger.absorb(spark, state, vectors("batch"))
    }
    val per = queries / batches
    served = (0L until batches).toArray.flatMap { b =>
      val batch = vectors("queries").filter(
        col("vec_id") >= b * per && col("vec_id") < (b + 1) * per)
      span("sources.index_topk") {
        IndexLedger.topK(spark, state, batch, k = K, nprobe = Probes)
          .collect()
      }
    }
  }

  def check(dir: String): Check = {
    val errors = mutable.ArrayBuffer.empty[String]
    val perQuery = served.groupBy(_.getLong(0)).map(_._2.length)
    if (perQuery.size != queries || perQuery.exists(_ != K))
      errors += s"${perQuery.size} of $queries queries served, " +
        s"${perQuery.count(_ != K)} with other than $K results"
    val md = java.security.MessageDigest.getInstance("MD5")
    served.foreach(r => md.update(r.mkString(",").getBytes("UTF-8")))
    Check(errors.toSeq, md.digest().map("%02x".format(_)).mkString,
      Map("results" -> served.length.toDouble))
  }

  /** Top-10 overlap of the served results with each query's exact
    * cosine top-10, which the generator computed by brute force. */
  override def quality(dir: String): Map[String, Double] = {
    val src = scala.io.Source.fromFile(s"$in/exact_top$K.tsv", "UTF-8")
    val exact = try src.getLines().map { l =>
      val Array(q, cs) = l.split('\t')
      q.toLong -> cs.split(',').map(_.toLong).toSet
    }.toMap finally src.close()
    val hits = served.count(r =>
      exact.get(r.getLong(0)).exists(_.contains(r.getLong(1))))
    Map("recall_at_10" -> hits.toDouble / (queries * K))
  }
}
