package graft

import graft.operators.Similarity
import graft.sources.IndexLedger
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The one IVF coarse-quantizer trainer ([[Similarity.ivfCentroids]]):
  * a deterministic sample of at most 256·nlist rows collected in one
  * job, Lloyd's iterations on the driver. */
class IvfTrainerSpec extends SparkSpec {

  private lazy val vecs = tables.embeddings
    .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("v"))

  private def centroids(frame: DataFrame, nlist: Int): Seq[Seq[Double]] =
    Similarity.ivfCentroids(frame, "vec_id", "v", nlist)
      .orderBy("cell").select("cv").collect().map(_.getSeq[Double](0)).toSeq

  test("two fits return bit-identical centroids, whatever the " +
    "partitioning") {
    val a = centroids(vecs, 16)
    assert(a.length == 16)
    assert(centroids(vecs, 16) == a)
    assert(centroids(vecs.repartition(7), 16) == a)
  }

  test("the training sample holds at most 256·nlist rows: the " +
    "xxhash64(id)-first ones") {
    val n = vecs.count()
    assert(n > 256, s"fixture too small to bound the sample: $n")
    def mean(rows: Array[Seq[Double]]): Seq[Double] =
      rows.map(_.toArray).transpose.map(_.sum / rows.length).toSeq
    val first256 = vecs.orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(256).select("v").collect().map(_.getSeq[Double](0))
    val all = vecs.select("v").collect().map(_.getSeq[Double](0))
    // one cell: the centroid is the mean of exactly the sampled rows
    val got = centroids(vecs, 1).head
    def close(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).forall { case (x, y) => math.abs(x - y) < 1e-12 }
    assert(close(got, mean(first256)))
    assert(!close(got, mean(all)), "sample was not bounded")
  }

  test("fewer rows than nlist: k clamps to the row count and no two " +
    "centroids coincide") {
    val few = vecs.filter(col("vec_id") < 5)
    val c = centroids(few, 16)
    assert(c.length == 5)
    assert(c.distinct.length == 5)
    intercept[IllegalArgumentException] {
      Similarity.ivfCentroids(vecs.limit(0), "vec_id", "v", 16)
    }
  }

  test("IndexLedger.init runs exactly 5 jobs: the sample collect, the " +
    "centroid write, and the code write's broadcast, shuffle map and " +
    "write stages") {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val emb = tables.embeddings
    emb.inputFiles // resolve the file listing outside the count
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val state = java.nio.file.Files
        .createTempDirectory("ivf_jobs").toString + "/state"
      IndexLedger.init(spark, state, emb)
      ListenerBusDrain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get == 5, s"IndexLedger.init ran ${jobs.get} jobs")
  }

  test("no MLlib clustering left in the program sources") {
    val offenders = java.nio.file.Files.walk(
        java.nio.file.Paths.get("src/main")).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".scala"))
      .filter { p =>
        val s = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        s.contains("org.apache.spark.ml.clustering") ||
          s.contains("new KMeans")
      }
    assert(offenders.isEmpty, offenders.mkString(", "))
  }
}
