package graft

import graft.operators.Similarity
import graft.plans.PlanAudit
import graft.sources.IndexLedger
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._

/** The one IVF coarse-quantizer trainer ([[Similarity.ivfCentroids]]):
  * a deterministic sample of at most 256·nlist rows collected in one
  * job, Lloyd's iterations on the driver — and the exact job counts of
  * the [[IndexLedger]] calls built on it (init, absorb, topK). */
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

  private def freshState(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString + "/state"

  /** No ledger read may infer a parquet footer: the ledger wrote both
    * frames, so every read declares their schema. A footer-inference
    * job runs while the read is analyzed, outside any SQL execution;
    * the ledger's parquet WRITES carry the same name inside one. */
  private def assertNoFooterJobs(jobs: Seq[Trace.Job]): Unit = {
    val footer = jobs.filter(j =>
      !j.inQuery && j.name.startsWith("parquet at IndexLedger.scala"))
    assert(footer.isEmpty, footer.mkString(", "))
  }

  test("IndexLedger.init runs exactly 5 jobs: the sample collect, the " +
    "centroid write, the centroid collect, and the code write's " +
    "one-row-per-id shuffle map and write stages") {
    val emb = tables.embeddings
    emb.inputFiles // resolve the file listing outside the count
    val state = freshState("ivf_jobs")
    val jobs = Trace.of(spark)(IndexLedger.init(spark, state, emb)).jobs
    assert(jobs.length == 5, s"IndexLedger.init ran: $jobs")
    assertNoFooterJobs(jobs)
  }

  test("IndexLedger.init's sample collect encodes each vector once: one " +
    "sq8_codes in its executed plan, none in a pushed filter") {
    val emb = tables.embeddings
    emb.inputFiles
    val state = freshState("ivf_sample_encode")
    val plans = Trace.of(spark)(IndexLedger.init(spark, state, emb)).plans.map(_.plan)
    val sample = plans.filter(p => PlanAudit.flatten(p).exists(
      _.isInstanceOf[org.apache.spark.sql.execution.TakeOrderedAndProjectExec]))
    assert(sample.length == 1, plans.mkString("\n---\n"))
    assert(encodesIn(sample.head).length == 1, sample.head.toString)
  }

  test("IndexLedger.init and absorb assign without a centroid cross " +
    "join or a window: each one's only shuffle is its one-row-per-id " +
    "cut, hash-partitioned on the id") {
    val plans = Trace.of(spark) {
      val state = q180State("ivf_one_exchange")
      IndexLedger.absorb(spark, state,
        tables.embeddings.filter(col("vec_id") % 10 >= 8))
    }.plans.map(_.plan)
    val nodes = plans.flatMap(PlanAudit.flatten)
    assert(!nodes.exists(n => n.isInstanceOf[BroadcastNestedLoopJoinExec] ||
      n.isInstanceOf[WindowExec]), plans.mkString("\n---\n"))
    val shuffles = plans.map(p => PlanAudit.flatten(p).collect {
      case e: ShuffleExchangeLike => e.outputPartitioning }.distinct)
      .filter(_.nonEmpty)
    assert(shuffles.length == 2, plans.mkString("\n---\n"))
    shuffles.foreach { parts =>
      assert(parts.length == 1)
      parts.head match {
        case HashPartitioning(Seq(a: Attribute), _) =>
          assert(a.name == "__aid")
        case other => fail(s"shuffle on $other")
      }
    }
  }

  /** The q180 layout: init on 80% of the fixture embeddings. */
  private def q180State(tag: String): String = {
    val state = freshState(tag)
    IndexLedger.init(spark, state, tables.embeddings.filter(
      col("vec_id") % 10 < 8))
    state
  }

  test("IndexLedger.absorb runs exactly 4 jobs, none of them a parquet " +
    "footer read: the centroid collect, the committed-id broadcast, and " +
    "the code write's one-row-per-id shuffle map and write stages") {
    val state = q180State("ivf_absorb_jobs")
    val batch = tables.embeddings.filter(col("vec_id") % 10 >= 8)
    batch.inputFiles
    val jobs = Trace.of(spark)(IndexLedger.absorb(spark, state, batch)).jobs
    assert(jobs.length == 4, s"IndexLedger.absorb ran: $jobs")
    assertNoFooterJobs(jobs)
  }

  test("IndexLedger.absorb returns the committed part: its plan scans " +
    "codes/part_<next> and encodes nothing, and its rows are the " +
    "batch's assignment") {
    val state = q180State("ivf_absorb_result")
    val batch = tables.embeddings.filter(col("vec_id") % 10 >= 8)
    val out = IndexLedger.absorb(spark, state, batch)
    val got = out.collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    val plan = out.queryExecution.executedPlan
    val scans = PlanAudit.flatten(plan).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
    assert(scans.length == 1, plan.toString)
    assert(scans.head.relation.location.rootPaths.map(_.getName) ==
      Seq("part_00000002"), plan.toString)
    assert(encodesIn(plan).isEmpty, plan.toString)
    // the batch's assignment against the committed centroids, as the
    // result was computed before it was read back
    val v = batch.select(col("vec_id"),
        Similarity.asDouble(col("embedding")).as("v"))
      .filter(Similarity.dot(col("v"), col("v")) > 0.0)
    val want = Similarity.ivfAssign(v, IndexLedger.centroids(spark, state),
        "v")
      .select("vec_id", "cell").orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(got.nonEmpty && got == want)
  }

  test("one IndexLedger.topK call runs exactly 4 jobs, none of them a " +
    "parquet footer read: the centroid collect, the probed-cell " +
    "broadcast, the heap exchange and the one-partition result") {
    val state = q180State("ivf_topk_jobs")
    val queries = tables.embeddings.filter(col("vec_id") < 10)
    queries.inputFiles
    val jobs = Trace.of(spark)(IndexLedger.topK(spark, state, queries,
      k = 10, nprobe = 8).collect()).jobs
    assert(jobs.length == 4, s"IndexLedger.topK ran: $jobs")
    assertNoFooterJobs(jobs)
  }

  test("one IndexLedger.topK call encodes each query once: one " +
    "sq8_codes in the executed plan") {
    val state = q180State("ivf_topk_encode")
    val served = IndexLedger.topK(spark, state,
      tables.embeddings.filter(col("vec_id") < 10), k = 10, nprobe = 8)
    served.collect()
    val plan = served.queryExecution.executedPlan
    assert(encodesIn(plan).length == 1, plan.toString)
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
