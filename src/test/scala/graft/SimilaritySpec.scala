package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("cosine of identical vectors is 1, orthogonal is 0") {
    val df = Seq(
      (Seq(1.0f, 0.0f), Seq(2.0f, 0.0f)),
      (Seq(1.0f, 0.0f), Seq(0.0f, 3.0f)))
      .toDF("a", "b")
      .select(Similarity.cosine(
        Similarity.asDouble(col("a")), Similarity.asDouble(col("b")))
        .as("cos"))
    val got = df.as[Double].collect()
    assert(math.abs(got(0) - 1.0) < 1e-12)
    assert(math.abs(got(1)) < 1e-12)
  }

  test("cosineTopK returns k neighbors per query, self excluded") {
    val r = Similarity.cosineTopK(tables.embeddings, 10, 5)
    val byQ = r.groupBy("qid").agg(count(lit(1)).as("n"),
      max(when(col("qid") === col("cid"), 1).otherwise(0)).as("self"))
    assert(byQ.filter(col("n") =!= 5 || col("self") === 1).count() == 0)
  }

  test("IVF topk recall vs brute force") {
    val exact = Similarity.cosineTopK(tables.embeddings, 10, 5)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfCosineTopK(tables.embeddings, 10, 5,
      nlist = 8, nprobe = 4)
    val approx = ivf.select("qid", "cid").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    info(s"IVF recall@5 = $recall")
    // probing half the cells on near-random vectors: expect decent recall
    assert(recall >= 0.4, s"IVF recall $recall (got ${approx.size} pairs)")
  }

  test("semanticDedupPortable equals the transitive closure of the " +
    "portable pair list") {
    val pairs = Similarity.embeddingNearDupsPortable(tables.embeddings)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // brute-force union-find over the collected pair list (small at
    // this SF) — the drop list must keep exactly one min id per group
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val members = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val expected = members.map(m => m -> find(m))
      .filter { case (m, r) => m != r }.toMap
    val got = Similarity.semanticDedupPortable(tables.embeddings)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }

  test("dimCorrelation: crafted perfect/anti correlations, fixture " +
    "bounds") {
    // dim1 = 2*dim0 (corr +1), dim2 reversed (corr -1 with dim0)
    val vecs = Seq(
      (0L, Array(1f, 2f, 4f)), (1L, Array(2f, 4f, 3f)),
      (2L, Array(3f, 6f, 2f)), (3L, Array(4f, 8f, 1f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.dimCorrelation(vecs).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(got((0, 1)) == 1.0)
    assert(got((0, 2)) == -1.0)
    assert(got((1, 2)) == -1.0)
    val fixture = Similarity.dimCorrelation(tables.embeddings).collect()
    assert(fixture.length == 64 * 63 / 2)
    assert(fixture.forall(r => math.abs(r.getDouble(2)) <= 1.0001))
  }

  test("SQ8 quantized cosine: recall@5 vs the exact float path is " +
    "near-perfect, and codes stay in the int8 range") {
    val exact = Similarity.cosineTopK(tables.embeddings).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.sq8CosineTopK(tables.embeddings).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    info(s"SQ8 recall@5 = $recall")
    // int8 on 64-dim unit-ish vectors: quantization noise is ~1e-2,
    // far below typical top-k score gaps
    assert(recall >= 0.9, s"SQ8 recall $recall")
    // every code within [-127, 127]
    import org.apache.spark.sql.functions._
    val outOfRange = tables.embeddings
      .select(Similarity.sq8Codes(
        Similarity.asDouble(col("embedding"))).as("qc"))
      .select(explode(col("qc")).as("c"))
      .filter(abs(col("c")) > 127)
    assert(outOfRange.isEmpty)
    // reconstruction error bound: |v - c*scale| <= scale/2 per element
    val bad = tables.embeddings.select(
      Similarity.asDouble(col("embedding")).as("v"))
      .select(col("v"),
        greatest(array_max(transform(col("v"), x => abs(x))),
          lit(1e-12)).divide(127.0).as("s"),
        Similarity.sq8Codes(col("v")).as("qc"))
      .select(explode(zip_with(col("v"), col("qc"),
        (x, c) => abs(x - c.cast("double") * col("s")) -
          col("s") * 0.500001)).as("err"))
      .filter(col("err") > 0)
    assert(bad.isEmpty)
  }

  test("IVF+SQ8 two-stage ANN: recall vs brute force, and rescored " +
    "scores are EXACT cosines (no quantization error in the output)") {
    val exact = Similarity.cosineTopK(tables.embeddings).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    val exactSet = exact.map(_._1).toSet
    val exactScores = exact.toMap
    val got = Similarity.ivfSq8TopK(tables.embeddings).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    val recall = (exactSet & got.map(_._1).toSet).size.toDouble /
      exactSet.size
    info(s"IVF+SQ8 recall@5 = $recall")
    // candidate choice is approximate (IVF cells + SQ8 ordering),
    // the q83 IVF bar applies
    assert(recall >= 0.4, s"IVF+SQ8 recall $recall")
    // but scores carry NO quantization error: any returned pair that
    // the brute-force top-k also has must match its exact cosine
    got.filter { case (pair, _) => exactSet.contains(pair) }
      .foreach { case (pair, cos) =>
        assert(cos == exactScores(pair), s"$pair rescore mismatch")
      }
  }

  test("MomentMatrixAggregator: empty vectors skipped, merge never " +
    "drops a count") {
    import graft.functions.{MomentMatrix, MomentMatrixAggregator}
    val agg = new MomentMatrixAggregator
    // zero-length vectors must not count (n>0 with empty arrays would
    // be silently droppable on merge)
    val a = agg.reduce(agg.zero, Seq.empty[Float])
    assert(a.n == 0 && a.sums.isEmpty)
    val b = agg.reduce(agg.zero, Seq(1f, 2f))
    assert(agg.merge(a, b).n == 1)
    // belt-and-braces: a count-without-arrays buffer still carries n
    val weird = MomentMatrix.Buf(3L, Array.empty, Array.empty)
    assert(agg.merge(weird, agg.reduce(agg.zero, Seq(1f, 2f))).n == 4)
    val weird2 = MomentMatrix.Buf(3L, Array.empty, Array.empty)
    assert(agg.merge(agg.reduce(agg.zero, Seq(1f, 2f)), weird2).n == 4)
  }

  test("retrievalEval: every metric matches a driver-side brute-force " +
    "referee (same rounded-cosine ranking, label-match relevance)") {
    val k = 10
    val got = Similarity.retrievalEval(tables.embeddings, 10, k)
      .collect()
      .map(r => r.getAs[Long]("qid") -> r).toMap
    assert(got.nonEmpty)
    val vecs = tables.embeddings
      .select("vec_id", "embedding", "label").collect()
      .map(r => (r.getAs[Long](0),
        r.getSeq[Float](1).map(_.toDouble).toArray,
        r.getInt(2).toLong))
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def log2(x: Double): Double = math.log(x) / math.log(2.0)
    val labelCount = vecs.groupBy(_._3).map { case (l, v) => l -> v.length }
    for ((qid, qv, qlab) <- vecs if qid < 10) {
      val qn = math.sqrt(qv.map(x => x * x).sum)
      val ranked = vecs.filter(_._1 != qid).map { case (cid, cv, clab) =>
        val cn = math.sqrt(cv.map(x => x * x).sum)
        val dot = qv.indices.map(i => qv(i) * cv(i)).sum
        (cid, clab, round6(dot / (qn * cn)))
      }.sortBy { case (cid, _, cos) => (-cos, cid) }.take(k)
      val rel = ranked.zipWithIndex
        .map { case ((_, clab, _), i) => (i + 1, clab == qlab) }
      val nRel = labelCount(qlab) - 1L
      val hits = rel.count(_._2).toLong
      val mrr =
        rel.find(_._2).map(r => round6(1.0 / r._1)).getOrElse(0.0)
      val dcg = rel.filter(_._2).map(r => 1.0 / log2(r._1 + 1.0)).sum
      val m = math.min(nRel, k.toLong).toInt
      val ndcg = if (m > 0)
        round6(dcg / (1 to m).map(i => 1.0 / log2(i + 1.0)).sum)
      else 0.0
      val row = got(qid)
      assert(row.getAs[Long]("n_rel") == nRel)
      assert(row.getAs[Long]("hits") == hits, s"q$qid hits")
      assert(math.abs(
        row.getAs[Double]("precision_k") - round6(hits.toDouble / k)) < 5e-7)
      val recall = if (nRel > 0) round6(hits.toDouble / nRel) else 0.0
      assert(math.abs(row.getAs[Double]("recall_k") - recall) < 5e-7)
      assert(math.abs(row.getAs[Double]("mrr") - mrr) < 5e-7, s"q$qid mrr")
      assert(math.abs(row.getAs[Double]("ndcg_k") - ndcg) < 5e-7,
        s"q$qid ndcg ${row.getAs[Double]("ndcg_k")} != $ndcg")
      assert(row.getAs[Double]("ndcg_k") >= 0.0
        && row.getAs[Double]("ndcg_k") <= 1.0)
    }
    // perfect-retrieval fixture: two tight clusters => ndcg/recall = 1
    val spark2 = tables.embeddings.sparkSession
    import spark2.implicits._
    val base = Array.fill(4)(0.0f)
    def v(i: Int, eps: Float) = {
      val a = base.clone(); a(i % 4) = 1.0f; a((i + 1) % 4) = eps; a.toSeq
    }
    val tiny = (0L until 8L).map(i =>
      (i, v((i % 2).toInt, 0.01f * (i / 2 + 1)), (i % 2).toInt))
      .toDF("vec_id", "embedding", "label")
      .select(col("vec_id"),
        col("embedding").cast("array<float>").as("embedding"),
        col("label").cast("int").as("label"))
    val perfect = Similarity.retrievalEval(tiny, 2, 3).collect()
    perfect.foreach { r =>
      assert(r.getAs[Double]("ndcg_k") == 1.0
        && r.getAs[Double]("recall_k") == 1.0
        && r.getAs[Double]("mrr") == 1.0, r.toString)
    }
  }

  test("rrfFusion: ranks agree with the two input rankers, the fused " +
    "score recomputes exactly, and the fused order is (rrf desc, cid)") {
    val depth = 20
    val exact = Similarity.cosineTopK(tables.embeddings, 10, depth)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid"))
        -> r.getAs[Long]("rk")).toMap
    val sq8 = Similarity.sq8CosineTopK(tables.embeddings, 10, depth)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid"))
        -> r.getAs[Long]("rk")).toMap
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val fused = Similarity.rrfFusion(tables.embeddings).collect()
    assert(fused.nonEmpty)
    val byQ = fused.groupBy(_.getAs[Long]("qid"))
    byQ.foreach { case (qid, rows) =>
      // frk is a contiguous 1..k prefix of the fused order
      assert(rows.map(_.getAs[Long]("frk")).sorted.toSeq
        == (1L to rows.length).toSeq)
      rows.foreach { r =>
        val cid = r.getAs[Long]("cid")
        val (re, rs) = (r.getAs[Long]("rk_exact"), r.getAs[Long]("rk_sq8"))
        // reported ranks ARE the input rankers' ranks (0 = absent)
        assert(re == exact.getOrElse((qid, cid), 0L), s"q$qid c$cid exact")
        assert(rs == sq8.getOrElse((qid, cid), 0L), s"q$qid c$cid sq8")
        assert(re > 0 || rs > 0, "a fused doc must come from some ranker")
        val want = round6((if (re > 0) 1.0 / (60 + re) else 0.0)
          + (if (rs > 0) 1.0 / (60 + rs) else 0.0))
        assert(r.getAs[Double]("rrf") == want, s"q$qid c$cid rrf")
      }
      // fused order: rrf desc, cid asc
      val ord = rows.sortBy(_.getAs[Long]("frk"))
        .map(r => (r.getAs[Double]("rrf"), r.getAs[Long]("cid"))).toSeq
      assert(ord.sliding(2).forall {
        case Seq((s1, c1), (s2, c2)) => s1 > s2 || (s1 == s2 && c1 < c2)
        case _ => true
      })
      // a doc surfaced by BOTH rankers at rank 1 must lead the fusion
      val both = rows.filter(r => r.getAs[Long]("rk_exact") == 1L
        && r.getAs[Long]("rk_sq8") == 1L)
      both.foreach(r => assert(r.getAs[Long]("frk") == 1L))
    }
  }

  test("embeddingDiagnostics: crafted classes pin the cosine identity") {
    // label 0: parallel pair -> mean_cos 1; label 1: orthogonal -> 0;
    // label 2: antipodal -> -1 (rounded; -0.0 must fold to 0.0)
    val df = Seq(
      (1L, Seq(2.0f, 0.0f), 0), (2L, Seq(5.0f, 0.0f), 0),
      (3L, Seq(1.0f, 0.0f), 1), (4L, Seq(0.0f, 1.0f), 1),
      (5L, Seq(3.0f, 0.0f), 2), (6L, Seq(-3.0f, 0.0f), 2))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.embeddingDiagnostics(df).collect()
      .map(r => r.getAs[Int]("label") -> r).toMap
    assert(got(0).getAs[Double]("mean_cos") == 1.0)
    assert(got(1).getAs[Double]("mean_cos") == 0.0
      && !(1.0 / got(1).getAs[Double]("mean_cos") < 0)) // not -0.0
    assert(got(2).getAs[Double]("mean_cos") == -1.0)
    assert(got(0).getAs[Long]("n_vecs") == 2
      && got(0).getAs[Double]("mean_norm") == 3.5
      && got(0).getAs[Double]("centroid_norm") == 3.5)
    // orthogonal unit pair: centroid norm = sqrt(2)/2
    assert(math.abs(got(1).getAs[Double]("centroid_norm")
      - math.sqrt(2) / 2) < 1e-4)
  }

  test("embeddingDiagnostics: singleton class yields NULL mean_cos/" +
    "sd_norm (not 0/0 NaN) and zero-norm vectors are excluded") {
    val df = Seq(
      (1L, Seq(3.0f, 4.0f), 7), //            singleton class
      (2L, Seq(0.0f, 0.0f), 8), //            zero vector: excluded
      (3L, Seq(1.0f, 0.0f), 8), (4L, Seq(1.0f, 0.0f), 8))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.embeddingDiagnostics(df).collect()
      .map(r => r.getAs[Int]("label") -> r).toMap
    val solo = got(7)
    assert(solo.getAs[Long]("n_vecs") == 1
      && solo.getAs[Double]("mean_norm") == 5.0
      && solo.isNullAt(solo.fieldIndex("sd_norm"))
      && solo.isNullAt(solo.fieldIndex("mean_cos")))
    // class 8: the zero vector is excluded, leaving a parallel pair
    val c8 = got(8)
    assert(c8.getAs[Long]("n_vecs") == 2
      && c8.getAs[Double]("mean_cos") == 1.0)
  }

  test("embeddingDiagnostics: fixture agrees with brute-force referee") {
    val rows = Similarity.embeddingDiagnostics(tables.embeddings)
      .collect().map(r => r.getAs[Int]("label") -> r).toMap
    val vecs = tables.embeddings
      .select("label", "embedding").collect()
      .map(r => (r.getInt(0),
        r.getSeq[Float](1).map(_.toDouble).toArray))
    vecs.map(_._1).distinct.foreach { lbl =>
      val vs = vecs.filter(_._1 == lbl).map(_._2)
      val n = vs.length
      if (n >= 2) {
        def dot(a: Array[Double], b: Array[Double]) =
          a.zip(b).map { case (x, y) => x * y }.sum
        val units = vs.map { v =>
          val nn = math.sqrt(dot(v, v)); v.map(_ / nn)
        }
        val pairSum = (for {
          i <- units.indices; j <- units.indices if i != j
        } yield dot(units(i), units(j))).sum
        val expect = pairSum / (n.toDouble * (n - 1))
        assert(math.abs(rows(lbl).getAs[Double]("mean_cos") - expect)
          < 5e-4, s"label $lbl")
        val meanNorm = vs.map(v => math.sqrt(dot(v, v))).sum / n
        assert(math.abs(rows(lbl).getAs[Double]("mean_norm") - meanNorm)
          < 5e-4)
      }
    }
  }

  test("crossLingualNearDups: exactly the q35 pairs whose documents " +
    "carry different language tags — crafted and fixture-wide") {
    val spark2 = spark
    import spark2.implicits._
    // two identical vectors across languages (must surface), a third
    // identical one in the SAME language as the first (pair 1-3 must
    // be filtered, pair 2-3 kept)
    val v = Array.tabulate(64)(i => (if (i % 7 == 0) 1.0f else 0.1f))
    val emb = Seq((1L, v.toSeq, 0), (2L, v.toSeq, 0), (3L, v.toSeq, 0))
      .toDF("vec_id", "embedding", "label")
    val langs = Seq((1L, "en"), (2L, "de"), (3L, "en"))
      .toDF("vec_id", "lang")
    val got = Similarity.crossLingualNearDups(emb, langs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3)))
    assert(got.toSet == Set((1L, 2L, "en", "de"), (2L, 3L, "de", "en")))
    // fixture-wide: q219 == q35 ∩ cross-lang (driver referee)
    val langMap = tables.documents
      .select(col("doc_id"), col("lang")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val q35 = Similarity.embeddingNearDupsPortable(tables.embeddings)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expect = q35.filter { case (i, j) => langMap(i) != langMap(j) }
      .toSet
    val fx = Similarity.crossLingualNearDups(
      tables.embeddings,
      tables.documents.select(col("doc_id").as("vec_id"), col("lang")))
      .collect()
    assert(fx.map(r => (r.getLong(0), r.getLong(1))).toSet == expect)
    fx.foreach(r => assert(r.getString(2) != r.getString(3)))
  }

  test("matryoshkaRecall: head-only corpora recall 1.0, adversarial " +
    "tails break the truncated arm, dims=64 is the identity") {
    import spark.implicits._
    // (a) all information in the first 16 dims -> truncation lossless
    def headVec(seed: Int): Seq[Float] =
      Array.tabulate(64)(i =>
        if (i < 16) ((seed * 31 + i * 7) % 13 - 6).toFloat else 0.0f).toSeq
    val head = (0 until 8).map(i => (i.toLong, headVec(i), 0))
      .toDF("vec_id", "embedding", "label")
    val ga = Similarity.matryoshkaRecall(head, 16, 3, 2).collect()
    ga.foreach { r =>
      assert(r.getLong(2) == r.getLong(1), s"qid ${r.getLong(0)} overlap")
      assert(r.getLong(3) == 1L && r.getDouble(4) == 1.0)
    }
    // (b) a candidate whose HEAD mimics the query but whose tail
    // anti-aligns: wins the truncated arm, loses the full arm
    def vec(head: Double, tail: Double): Seq[Float] =
      Array.tabulate(64)(i =>
        (if (i < 16) head else tail).toFloat).toSeq
    val adv = Seq(
      (0L, vec(1.0, 1.0), 0), // query
      (1L, vec(1.0, -1.0), 0), // head impostor: trunc cos 1, full cos < 0
      (2L, vec(0.9, 0.9), 0), // true neighbor (parallel in full space)
      (3L, vec(-1.0, -1.0), 0)) // anti-aligned everywhere
      .toDF("vec_id", "embedding", "label")
    val gb = Similarity.matryoshkaRecall(adv, 16, 1, 1).collect()
    assert(gb.length == 1)
    // full top-1 is vec 2; truncated top-1 ties vecs 1 and 2 at cos 1
    // and the cid tie-break picks 1 -> zero overlap at k=1
    assert(gb.head.getLong(2) == 0L && gb.head.getLong(3) == 0L
      && gb.head.getDouble(4) == 0.0)
    // (c) truncation to the full width is the identity -> recall 1.0
    val id = Similarity.matryoshkaRecall(tables.embeddings, 64, 5, 10)
      .collect()
    id.foreach { r =>
      assert(r.getLong(1) == 5L && r.getLong(2) == 5L
        && r.getLong(3) == 1L && r.getDouble(4) == 1.0)
    }
    // fixture-wide at dims=16: bounds hold
    Similarity.matryoshkaRecall(tables.embeddings).collect().foreach {
      r =>
        assert(r.getLong(1) == 5L && r.getLong(2) <= 5L)
        assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0)
    }
  }

  test("q162, q166 and q171 encode each vector once: one sq8_codes per " +
    "encoded embeddings scan, none in a filter or a pushed scan filter") {
    import graft.functions.Sq8Codes
    import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec}
    // q166: the trainer's sample scan, then the candidate and query scans
    Seq("q162_sq8_ann" -> 2, "q166_ivf_sq8_ann" -> 3,
      "q171_pca_sq8_ann" -> 2).foreach { case (name, encodedScans) =>
      val plans = Trace.of(spark)(
        SparkEntry.queries(name)(spark, sfDir).collect()).plans.map(_.plan)
      val inFilter = plans.flatMap(graft.plans.PlanAudit.flatten).filter {
        case _: FilterExec | _: FileSourceScanExec => true
        case _ => false
      }.filter(_.expressions.exists(_.exists(_.isInstanceOf[Sq8Codes])))
      assert(inFilter.isEmpty, s"$name: an encode in a filter\n" +
        plans.mkString("\n---\n"))
      assert(plans.map(encodesIn(_).size).sum == encodedScans,
        s"$name\n" + plans.mkString("\n---\n"))
    }
  }
}
