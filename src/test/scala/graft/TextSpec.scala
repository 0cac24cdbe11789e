package graft

import graft.operators.TextAnalysis
import org.apache.spark.sql.functions._

class TextSpec extends SparkSpec {
  import spark.implicits._

  test("tokenCounts: totals and uniques") {
    val docs = Seq((1L, "a b a c"), (2L, "x")).toDF("doc_id", "text")
    val got = TextAnalysis.tokenCounts(docs).collect()
    assert(got(0).getLong(1) == 4 && got(0).getLong(2) == 3)
    assert(got(1).getLong(1) == 1 && got(1).getLong(2) == 1)
  }

  test("lexicalDiversity: uniform corpus hits ln(V), singleton hits 0") {
    // 4 tokens each appearing once -> H = ln 4, ttr = 1
    // 3 copies of one token -> H = 0, ttr = 1/3
    val docs = Seq(("a b c d", "uni"), ("z z z", "mono"))
      .toDF("text", "lang")
    val got = TextAnalysis.lexicalDiversity(docs).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    val (nU, vU, hU, tU) = got("uni")
    assert(nU == 4 && vU == 4 && tU == 1.0)
    assert(math.abs(hU - math.log(4)) < 1e-3)
    val (nM, vM, hM, tM) = got("mono")
    assert(nM == 3 && vM == 1 && hM == 0.0)
    assert(math.abs(tM - 1.0 / 3) < 1e-3)
  }

  test("chunkDocs: counts, lengths, and full token coverage") {
    val docs = Seq((1L, (1 to 60).map(i => s"t$i").mkString(" ")),
      (2L, "a b c"), (3L, "")).toDF("doc_id", "text")
    val rows = TextAnalysis.chunkDocs(docs).collect()
    // doc 1: n=60 -> ceil(60/25)=3 chunks of len 50,35,10
    val d1 = rows.filter(_.getLong(0) == 1L).map(_.getLong(2))
    assert(d1.toSeq == Seq(50, 35, 10))
    // doc 2: n=3 -> one short chunk
    assert(rows.filter(_.getLong(0) == 2L).map(_.getLong(2)).toSeq == Seq(3))
    // doc 3: empty text still yields one chunk of the single empty token
    assert(rows.filter(_.getLong(0) == 3L).map(_.getLong(2)).toSeq == Seq(1))
  }

  test("zipfFit: natural-ish corpus slopes negative with sane r2") {
    val r = TextAnalysis.zipfFit(tables.documents).head()
    // synthetic corpus vocabulary is small; just need enough points
    assert(r.getLong(0) > 10)
    assert(r.getDouble(1) < 0, s"slope ${r.getDouble(1)} not negative")
    assert(r.getDouble(2) >= 0 && r.getDouble(2) <= 1)
  }

  test("heavyHitters: exact, deterministic, MG guarantee under reshuffles") {
    val docs = tables.documents
    val exact = docs
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
    val total = exact.agg(sum("n")).head.getLong(0)
    val expected = exact.filter(col("n") * 200 > total)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = TextAnalysis.heavyHitters(docs).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expected)
    // candidate guarantee must hold under adversarial partitioning too
    val reshuffled = TextAnalysis.heavyHitters(docs.repartition(13))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(reshuffled == expected)
  }

  test("tokenCountRegex splits on non-word runs") {
    val got = Seq("foo_bar, baz!! qux123")
      .toDF("t").select(TextAnalysis.tokenCountRegex(col("t")))
      .as[Int].head()
    assert(got == 4) // foo_bar has _ as non-word: foo, bar, baz, qux123
  }

  test("qualityScore: stopword ratio correct") {
    val docs = Seq((1L, "the cat and the hat", 19L))
      .toDF("doc_id", "text", "n_chars")
    val r = TextAnalysis.qualityScore(docs).head()
    assert(r.getAs[Long]("n_tokens") == 5)
    assert(r.getAs[Double]("stopword_ratio") == 0.6) // the, and, the
  }

  test("langId predicts the language whose markers dominate") {
    val docs = Seq(
      (1L, "der hund und die katze das haus", "de"),
      (2L, "the cat of a house the dog", "en"))
      .toDF("doc_id", "text", "lang")
    val got = TextAnalysis.langIdByMarkers(docs).collect()
    assert(got(0).getAs[String]("pred_lang") == "de")
    assert(got(1).getAs[String]("pred_lang") == "en")
  }

  test("fingerprint is whitespace/case-insensitive") {
    val docs = Seq((1L, "Hello  World"), (2L, "hello world"))
      .toDF("doc_id", "text")
    val fps = TextAnalysis.fingerprint(docs).select("fingerprint")
      .as[String].collect()
    assert(fps(0) == fps(1))
  }

  test("hashSplit: content-determined, stable under repartitioning") {
    val a = TextAnalysis.hashSplit(tables.documents).collect().toSeq
    val b = TextAnalysis.hashSplit(tables.documents.repartition(7))
      .collect().toSeq
    assert(a.map(_.toString).sorted == b.map(_.toString).sorted)
    val trainFrac = a.count(_.getString(1) == "train").toDouble / a.size
    assert(math.abs(trainFrac - 0.75) < 0.15, s"train fraction $trainFrac")
  }

  test("boilerplate: repeated leading k-grams surface per source") {
    val docs = Seq(
      (1L, "copyright acme corp page one", "web"),
      (2L, "copyright acme corp page two", "web"),
      (3L, "copyright acme corp other", "mail"),   // other source
      (4L, "unique document body here", "web"))
      .toDF("doc_id", "text", "source")
    val got = TextAnalysis.boilerplate(docs)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(("web", "copyright acme corp", 2L, 1L)))
  }

  test("lengthBatching: two-level rank == plain window, waste bounded") {
    val got = TextAnalysis.lengthBatching(tables.documents)
    // bucketing bounds per-doc padding by the bucket width
    assert(got.filter(
      col("padded_waste") > col("n_docs") * 32).count() == 0)
    assert(got.filter(col("n_docs") > 16).count() == 0)
    // the broadcast two-level rank must reproduce the plain
    // single-window batching exactly (same doc->batch assignment)
    import org.apache.spark.sql.expressions.Window
    val toks = tables.documents.select(col("doc_id"),
      size(split(col("text"), " ")).as("n_tokens"))
      .withColumn("bucket", floor(col("n_tokens") / 32.0).cast("long"))
    val plain = toks
      .withColumn("rk", row_number().over(
        Window.partitionBy("bucket").orderBy("doc_id")).cast("long") - 1)
      .withColumn("batch_id", floor(col("rk") / 16.0).cast("long"))
      .groupBy("bucket", "batch_id")
      .agg(count(lit(1)).as("n_docs"),
        max("n_tokens").cast("long").as("max_tokens"),
        sum("n_tokens").as("sum_tokens"))
      .withColumn("padded_waste",
        col("n_docs") * col("max_tokens") - col("sum_tokens"))
    assert(got.exceptAll(plain).count() == 0 &&
      plain.exceptAll(got).count() == 0)
  }

  test("dataMixture: budget rule and partitioning-independence") {
    val got = TextAnalysis.dataMixture(tables.documents).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // every selected doc started under budget: selected_tokens can
    // overshoot 3000 by at most one document's length
    val maxDoc = tables.documents
      .select(max(size(split(col("text"), " ")))).collect()(0).getInt(0)
    got.values.foreach { case (_, tok) =>
      assert(tok < 3000 + maxDoc)
    }
    // deterministic under repartitioning
    val again = TextAnalysis
      .dataMixture(tables.documents.repartition(13)).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(again == got)
  }

  test("temperatureMixture: quotas sum exactly to budget and flatten") {
    import spark.implicits._
    val alloc = TextAnalysis.temperatureMixture(tables.documents, 10000L)
      .collect()
    assert(alloc.map(_.getLong(3)).sum == 10000L)
    assert(alloc.forall(_.getLong(3) >= 0L))
    // α=1/2 flattening: a 90/10 two-stratum corpus allocates the
    // minority stratum √-proportionally (~25%), well above its raw 10%
    val skew = (1 to 90).map(i => (s"d$i", "en", "big"))
      .++((1 to 10).map(i => (s"m$i", "en", "small")))
      .toDF("text", "lang", "source")
    val a2 = TextAnalysis.temperatureMixture(skew, 1000L)
      .collect().map(r => r.getString(1) -> r.getLong(3)).toMap
    assert(a2("big") + a2("small") == 1000L)
    assert(a2("small") > 200L && a2("small") < 300L,
      s"minority quota ${a2("small")} not √-flattened")
  }

  test("noveltyScores: first doc fully novel, duplicate fully stale") {
    val docs = Seq(
      (1L, "a b c d e"), (2L, "a b c d e"), (3L, "x y z w v"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.noveltyScores(docs).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(got(1L) == 1.0 && got(2L) == 0.0 && got(3L) == 1.0)
    val real = TextAnalysis.noveltyScores(tables.documents)
    assert(real.filter(col("novelty") < 0 || col("novelty") > 1)
      .count() == 0)
    // the min doc_id is fully novel by construction
    assert(real.orderBy("doc_id").first().getDouble(3) == 1.0)
  }

  test("vocabGrowth: monotone, ends at the true vocabulary size") {
    val g = TextAnalysis.vocabGrowth(tables.documents).collect()
    val vocab = g.map(_.getLong(2))
    assert(vocab.sameElements(vocab.sorted))
    val trueVocab = tables.documents
      .select(explode(split(col("text"), " "))).distinct().count()
    assert(vocab.last == trueVocab)
    assert(g.map(_.getLong(1)).sum == trueVocab)
  }

  test("repetitionStats: hand-checked fracs and keep gate") {
    // doc 1: "a a a a" — top token 4/4, bigram "a a" 3/3, trigrams
    //        "a a a" twice of 2 -> dup frac 1/2: dropped on all gates
    // doc 2: 7 distinct tokens — 1/7, 1/6, 0: under every threshold
    val docs = Seq((1L, "a a a a"), (2L, "a b c d e f g"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.repetitionStats(docs).collect()
    assert(got(0).getDouble(2) == 1.0)          // top_token_frac
    assert(got(0).getDouble(3) == 1.0)          // top_bigram_frac
    assert(got(0).getDouble(4) == 0.5)          // dup_trigram_frac
    assert(got(0).getLong(5) == 0L)             // dropped
    assert(got(1).getDouble(2) == 1.0 / 7 && got(1).getDouble(4) == 0.0)
    assert(got(1).getLong(5) == 1L)             // kept
  }

  test("repetitionStats matches a brute-force local computation") {
    val got = TextAnalysis.repetitionStats(tables.documents)
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val docs = tables.documents.select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1))
    docs.filter(_._2.split(" ").length >= 3).take(50).foreach {
      case (id, text) =>
        val t = text.split(" ")
        def grams(n: Int) = t.sliding(n).map(_.mkString(" ")).toSeq
        val top = t.groupBy(identity).values.map(_.length).max
        val bi = grams(2)
        val tri = grams(3)
        val exp = (
          top.toDouble / t.length,
          bi.groupBy(identity).values.map(_.length).max.toDouble / bi.length,
          (tri.length - tri.distinct.length).toDouble / tri.length)
        assert(got(id) == exp, s"doc $id")
    }
  }

  test("bm25TopK matches a driver-side brute force exactly") {
    val terms = Seq("spark", "table", "join", "vector", "stream")
    val (k1, b, k) = (1.2, 0.75, 10)
    val docs = tables.documents.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq)
    val n = docs.length.toLong
    val avgdl = docs.map(_._2.length.toLong).sum.toDouble / n
    val tf = for {
      (id, toks) <- docs.toSeq; t <- terms
      c = toks.count(_ == t) if c > 0
    } yield (t, id, c)
    val df = tf.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val dl = docs.toMap.view.mapValues(_.length).toMap
    val expected = tf.map { case (t, id, c) =>
      val score = math.log(1 + (n - df(t) + 0.5) / (df(t) + 0.5)) *
        (c * (k1 + 1)) /
        (c + k1 * ((1 - b) + b * dl(id) / avgdl))
      (t, id, score)
    }.groupBy(_._1).view.mapValues(
      _.sortBy { case (_, id, s) => (-s, id) }.take(k) // select unrounded
        .map { case (_, id, s) =>
          (id, BigDecimal(s).setScale(4,
            BigDecimal.RoundingMode.HALF_UP).toDouble) }
        .sortBy { case (id, s) => (-s, id) }) // emit order: rounded
      .toMap
    val got = TextAnalysis.bm25TopK(tables.documents, terms, k, k1, b)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view
      .mapValues(_.map { case (_, id, s) => (id, s) }.toSeq).toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (t, rows) =>
      assert(got(t) == rows, s"term $t")
    }
  }

  test("dsirWeights: disjoint-vocab corpus selects exactly the target docs") {
    val docs = (1L to 4L).map(i => (i, "alpha beta gamma", "en")) ++
      (5L to 8L).map(i => (i, "omega psi chi", "zh"))
    val got = TextAnalysis
      .dsirWeights(docs.toDF("doc_id", "text", "lang"), k = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(2), r.getInt(3)))
    assert(got.filter(_._3 == 1).map(_._1).toSet == Set(1L, 2L, 3L, 4L))
    // target-vocab weights strictly dominate off-target weights
    assert(got.filter(_._3 == 1).map(_._2).min >
      got.filter(_._3 == 0).map(_._2).max)
  }

  test("mixtureSample fills each stratum to min(quota, size), " +
    "deterministically") {
    val budget = 300L
    val got = TextAnalysis.mixtureSample(tables.documents, budget)
    val counts = got.groupBy("lang", "source").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val expected = TextAnalysis
      .temperatureMixture(tables.documents, budget)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        math.min(r.getLong(3), r.getLong(2))).toMap
    assert(counts == expected.filter(_._2 > 0))
    // deterministic: a second run selects the identical doc set
    val ids1 = got.select("doc_id").collect().map(_.getLong(0)).toSet
    val ids2 = TextAnalysis.mixtureSample(tables.documents, budget)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids1 == ids2)
  }

  test("mixtureSample plans through the bounded-heap TopKPerKey node " +
    "and equals the window-only reference formulation") {
    import org.apache.spark.sql.expressions.Window
    val budget = 300L
    val df = TextAnalysis.mixtureSample(tables.documents, budget)
    // the corpus-wide per-stratum ranking must run through the bounded
    // heaps (k = max quota), NOT a full sort of every stratum: the only
    // corpus-width operator between scan and the residual window is the
    // partial/final TopKPerKeyExec pair
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"),
      s"expected the TopKPerKey bounded-heap node in:\n$plan")
    // output equivalence with the pre-round-6 full-window formulation
    val quotas = TextAnalysis.temperatureMixture(tables.documents, budget)
      .select(col("lang"), col("source"), col("quota"))
    val w = Window.partitionBy("lang", "source")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    val ref = tables.documents
      .select(col("doc_id"), col("lang"), col("source"))
      .withColumn("rn", row_number().over(w))
      .join(broadcast(quotas), Seq("lang", "source"))
      .filter(col("rn") <= col("quota"))
      .select(col("lang"), col("source"), col("doc_id"))
      .orderBy("doc_id")
    assert(df.collect().toSeq == ref.collect().toSeq)
  }

  test("dsirWeights: fixture corpus — k selected, selection is a clean " +
    "cut in (logw desc, doc_id) order") {
    val got = TextAnalysis.dsirWeights(tables.documents).collect()
      .map(r => (r.getLong(0), r.getDouble(2), r.getInt(3)))
    assert(got.length == 500 && got.count(_._3 == 1) == 150)
    val key = (t: (Long, Double, Int)) => (-t._2, t._1.toDouble)
    assert(Ordering[(Double, Double)].lt(
      got.filter(_._3 == 1).map(key).max,
      got.filter(_._3 == 0).map(key).min))
  }
  test("shuffleShards: exact cover, contiguous hash-order shards, " +
    "token balance within boundary-doc granularity, deterministic") {
    val n = tables.documents.count()
    val shards = TextAnalysis.shuffleShards(tables.documents, nShards = 8)
      .collect()
    assert(shards.length == n)
    assert(shards.map(_.getAs[Long]("doc_id")).distinct.length == n)
    val byShard = shards.groupBy(_.getAs[Int]("shard"))
    assert(byShard.keySet == (0 until 8).toSet)
    // per-shard positions are 1..|shard| (a valid within-shard order)
    byShard.foreach { case (sh, rows) =>
      assert(rows.map(_.getAs[Long]("pos")).sorted.toSeq
        == (1L to rows.length).toSeq, s"shard $sh")
    }
    // token balance: a shard's mass differs from total/N by at most
    // the boundary docs' tokens (contiguous spans of the hash order
    // cut at token offsets)
    val total = shards.map(_.getAs[Long]("n_tokens")).sum
    val maxDoc = shards.map(_.getAs[Long]("n_tokens")).max
    val target = total.toDouble / 8
    byShard.foreach { case (sh, rows) =>
      val mass = rows.map(_.getAs[Long]("n_tokens")).sum
      assert(math.abs(mass - target) <= 2 * maxDoc,
        s"shard $sh mass $mass vs target $target (maxDoc $maxDoc)")
    }
    // the permutation actually shuffles: shard-0 doc ids are not just
    // the smallest ids
    val shard0 = byShard(0).map(_.getAs[Long]("doc_id")).toSet
    assert(shard0 != (0L until shard0.size.toLong).toSet)
    // deterministic: same output on a second run
    val again = TextAnalysis.shuffleShards(tables.documents, nShards = 8)
      .collect()
    assert(shards.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("attritionFunnel: crafted corpus with hand-computed per-stage " +
    "counts; funnel chains and stays consistent with corpusPipeline") {
    import spark.implicits._
    // 6 docs, one duplicate pair; 'en' lang throughout. Stopword
    // ratios: the gate keeps sw_ratio >= per-lang median among the 5
    // dedup survivors.
    val docs = Seq(
      (0L, "en", "the a of and x"), // sw 0.8
      (1L, "en", "the a x y z"), // sw 0.4
      (2L, "en", "x y z w v"), // sw 0.0
      (3L, "en", "the of x y z"), // sw 0.4
      (4L, "en", "the a of and x"), // dup of 0 -> dropped at stage 1
      (5L, "en", "the the the x y")) // sw 0.6
      .toDF("doc_id", "lang", "text")
    val rows = TextAnalysis.attritionFunnel(docs).collect()
    assert(rows.length == 4)
    val byStage = rows.map(r => r.getAs[Long]("stage") ->
      (r.getAs[String]("name"), r.getAs[Long]("docs_in"),
        r.getAs[Long]("docs_out"), r.getAs[Long]("dropped"))).toMap
    assert(byStage(0L) == (("raw", 6L, 6L, 0L)))
    assert(byStage(1L) == (("exact_dedup", 6L, 5L, 1L)))
    // survivors' sw ratios: 0.8, 0.4, 0.0, 0.4, 0.6 -> median (disc,
    // ceil(5*0.5)=3rd smallest) = 0.4; gate keeps 0.8/0.4/0.4/0.6 = 4
    assert(byStage(2L) == (("quality_gate", 5L, 4L, 1L)))
    // stage 3 depends on md5 nibbles; assert chaining + bounds only
    val (n3, in3, out3) = (byStage(3L)._1, byStage(3L)._2, byStage(3L)._3)
    assert(n3 == "train_split" && in3 == 4L && out3 <= 4L)
    // funnel count consistency with the pipeline itself: stage-3 out
    // equals corpusPipeline's train rows
    val pipelineTrain = TextAnalysis.corpusPipeline(docs)
      .filter($"split" === "train").count()
    assert(out3 == pipelineTrain)
  }

  test("scriptMix counts characters per Unicode script with " +
    "deterministic dominant-script tie-breaks (crafted inputs via " +
    "the planted-residue path)") {
    val r = TextAnalysis.scriptMix(tables.documents).collect()
    assert(r.length == tables.documents.count())
    r.foreach { row =>
      val id = row.getAs[Long]("doc_id")
      // planted snippets are pure functions of doc_id residues
      assert(row.getAs[Long]("n_cyrillic") ==
        (if (id % 3 == 1) 6L else 0L), row.toString)
      assert(row.getAs[Long]("n_han") ==
        (if (id % 3 == 2) 2L else 0L), row.toString)
      assert(row.getAs[Long]("n_greek") ==
        (if (id % 5 == 0) 3L else 0L), row.toString)
      assert(row.getAs[Long]("n_replacement") ==
        (if (id % 7 == 0) 2L else 0L), row.toString)
      // word-soup base text dominates every planted snippet
      assert(row.getAs[String]("main_script") == "latin", row.toString)
      assert(row.getAs[Long]("n_latin") > 10L)
    }
  }

  test("attritionFunnel on the fixture: monotone, chained, and " +
    "consistent with q69") {
    val rows = TextAnalysis.attritionFunnel(tables.documents).collect()
      .sortBy(_.getAs[Long]("stage"))
    rows.foreach { r =>
      assert(r.getAs[Long]("docs_out") <= r.getAs[Long]("docs_in"))
      assert(r.getAs[Long]("dropped") ==
        r.getAs[Long]("docs_in") - r.getAs[Long]("docs_out"))
    }
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(b.getAs[Long]("docs_in") == a.getAs[Long]("docs_out")
          || b.getAs[Long]("stage") == 1L) // stage 1 re-reads raw n
      case _ =>
    }
    val gateOut = rows(2).getAs[Long]("docs_out")
    assert(gateOut == TextAnalysis.corpusPipeline(tables.documents).count())
  }

  test("sequencePacking: exact chunk cover of the token stream — " +
    "sequence count, span arithmetic, and boundary splits line up") {
    val L = 512L
    val packed = TextAnalysis.sequencePacking(tables.documents, L)
    val rows = packed.collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getAs[Long]("n_tokens")).sum
    val nSeqs = rows.map(_.getAs[Long]("end_seq")).max + 1
    // chunking the concatenated stream yields exactly ceil(total/L)
    assert(nSeqs == (total + L - 1) / L)
    rows.foreach { r =>
      val (n, s0, e, span, off) = (r.getAs[Long]("n_tokens"),
        r.getAs[Long]("start_seq"), r.getAs[Long]("end_seq"),
        r.getAs[Long]("seqs_spanned"), r.getAs[Long]("seq_offset"))
      assert(span == e - s0 + 1 && span >= 1)
      assert(off >= 0 && off < L)
      // a doc of n tokens starting at offset `off` must end inside
      // sequence s0 + (off + n - 1) / L exactly
      assert(e == s0 + (off + n - 1) / L)
    }
    // the fixture's docs are 10-100 tokens vs L=512: most fit inside
    // one sequence, but SOME must straddle a boundary (the stream has
    // no padding) — both classes exercised
    assert(rows.count(_.getAs[Long]("seqs_spanned") > 1) > 0)
    assert(rows.count(_.getAs[Long]("seqs_spanned") == 1) > 0)
    // a crafted mega-doc spans many sequences: pure self-content chunks
    val spark2 = tables.documents.sparkSession
    import spark2.implicits._
    val mega = Seq((0L, ("tok " * 2000).trim), (1L, "short doc here"))
      .toDF("doc_id", "text")
    val mp = TextAnalysis.sequencePacking(mega, L).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("seqs_spanned"))
      .toMap
    assert(mp(0L) >= 2000 / L)
  }

  test("epochMixture: per-stratum repeats sum EXACTLY to the quota and " +
    "the grand total to the budget; repeat factors differ by at most 1 " +
    "inside a stratum") {
    val budget = 1200L
    val em = TextAnalysis.epochMixture(tables.documents, budget)
    val rows = em.collect()
    assert(rows.map(_.getAs[Long]("n_repeats")).sum == budget)
    val quotas = TextAnalysis.temperatureMixture(tables.documents, budget)
      .collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[String]("source"))
        -> r.getAs[Long]("quota")).toMap
    rows.groupBy(r =>
      (r.getAs[String]("lang"), r.getAs[String]("source")))
      .foreach { case (k, rs) =>
        val reps = rs.map(_.getAs[Long]("n_repeats"))
        assert(reps.sum == quotas(k),
          s"stratum $k repeats ${reps.sum} != quota ${quotas(k)}")
        assert(reps.max - reps.min <= 1,
          s"stratum $k repeat factors not balanced: $reps")
      }
    // the epoch regime is actually exercised: some doc repeats > 1
    assert(rows.exists(_.getAs[Long]("n_repeats") > 1))
  }

  test("packComposition: sequence axis agrees with a driver-side " +
    "replay of the packing frame — coverage, counts, and the " +
    "cross-document pair fraction") {
    val L = 512L
    val packed = TextAnalysis.sequencePacking(tables.documents, L)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("start_seq"), r.getAs[Long]("end_seq"),
        r.getAs[Long]("seq_offset")))
    val comp = TextAnalysis.packComposition(tables.documents, L)
      .collect()
    assert(comp.nonEmpty)
    // referee: per-sequence overlap tokens recomputed from the doc frame
    val overlaps = packed.flatMap { case (_, n, s0, e, off) =>
      val gs = s0 * L + off
      (s0 to e).map { s =>
        val t = math.min(gs + n, (s + 1) * L) - math.max(gs, s * L)
        (s, t, e > s0)
      }
    }.groupBy(_._1)
    val total = packed.map(_._2).sum
    assert(comp.map(_.getAs[Long]("n_tokens")).sum == total)
    // seq ids are contiguous 0..nSeqs-1 and every non-final is full
    val ids = comp.map(_.getAs[Long]("seq_id")).sorted
    assert(ids.head == 0 && ids.last == ids.length - 1)
    comp.foreach { r =>
      val (s, nd, nt, ns, frac) = (r.getAs[Long]("seq_id"),
        r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("n_split_docs"), r.getAs[Double]("cross_pair_frac"))
      if (s < ids.last) assert(nt == L, s"non-final seq $s has $nt tokens")
      val ov = overlaps(s)
      assert(nd == ov.length && nt == ov.map(_._2).sum)
      assert(ns == ov.count(_._3))
      val same = ov.map(o => o._2 * (o._2 - 1)).sum
      val expect =
        if (nt > 1) 1.0 - same.toDouble / (nt * (nt - 1)) else 0.0
      assert(math.abs(frac - expect) < 1e-6, s"seq $s frac $frac != $expect")
      // single-doc sequences are pure; multi-doc ones must mix
      if (nd == 1) assert(frac == 0.0) else assert(frac > 0.0)
    }
    // a crafted mega-doc: its interior sequences are single-doc pure
    val spark2 = tables.documents.sparkSession
    import spark2.implicits._
    val mega = Seq((0L, ("tok " * 2000).trim), (1L, "a b c"))
      .toDF("doc_id", "text")
    val mc = TextAnalysis.packComposition(mega, L).collect()
    assert(mc.count(r => r.getAs[Long]("n_docs") == 1
      && r.getAs[Double]("cross_pair_frac") == 0.0) >= 2)
  }

  test("stratifiedHoldout: the allocation sums to EXACTLY the budget, " +
    "matches a driver-side largest-remainder replay per stratum, and " +
    "selection follows the md5 order") {
    val B = 100L
    val rows = TextAnalysis.stratifiedHoldout(tables.documents, B)
      .collect()
    assert(rows.map(_.getAs[Long]("holdout")).sum == B,
      "largest remainder must hit the budget exactly")
    // driver replay of the Hamilton allocation
    val sizes = rows.groupBy(r => (r.getString(1), r.getString(2)))
      .view.mapValues(_.length.toLong).toMap
    val n = sizes.values.sum
    val base = sizes.view.mapValues(s => B * s / n).toMap
    val k = B - base.values.sum
    val extras = sizes.toSeq
      .map { case (st, s) => (st, B * s % n) }
      .sortBy { case ((l, src), rem) => (-rem, l, src) }
      .take(k.toInt).map(_._1).toSet
    val quota = sizes.keys
      .map(st => st -> (base(st) + (if (extras(st)) 1L else 0L))).toMap
    val picked = rows.filter(_.getAs[Long]("holdout") == 1L)
      .groupBy(r => (r.getString(1), r.getString(2)))
      .view.mapValues(_.length.toLong).toMap
    quota.filter(_._2 > 0).foreach { case (st, q) =>
      assert(picked.getOrElse(st, 0L) == q, s"stratum $st quota $q") }
    // within a stratum, every held-out doc's md5 key precedes every
    // non-held-out doc's (the deterministic selection order)
    def h(id: Long) = java.lang.Long.parseLong(
      org.apache.commons.codec.digest.DigestUtils
        .md5Hex(s"$id:holdout").substring(0, 8), 16)
    rows.groupBy(r => (r.getString(1), r.getString(2)))
      .foreach { case (_, rs) =>
        val in = rs.filter(_.getAs[Long]("holdout") == 1L)
          .map(r => (h(r.getLong(0)), r.getLong(0)))
        val out = rs.filter(_.getAs[Long]("holdout") == 0L)
          .map(r => (h(r.getLong(0)), r.getLong(0)))
        if (in.nonEmpty && out.nonEmpty)
          assert(implicitly[Ordering[(Long, Long)]].lt(in.max, out.min),
            s"holdout selection out of md5 order: ${in.max} !< ${out.min}")
      }
  }

  test("gramNoveltyCurve: decile 0 is all-new, novelty bounded, and " +
    "new-gram counts conserve the corpus gram vocabulary") {
    val rows = TextAnalysis.gramNoveltyCurve(tables.documents)
      .collect()
    assert(rows.nonEmpty && rows.length <= 10)
    val first = rows.minBy(_.getAs[Long]("decile"))
    assert(first.getAs[Double]("novelty") == 1.0,
      "the first decile's grams are all first occurrences")
    rows.foreach { r =>
      val (d, ng, nov) = (r.getAs[Long]("distinct_grams"),
        r.getAs[Long]("new_grams"), r.getAs[Double]("novelty"))
      assert(ng >= 0 && ng <= d)
      assert(nov >= 0.0 && nov <= 1.0)
    }
    // conservation: sum of new grams == the corpus's distinct gram
    // vocabulary (each gram is new exactly once)
    val vocab = tables.documents
      .select(explode(array_distinct(
        graft.operators.Dedup.shingles(col("text"), 3))).as("g"))
      .distinct().count()
    assert(rows.map(_.getAs[Long]("new_grams")).sum == vocab)
  }

  test("gramLoopScore: crafted loop and echo score exactly; every " +
    "planted fixture doc flags") {
    val spark2 = tables.documents.sparkSession
    import spark2.implicits._
    // doc 0 (0 % 31 == 0) gets its first 8 tokens appended x3 by the
    // operator itself: "a b c d" then recurs 1 + 3 = 4 times; doc 1
    // has a natural echo ("p q r s" twice) below the flag bar
    val docs = Seq(
      (0L, "a b c d e f g h x y"),
      (1L, "p q r s p q r s t"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.gramLoopScore(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getString(3), r.getDouble(4), r.getLong(5))).toMap
    assert(got(0L) == ((31L, 4L, "a b c d", 0.129, 1L)))
    assert(got(1L) == ((6L, 2L, "p q r s", 0.3333, 0L)))
    // fixture-wide: every planted doc flags with the planted repeat
    val fx = TextAnalysis.gramLoopScore(tables.documents).collect()
    val plantedRows = fx.filter(_.getLong(0) % 31 == 0)
    assert(plantedRows.nonEmpty)
    plantedRows.foreach { r =>
      assert(r.getAs[Long]("max_rep") >= 4L)
      assert(r.getAs[Long]("loop_flag") == 1L)
    }
  }

  test("seqProvenance: the inverse packing lookup agrees with a " +
    "driver-side replay — exact offsets, full probe-sequence " +
    "coverage, fragments inside their documents") {
    val L = 512L
    val packed = TextAnalysis.sequencePacking(tables.documents, L)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("start_seq"), r.getAs[Long]("end_seq"),
        r.getAs[Long]("seq_offset")))
    val expect = packed.flatMap { case (id, n, s0, e, off) =>
      val gs = s0 * L + off
      (s0 to e).filter(_ % 20 == 0).map { s =>
        val a = math.max(gs, s * L)
        (s, id, a - s * L, a - gs, math.min(gs + n, (s + 1) * L) - a)
      }
    }.toSet
    val got = TextAnalysis.seqProvenance(tables.documents, L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got == expect)
    assert(got.nonEmpty)
    // per probed sequence: fragments tile the sequence exactly (the
    // final sequence may be partial), offsets in range, fragments
    // inside their documents
    val byDoc = packed.map(p => p._1 -> p._2).toMap
    val lastSeq = packed.map(_._4).max
    got.groupBy(_._1).foreach { case (s, rows) =>
      val tot = rows.toSeq.map(_._5).sum
      if (s < lastSeq) assert(tot == L, s"probe seq $s covers $tot")
      rows.foreach { case (_, id, seqOff, docOff, nTok) =>
        assert(seqOff >= 0 && seqOff < L && nTok > 0)
        assert(docOff >= 0 && docOff + nTok <= byDoc(id))
      }
    }
  }

  test("qualityBudgetCuration: greedy maximality, min-kept score >= " +
    "max-dropped score, and exact equal-token phase splits") {
    val got = TextAnalysis
      .qualityBudgetCuration(tables.documents).collect()
    val kept = got.filter(_.getAs[Long]("kept") == 1L)
    val dropped = got.filter(_.getAs[Long]("kept") == 0L)
    assert(kept.nonEmpty && dropped.nonEmpty)
    val total = got.map(_.getAs[Long]("n_tokens")).sum
    val budget = total * 2 / 5
    // greedy maximality: the kept prefix fits the budget and the FIRST
    // dropped doc (smallest cum among dropped) would overflow it
    val keptSum = kept.map(_.getAs[Long]("n_tokens")).sum
    assert(keptSum == kept.map(_.getAs[Long]("cum_tokens")).max)
    assert(keptSum <= budget)
    assert(dropped.map(_.getAs[Long]("cum_tokens")).min > budget)
    // quality ordering: no dropped doc outscores any kept doc (equal
    // scores may straddle the boundary via the md5 tiebreak)
    assert(kept.map(_.getAs[Long]("score")).min
      >= dropped.map(_.getAs[Long]("score")).max)
    // dropped docs carry phase 0; kept phases partition [1, budget]
    // into 3 equal-token spans: phase = (cum-1)*3 div budget + 1
    assert(dropped.forall(_.getAs[Long]("phase") == 0L))
    kept.foreach { r =>
      val cum = r.getAs[Long]("cum_tokens")
      assert(r.getAs[Long]("phase") == (cum - 1) * 3 / budget + 1)
    }
    assert(kept.map(_.getAs[Long]("phase")).distinct.sorted.toSeq
      == Seq(1L, 2L, 3L))
  }

  test("unigramJsDivergence: identical 0, disjoint 1, crafted middle") {
    val docs = Seq(
      ("sa", "a a b"), ("sb", "a b b"), // mirrored 2/3-1/3 mix
      ("sc", "a a b"), //                 identical to sa
      ("sd", "zz zz")) //                 disjoint from everything
      .toDF("source", "text")
    val got = TextAnalysis.unigramJsDivergence(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n_common"), r.getAs[Double]("jsd"))).toMap
    assert(got.size == 6) // all C(4,2) pairs, disjoint ones completed
    assert(got(("sa", "sc")) == (2L, 0.0))
    assert(got(("sa", "sd")) == (0L, 1.0))
    assert(got(("sc", "sd")) == (0L, 1.0))
    // driver referee for the mixed pair: p=(2/3,1/3), q=(1/3,2/3)
    def t(p: Double, q: Double) =
      0.5 * p * (math.log(2 * p / (p + q)) / math.log(2))
    val expect = t(2.0 / 3, 1.0 / 3) + t(1.0 / 3, 2.0 / 3) +
      t(1.0 / 3, 2.0 / 3) + t(2.0 / 3, 1.0 / 3)
    assert(math.abs(got(("sa", "sb"))._2 - expect) < 1e-4)
    assert(got(("sa", "sb"))._1 == 2L)
  }

  test("unigramJsDivergence: bounds and symmetry-free keying on fixture") {
    val rows = TextAnalysis.unigramJsDivergence(tables.documents)
      .collect()
    val nSrc = tables.documents.select("source").distinct().count()
    assert(rows.length == nSrc * (nSrc - 1) / 2)
    rows.foreach { r =>
      val j = r.getAs[Double]("jsd")
      assert(j >= 0.0 && j <= 1.0, s"jsd out of [0,1]: $j")
      assert(r.getString(0) < r.getString(1))
    }
  }

  test("tokenHistDrift: zero for identical mixes, DPI vs exact JSD, " +
    "planted namespace shift surfaces") {
    // two sources with IDENTICAL token mixes drift equally; a third
    // on a disjoint namespace drifts strictly more vs the blend
    val docs = Seq(
      ("s1", "a b c a b c"), ("s2", "a b c a b c"),
      ("s3", "zz1 zz2 zz3 zz1 zz2 zz3"))
      .toDF("source", "text")
    val got = TextAnalysis.tokenHistDrift(docs).collect()
      .map(r => r.getString(0) -> r.getAs[Double]("jsd_vs_corpus"))
      .toMap
    // s1/s2 are 2/3 of the corpus mass on their own tokens: nonzero
    // but small and EQUAL; s3 is the 1/3 outlier: strictly larger
    assert(got("s1") == got("s2"))
    assert(got("s3") > got("s1"),
      s"namespace outlier ${got("s3")} not above in-mix ${got("s1")}")
    // single source == corpus -> exactly 0
    val solo = TextAnalysis
      .tokenHistDrift(Seq(("only", "p q r p")).toDF("source", "text"))
      .collect().head
    assert(solo.getAs[Double]("jsd_vs_corpus") == 0.0)

    // data-processing inequality on the fixture: the bucketed JSD
    // never exceeds the exact token-level JSD (hashing merges mass)
    val fix = TextAnalysis.tokenHistDrift(tables.documents).collect()
      .map(r => r.getString(0) -> r.getAs[Double]("jsd_vs_corpus"))
      .toMap
    val toks = tables.documents.select("source", "text").collect()
      .flatMap(r => r.getString(1).split(" ").filter(_.nonEmpty)
        .map(t => (r.getString(0), t)))
    val corpusC = toks.groupBy(_._2).map { case (t, v) => t -> v.length }
    val nAll = toks.length.toDouble
    def half(x: Double, y: Double) =
      if (x == 0.0) 0.0
      else 0.5 * x * (math.log(2 * x / (x + y)) / math.log(2.0))
    toks.groupBy(_._1).foreach { case (src, v) =>
      val srcC = v.groupBy(_._2).map { case (t, w) => t -> w.length }
      val nS = v.length.toDouble
      val exact = corpusC.keys.map { t =>
        val p = srcC.getOrElse(t, 0) / nS
        val q = corpusC(t) / nAll
        half(p, q) + half(q, p)
      }.sum
      assert(fix(src) <= exact + 5e-4,
        s"$src: bucketed ${fix(src)} exceeds exact $exact")
      assert(fix(src) >= 0.0 && fix(src) <= 1.0)
    }
  }

  test("frequencySpectrum: crafted buckets, hapax share, fixture " +
    "type/token conservation") {
    val docs = Seq(("s", "a a a b b c")).toDF("source", "text")
    val got = TextAnalysis.frequencySpectrum(docs).collect()
      .map(r => r.getAs[Long]("k") ->
        (r.getAs[Long]("n_types"), r.getAs[Long]("n_tokens"),
          r.getAs[Double]("type_share"))).toMap
    assert(got(1L) == (1L, 1L, 0.333333)) // hapax: c
    assert(got(2L) == (1L, 2L, 0.333333)) // b
    assert(got(3L) == (1L, 3L, 0.333333)) // a
    val fix = TextAnalysis.frequencySpectrum(tables.documents).collect()
    val bySrc = fix.groupBy(_.getString(0))
    val truth = tables.documents.select("source", "text").collect()
      .flatMap(r => r.getString(1).split(" ").filter(_.nonEmpty)
        .map(t => (r.getString(0), t)))
      .groupBy(_._1)
    bySrc.foreach { case (src, rows) =>
      val toks = truth(src).map(_._2)
      assert(rows.map(_.getAs[Long]("n_types")).sum
        == toks.distinct.length.toLong, s"$src type conservation")
      assert(rows.map(_.getAs[Long]("n_tokens")).sum
        == toks.length.toLong, s"$src token conservation")
    }
  }

  test("duplicationProfile: crafted cluster sizes and duplicate token " +
    "mass, fixture conservation") {
    val docs = (Seq.fill(3)("x y") ++ Seq.fill(2)("p q r") ++ Seq("m"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = TextAnalysis.duplicationProfile(docs).collect()
      .map(r => r.getAs[Long]("db") -> r).toMap
    val d3 = got(3L)
    assert(d3.getAs[Long]("n_groups") == 1
      && d3.getAs[Long]("n_docs") == 3
      && d3.getAs[Long]("n_dup_docs") == 2
      && d3.getAs[Long]("dup_tokens") == 4
      && d3.getAs[Double]("doc_share") == 0.5
      && d3.getAs[Double]("dup_token_share") == 0.307692)
    val d1 = got(1L)
    assert(d1.getAs[Long]("n_dup_docs") == 0
      && d1.getAs[Double]("dup_token_share") == 0.0)
    val fix = TextAnalysis.duplicationProfile(tables.documents).collect()
    assert(fix.map(_.getAs[Long]("n_docs")).sum
      == tables.documents.count())
    val totTokens = tables.documents.select("text").collect()
      .map(_.getString(0).split(" ", -1).length.toLong).sum
    assert(fix.map(r => r.getAs[Long]("n_tokens")).sum == totTokens)
  }

  test("compressionRatio: exact parity with the java.util.zip " +
    "reference, repetitive-vs-prose ordering, and the SQL surface") {
    val rows = TextAnalysis.compressionRatio(tables.documents).collect()
    val truth = tables.documents.select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        graft.functions.CompressionFunctions
          .deflateLen(r.getString(1).getBytes("UTF-8")).toLong).toMap
    rows.foreach { r =>
      assert(r.getAs[Long]("deflate_bytes") == truth(r.getLong(0)),
        s"doc ${r.getLong(0)}: engine deflate diverges from reference")
    }
    // determinism: a second run is identical
    val again = TextAnalysis.compressionRatio(tables.documents).collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq)

    // repetitive text compresses far better than diverse text
    val crafted = Seq(
      (1L, Seq.fill(300)("ab").mkString(" ")),
      (2L, (1 to 300).map(i => s"w${i}q${i * 7 % 101}").mkString(" ")))
      .toDF("doc_id", "text")
    val cr = TextAnalysis.compressionRatio(crafted).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(cr(1L).getAs[Double]("compression_ratio")
      > 2 * cr(2L).getAs[Double]("compression_ratio"))
    assert(cr(1L).getAs[Int]("repetitive_flag") == 1)
    assert(cr(2L).getAs[Int]("repetitive_flag") == 0)

    val sqlLen = spark.sql(
      "SELECT deflate_len('abababababababab') AS l").head().getInt(0)
    assert(sqlLen == graft.functions.CompressionFunctions
      .deflateLen("abababababababab".getBytes("UTF-8")))
  }

  test("dedupAdjustedMixture: quota conservation, monotone stratum " +
    "shrink, and the planted boilerplate stratum loses quota") {
    import org.apache.spark.sql.functions.{col => c}
    // stratum (l1, sA): 4 near-identical docs (3 die in canonical
    // keep); (l1, sB): 4 distinct docs — sA's quota must shift down
    val mk = (id: Long, txt: String, src: String) =>
      (id, txt, "l1", src, txt.length.toLong)
    val docs = (
      (1L to 4L).map(i => mk(i,
        "alpha beta gamma delta epsilon zeta", "sA")) ++
      Seq(
        mk(11L, "one two three four five six", "sB"),
        mk(12L, "seven eight nine ten eleven twelve", "sB"),
        mk(13L, "red green blue yellow purple orange", "sB"),
        mk(14L, "north south east west up down", "sB")))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = TextAnalysis.dedupAdjustedMixture(docs, budget = 100L)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val sA = got(("l1", "sA")); val sB = got(("l1", "sB"))
    assert(sA.getAs[Long]("n_before") == 4
      && sA.getAs[Long]("n_after") == 1,
      s"canonical keep should leave 1 of the 4 twins: $sA")
    assert(sB.getAs[Long]("n_after") == 4)
    assert(sA.getAs[Long]("quota_shift") < 0
      && sB.getAs[Long]("quota_shift") > 0)
    // both plans conserve the budget exactly
    assert(got.values.map(_.getAs[Long]("quota_before")).sum == 100L)
    assert(got.values.map(_.getAs[Long]("quota_after")).sum == 100L)

    // fixture: monotone shrink and conservation
    val fix = TextAnalysis.dedupAdjustedMixture(tables.documents)
      .collect()
    fix.foreach { r =>
      assert(r.getAs[Long]("n_after") <= r.getAs[Long]("n_before"))
      assert(r.getAs[Long]("quota_shift")
        == r.getAs[Long]("quota_after") - r.getAs[Long]("quota_before"))
    }
    assert(fix.map(_.getAs[Long]("quota_before")).sum == 100000L)
    assert(fix.map(_.getAs[Long]("quota_after")).sum == 100000L)
    val droppedTotal = fix.map(r =>
      r.getAs[Long]("n_before") - r.getAs[Long]("n_after")).sum
    val comp = graft.operators.Dedup
      .nearDupComponents(tables.documents)
    val expectDropped =
      comp.count() - comp.select(c("component")).distinct().count()
    assert(droppedTotal == expectDropped,
      s"dropped $droppedTotal vs components math $expectDropped")
  }

  test("shardHomogeneity: crafted entropy values and fixture conservation") {
    // one shard, 2+2 langs -> entropy exactly 1.0, dominant share 0.5
    // with the (count, lang) struct-max tie rule picking 'zb'
    val docs = Seq(
      (1L, "w x", "za", "s1"), (2L, "w x", "za", "s1"),
      (3L, "w x", "zb", "s2"), (4L, "w x", "zb", "s2"))
      .toDF("doc_id", "text", "lang", "source")
    val one = TextAnalysis.shardHomogeneity(docs, nShards = 1).collect()
    assert(one.length == 1)
    val r = one.head
    assert(r.getAs[Long]("n_docs") == 4
      && r.getAs[Long]("n_sources") == 2
      && r.getAs[String]("dominant_lang") == "zb"
      && r.getAs[Double]("dominant_frac") == 0.5
      && r.getAs[Double]("lang_entropy") == 1.0)
    // single-language corpus -> entropy -0.0 folded to 0.0
    val mono = TextAnalysis.shardHomogeneity(
      docs.withColumn("lang", lit("only")), nShards = 1).collect().head
    assert(mono.getAs[Double]("lang_entropy") == 0.0
      && mono.getAs[Double]("dominant_frac") == 1.0)

    // fixture: shards conserve docs/tokens and agree with the q156
    // spans they claim to audit
    val rows = TextAnalysis.shardHomogeneity(tables.documents).collect()
    val spans = TextAnalysis.shuffleShards(tables.documents).collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == spans.length)
    assert(rows.map(_.getAs[Long]("n_tokens")).sum
      == spans.map(_.getAs[Long]("n_tokens")).sum)
    val byShard = spans.groupBy(_.getAs[Int]("shard"))
      .map { case (s, v) => s -> v.length.toLong }
    rows.foreach { row =>
      assert(row.getAs[Long]("n_docs")
        == byShard(row.getAs[Int]("shard")))
      val e = row.getAs[Double]("lang_entropy")
      assert(e >= 0.0 && e <= math.log(5) / math.log(2) + 1e-9)
    }
  }

  test("curriculumInterleave: permutation, stride spread, exact replay") {
    val out = TextAnalysis.curriculumInterleave(tables.documents)
      .collect()
    val n = out.length
    // global_pos is a permutation of 1..n
    assert(out.map(_.getAs[Long]("global_pos")).sorted.toSeq
      == (1L to n.toLong).toSeq)
    // driver replay: same md5 key, same stride arithmetic
    val md = java.security.MessageDigest.getInstance("MD5")
    def h32(id: Long): Long = {
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      java.lang.Long.parseLong(hex, 16)
    }
    val docs = tables.documents.select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), h32(r.getLong(0))))
    val bySrc = docs.groupBy(_._2)
    val strideOf = docs.map { case (id, src, h) =>
      val grp = bySrc(src).sortBy(d => (d._3, d._1))
      val r = grp.indexWhere(_._1 == id) + 1L
      val nS = grp.length.toLong
      (id, (2 * r - 1) * 4294967296L / (2 * nS), h, r, nS)
    }
    val order = strideOf.sortBy(d => (d._2, d._3, d._1))
      .zipWithIndex.map { case (d, i) => d._1 -> (i + 1L) }.toMap
    out.foreach { r =>
      val id = r.getLong(0)
      val exp = strideOf.find(_._1 == id).get
      assert(r.getAs[Long]("stride_key") == exp._2, s"doc $id stride")
      assert(r.getAs[Long]("rank_in_source") == exp._4)
      assert(r.getAs[Long]("n_src") == exp._5)
      assert(r.getAs[Long]("global_pos") == order(id), s"doc $id pos")
    }
    // stride guarantee: any prefix holds each source's proportional
    // share within ±1 (the reason this ordering exists)
    val seq = out.sortBy(_.getAs[Long]("global_pos"))
      .map(_.getString(1))
    val totals = seq.groupBy(identity).map { case (s, v) => s -> v.length }
    Seq(n / 4, n / 2, 3 * n / 4).foreach { m =>
      val pre = seq.take(m).groupBy(identity)
        .map { case (s, v) => s -> v.length }
      totals.foreach { case (src, tot) =>
        val got = pre.getOrElse(src, 0).toDouble
        val share = m.toDouble * tot / n
        assert(math.abs(got - share) <= 1.0 + 1e-9,
          s"prefix $m source $src: $got vs $share")
      }
    }
  }

  test("oovRate: crafted vocab cutoff is deterministic at the tie " +
    "boundary; fixture agrees with a driver-side replay") {
    val spark2 = tables.documents.sparkSession
    import spark2.implicits._
    // counts: a=3, b=1, c=1 — top-2 takes a then b (token tie-break),
    // c is OOV
    val docs = Seq((1L, "a a b", "x", "s1"), (2L, "a c", "x", "s2"))
      .toDF("doc_id", "text", "lang", "source")
    val got = TextAnalysis.oovRate(docs, vocabSize = 2L).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6)))
      .toMap
    assert(got("s1") == ((3L, 0L, 2L, 0L, 0.0, 0.0)))
    assert(got("s2") == ((2L, 1L, 2L, 1L, 0.5, 0.5)))
    // fixture: driver replay of the top-1000 cutoff and both rates
    val toks = tables.documents.collect().flatMap(r =>
      r.getString(1).split(" ").filter(_.nonEmpty)
        .map(t => (r.getString(3), t)))
    val cnt = toks.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val vocab = cnt.toSeq.sortBy { case (t, n) => (-n, t) }
      .take(1000).map(_._1).toSet
    val fx = TextAnalysis.oovRate(tables.documents).collect()
    fx.foreach { r =>
      val src = r.getString(0)
      val mine = toks.filter(_._1 == src).map(_._2)
      assert(r.getLong(1) == mine.length.toLong)
      assert(r.getLong(2) == mine.count(!vocab(_)).toLong)
      assert(r.getLong(3) == mine.distinct.length.toLong)
      assert(r.getLong(4) == mine.distinct.count(!vocab(_)).toLong)
    }
  }

  test("clusterQualitySpread: a planted-entropy member makes its " +
    "cluster divergent; fixture agrees with a component-join replay") {
    val spark2 = tables.documents.sparkSession
    import spark2.implicits._
    // docs 29 and 30 share one text -> one minhash component; doc 29
    // is ALSO the q212 planting key, so its entropy drops and the
    // cluster's spread is exactly ent(30) - ent(29)
    val t = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq((29L, t), (30L, t), (40L, "other words entirely " +
      "different from the pair above obviously"))
      .toDF("doc_id", "text")
    val ents = TextAnalysis.charEntropy(docs).collect()
      .map(r => r.getLong(0) ->
        math.round(r.getAs[Double]("char_entropy") * 10000)).toMap
    val got = TextAnalysis.clusterQualitySpread(docs).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getLong(1) == 2L)
    assert(r.getLong(2) == math.min(ents(29L), ents(30L)))
    assert(r.getLong(3) == math.max(ents(29L), ents(30L)))
    assert(r.getLong(4) == r.getLong(3) - r.getLong(2))
    assert(r.getLong(4) > 0L, "planted member must create spread")
    // fixture-wide: exact agreement with a driver-side component join
    val comp = graft.operators.Dedup.nearDupComponents(tables.documents)
      .collect().map(r2 => r2.getLong(0) -> r2.getLong(1))
    val fent = TextAnalysis.charEntropy(tables.documents).collect()
      .map(r2 => r2.getLong(0) ->
        math.round(r2.getAs[Double]("char_entropy") * 10000)).toMap
    val want = comp.groupBy(_._2).map { case (c, ms) =>
      val es = ms.map(m => fent(m._1))
      c -> (ms.length.toLong, es.min, es.max)
    }
    val fx = TextAnalysis.clusterQualitySpread(tables.documents)
      .collect()
    assert(fx.map(_.getLong(0)).toSet == want.keySet)
    fx.foreach { r2 =>
      val (n, lo, hi) = want(r2.getLong(0))
      assert((r2.getLong(1), r2.getLong(2), r2.getLong(3)) ==
        ((n, lo, hi)))
      assert(r2.getLong(5) == (if (hi - lo >= 5000) 1L else 0L))
    }
  }

  test("entropyDrift: per-source JSD matches a driver-side histogram " +
    "replay; bounds hold") {
    val rows = TextAnalysis.entropyDrift(tables.documents).collect()
    val ent = TextAnalysis.charEntropy(tables.documents).collect()
      .map(r => r.getLong(0) ->
        math.round(r.getAs[Double]("char_entropy") * 10000)).toMap
    val src = tables.documents.select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val bucketed = src.map { case (id, s) =>
      (s, math.min(ent(id) / 1250, 63L))
    }
    val per = bucketed.groupBy(identity).view.mapValues(_.length.toLong)
      .toMap
    val corpus = bucketed.groupBy(_._2).view
      .mapValues(_.length.toLong).toMap
    val ctot = bucketed.length.toDouble
    rows.foreach { r =>
      val s = r.getString(0)
      val tot = bucketed.count(_._1 == s).toDouble
      assert(r.getLong(1) == tot.toLong)
      val jsd = per.collect { case ((`s`, b), c) =>
        val p = c / tot
        val q = corpus(b) / ctot
        0.5 * p * (math.log(2 * p / (p + q)) / math.log(2)) +
          0.5 * q * (math.log(2 * q / (p + q)) / math.log(2))
      }.sum + 0.5 * (1.0 - per.collect {
        case ((`s`, b), _) => corpus(b) / ctot
      }.sum)
      assert(math.abs(r.getDouble(3) - jsd) < 1e-3,
        s"$s: ${r.getDouble(3)} vs $jsd")
      assert(r.getDouble(3) >= -1e-9 && r.getDouble(3) <= 1.0 + 1e-9)
    }
  }

  test("signalAgreement: all six pairs present, r in [-1,1], and the " +
    "matrix matches a driver-side Pearson referee on the same signals") {
    val rows = TextAnalysis.signalAgreement(tables.documents).collect()
    assert(rows.length == 6)
    rows.foreach(r =>
      assert(math.abs(r.getDouble(2)) <= 1.0, r.toString))
    // referee: collect the per-doc signals and compute Pearson directly
    val ent = TextAnalysis.charEntropy(tables.documents).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("char_entropy")).toMap
    val qs = TextAnalysis.qualityScore(tables.documents).collect()
      .map(r => r.getLong(0) -> (r.getAs[Double]("chars_per_token"),
        r.getAs[Double]("stopword_ratio"))).toMap
    val loop = TextAnalysis.gramLoopScore(tables.documents).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("loop_frac")).toMap
    val ids = ent.keySet & qs.keySet & loop.keySet
    val sig = Map(
      "char_entropy" -> ids.toSeq.sorted.map(ent),
      "chars_per_token" -> ids.toSeq.sorted.map(qs(_)._1),
      "stopword_ratio" -> ids.toSeq.sorted.map(qs(_)._2),
      "loop_frac" -> ids.toSeq.sorted.map(loop))
    def pearson(a: Seq[Double], b: Seq[Double]): Double = {
      val n = a.length.toDouble
      val (ma, mb) = (a.sum / n, b.sum / n)
      val cov = a.zip(b).map { case (x, y) => (x - ma) * (y - mb) }.sum
      val (va, vb) = (a.map(x => (x - ma) * (x - ma)).sum,
        b.map(y => (y - mb) * (y - mb)).sum)
      cov / math.sqrt(va * vb)
    }
    rows.foreach { r =>
      val want = pearson(sig(r.getString(0)), sig(r.getString(1)))
      assert(math.abs(r.getDouble(2) - want) < 1e-5,
        s"${r.getString(0)}~${r.getString(1)}: ${r.getDouble(2)} vs $want")
    }
  }

  test("dataBudgetForecast: exact quotas and horizons; a quota-0 " +
    "stratum reports a NULL horizon, not a crash or a zero") {
    val spark2 = tables.documents.sparkSession
    import spark2.implicits._
    // budget 2: weights 2e6/1e6/1e6 (sqrt of 4/1/1 docs), tw 4e6 ->
    // base 1/0/0, leftover 1 goes to the lexicographically first of
    // the tied remainders (b) -> quotas a=1, b=1, c=0
    val docs = ((1L to 4L).map(i => (i, "t t", "a", "s1")) ++
      Seq((10L, "x", "b", "s2"), (11L, "y", "c", "s3")))
      .toDF("doc_id", "text", "lang", "source")
    val got = TextAnalysis.dataBudgetForecast(docs, budget = 2L)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getLong(3),
        r.getLong(4),
        if (r.isNullAt(5)) -1L else r.getLong(5), r.getLong(6))).toMap
    assert(got("a") == ((4L, 8L, 1L, 4L, 0L)))
    assert(got("b") == ((1L, 1L, 1L, 1L, 0L)))
    assert(got("c") == ((1L, 1L, 0L, -1L, 0L)))
    // fixture-wide: quotas still sum exactly to the default budget,
    // and every horizon is consistent with its quota
    val fx = TextAnalysis.dataBudgetForecast(tables.documents).collect()
    assert(fx.map(_.getAs[Long]("quota")).sum == 100000L)
    fx.foreach { r =>
      val (n, q) = (r.getAs[Long]("n_docs"), r.getAs[Long]("quota"))
      if (q > 0) assert(r.getAs[Long]("epochs_full") == n / q)
      else assert(r.isNullAt(5))
      assert(r.getAs[Long]("overdraw_flag") == (if (q > n) 1L else 0L))
    }
  }

  test("charEntropy: crafted histograms score exactly; planted fixture " +
    "docs flag, natural docs don't") {
    val spark2 = tables.documents.sparkSession
    import spark2.implicits._
    // doc 1: "aaab bb" -> non-space a:3 b:3, H = 1.0 exactly, flag
    // (3*4 >= 6); doc 2: six distinct chars, H = log2 6, no flag;
    // doc 29 (29 % 29 == 0) planted: "x y z" + "xxxxx" -> x:6 y:1 z:1,
    // H = -(0.75 log2 0.75 + 2 * 0.125 log2 0.125) = 1.0613
    val docs = Seq((1L, "aaab bb"), (2L, "ab cd ef"), (29L, "x y z"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.charEntropy(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getLong(5))).toMap
    assert(got(1L) == ((6L, 2L, 3L, 1.0, 1L)))
    assert(got(2L) == ((6L, 6L, 1L, 2.585, 0L)))
    assert(got(29L) == ((8L, 3L, 6L, 1.0613, 1L)))
    // fixture-wide: every planted doc flags, no natural doc does, and
    // the non-space char mass is conserved against a direct count
    val fx = TextAnalysis.charEntropy(tables.documents).collect()
    fx.foreach { r =>
      val planted = r.getLong(0) % 29 == 0
      assert(r.getAs[Long]("repetitive_flag") == (if (planted) 1L else 0L),
        s"doc ${r.getLong(0)} planted=$planted")
      assert(r.getAs[Double]("char_entropy") > 0.0)
    }
    val direct = tables.documents.select(
      sum(length(regexp_replace(col("text"), " ", "")) +
        when(pmod(col("doc_id"), lit(29)) === 0, length(col("text")))
          .otherwise(lit(0L))).cast("long")).head.getLong(0)
    assert(fx.map(_.getAs[Long]("n_chars_x")).sum == direct)
  }

  test("mojibakeAudit: each planted class counts exactly, multi-class " +
    "doc 0 carries all three, natural docs are clean") {
    val spark2 = tables.documents.sparkSession
    import spark2.implicits._
    // doc 0 hits all three plants (0 mod anything == 0):
    // "hi" + " " + 5 repl + " " + "Ã©Ã¨" + " " + 3 BEL = 17 chars
    val docs = Seq((0L, "hi"), (1L, "ok")).toDF("doc_id", "text")
    val got = TextAnalysis.mojibakeAudit(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6))).toMap
    assert(got(0L) == ((17L, 5L, 2L, 3L, 1L, 0.4118)))
    assert(got(1L) == ((2L, 0L, 0L, 0L, 0L, 1.0)))
    // fixture-wide: flags appear exactly on the planted keys
    val fx = TextAnalysis.mojibakeAudit(tables.documents).collect()
    fx.foreach { r =>
      val id = r.getLong(0)
      val planted = id % 37 == 0 || id % 41 == 0 || id % 43 == 0
      assert(r.getAs[Long]("artifact_flag") == (if (planted) 1L else 0L))
      assert(r.getAs[Long]("n_replacement") ==
        (if (id % 37 == 0) 5L else 0L))
      assert(r.getAs[Long]("n_mojibake") == (if (id % 41 == 0) 2L else 0L))
      assert(r.getAs[Long]("n_control") == (if (id % 43 == 0) 3L else 0L))
    }
  }

  test("langQualityCalibration: ranks are the within-language integer " +
    "order, the decile cut is exact, ties break by doc_id") {
    val spark2 = tables.documents.sparkSession
    import spark2.implicits._
    // lang a: 12 docs, iscore = 1000 * n_chars (one token each) ->
    // ceil(12/10) = 2 flagged; docs 100/101 tie on iscore 5000 and
    // must rank by doc_id. lang b: 5 docs -> exactly 1 flagged.
    val a = (1L to 10L).map(i => (i, "w", "a", i + 10L)) ++
      Seq((100L, "w", "a", 5L), (101L, "w", "a", 5L))
    val b = (200L to 204L).map(i => (i, "w w", "b", 2L * i))
    val docs = (a ++ b).toDF("doc_id", "text", "lang", "n_chars")
    val got = TextAnalysis.langQualityCalibration(docs).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    // ties: 100 ranks 1, 101 ranks 2 (doc_id tiebreak), both flagged
    assert(got(100L) == (("a", 5000L, 1L, 12L, 1L)))
    assert(got(101L) == (("a", 5000L, 2L, 12L, 1L)))
    assert(got(1L) == (("a", 11000L, 3L, 12L, 0L)))
    // lang b: smallest iscore (doc 200) is the single flagged doc
    assert(got(200L)._5 == 1L && got(201L)._5 == 0L)
    assert((200L to 204L).map(got(_)._3).toSeq == (1L to 5L))
    // fixture-wide: per-language flagged count == ceil(n_lang / 10)
    val fx = TextAnalysis.langQualityCalibration(tables.documents)
      .collect()
    fx.groupBy(_.getString(1)).foreach { case (lang, rows) =>
      val n = rows.length
      val flagged = rows.count(_.getAs[Long]("low_decile") == 1L)
      assert(flagged == (n + 9) / 10, s"lang $lang: $flagged of $n")
      assert(rows.map(_.getAs[Long]("lang_rank")).sorted.toSeq ==
        (1L to n.toLong))
    }
  }

  test("tfidfKeywords: crafted idf6 scaling, exact integer ranking, " +
    "token tie-break") {
    val spark2 = tables.documents.sparkSession
    import spark2.implicits._
    // N = 3 docs; df: apple 1, banana 2, common 3, cherry 1
    val docs = Seq(
      (1L, "apple apple banana common"),
      (2L, "banana common common"),
      (3L, "cherry common")).toDF("doc_id", "text")
    def idf6(df: Long): Long =
      math.round((math.log(4.0 / (df + 1.0)) + 1.0) * 1e6)
    val got = TextAnalysis.tfidfKeywords(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getString(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    // doc 1: apple tf=2 df=1 wins, then banana (df=2), then common
    assert(got((1L, 1L)) == (("apple", 2L, 1L, 2L * idf6(1))))
    assert(got((1L, 2L)) == (("banana", 1L, 2L, idf6(2))))
    assert(got((1L, 3L)) == (("common", 1L, 3L, idf6(3))))
    // doc 2: common tf=2 scores 2e6, banana idf6(2)=1287682 < 2e6
    assert(got((2L, 1L))._1 == "common" && got((2L, 1L))._4 == 2L * idf6(3))
    assert(got((2L, 2L))._1 == "banana")
    // doc 3: rare cherry beats ubiquitous common
    assert(got((3L, 1L))._1 == "cherry" && got((3L, 2L))._1 == "common")
    // tie-break: two tokens with identical tf and df rank by string
    val tie = Seq((9L, "zeta alpha")).toDF("doc_id", "text")
    val tied = TextAnalysis.tfidfKeywords(tie).collect()
    assert(tied.map(_.getString(2)).toSeq == Seq("alpha", "zeta"))
    // fixture-wide: every doc emits exactly min(3, n_distinct) rows,
    // ranks are 1..k, scores non-increasing within a doc
    val fx = TextAnalysis.tfidfKeywords(tables.documents).collect()
    fx.groupBy(_.getLong(0)).foreach { case (id, rows) =>
      val sorted = rows.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq ==
        (1L to rows.length.toLong), s"doc $id ranks")
      val scores = sorted.map(_.getLong(5))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
  }

  test("zipfFitBySource: OLS sums match a driver-side replay; " +
    "fixture slopes are negative with sane r2") {
    val spark2 = tables.documents.sparkSession
    import spark2.implicits._
    // one source, counts 4/2/1/1 -> ranks 1..4 with token tie-break
    val docs = Seq(
      (1L, "a a b z", "s1"), (2L, "a a y", "s1")).toDF(
      "doc_id", "text", "source")
    val got = TextAnalysis.zipfFitBySource(docs).collect().head
    assert(got.getString(0) == "s1")
    assert(got.getLong(1) == 4L && got.getLong(2) == 7L
      && got.getLong(3) == 4L)
    // replay: ranked (a,4) (b,1) (y,1) (z,1) -> tie-break by token
    val pts = Seq((1L, 4L), (2L, 1L), (3L, 1L), (4L, 1L))
      .map { case (rk, n) => (math.log(rk.toDouble), math.log(n.toDouble)) }
    val m = pts.length.toDouble
    val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
    val sxx = pts.map(p => p._1 * p._1).sum
    val sxy = pts.map(p => p._1 * p._2).sum
    val syy = pts.map(p => p._2 * p._2).sum
    val dx = m * sxx - sx * sx
    val cv = m * sxy - sx * sy
    assert(math.abs(got.getDouble(4) - cv / dx) < 1e-6)
    assert(math.abs(got.getDouble(5) - (sy - cv / dx * sx) / m) < 1e-6)
    assert(math.abs(got.getDouble(6)
      - cv * cv / (dx * (m * syy - sy * sy))) < 1e-6)
    // degenerate source (one distinct token) yields NULL fit, not NaN
    val degen = Seq((1L, "x x x", "mono")).toDF("doc_id", "text", "source")
    val d = TextAnalysis.zipfFitBySource(degen).collect().head
    assert(d.isNullAt(4) && d.isNullAt(5) && d.isNullAt(6))
    // fixture-wide: every source slopes negative, r2 in (0, 1]
    TextAnalysis.zipfFitBySource(tables.documents).collect().foreach { r =>
      assert(r.getDouble(4) < 0.0, s"source ${r.getString(0)} slope")
      assert(r.getDouble(6) > 0.0 && r.getDouble(6) <= 1.0)
    }
  }

  test("knScore: crafted backoff arithmetic for seen, unseen-bigram, " +
    "and unseen-context cases") {
    val spark2 = tables.documents.sparkSession
    import spark2.implicits._
    // holdMod=2: odd docs train, even docs are scored.
    // train bigrams: (a b) x2, (b a) x2, (b c) -> n1all=3
    // cx: a->2 (n1f 1), b->3 (n1f 2); n1r: a 1, b 1, c 1
    val docs = Seq(
      (1L, "a b a b c"), (3L, "b a"),
      (2L, "a b q c")).toDF("doc_id", "text")
    val got = TextAnalysis.knScore(docs, holdMod = 2).collect()
    assert(got.length == 1)
    val r = got.head
    // doc 2 bigrams: (a b) seen; (b q) unseen bigram, seen ctx;
    // (q c) unseen context
    assert(r.getLong(1) == 3L) // n_bigrams
    assert(r.getLong(2) == 1L) // n_unseen_ctx
    assert(r.getLong(3) == 2L) // n_unseen_bigram
    val pAB = (2.0 - 0.75) / 2.0 + 0.75 * 1 / 2.0 * (1.0 / 3)
    val pBQ = 0.0 + 0.75 * 2 / 3.0 * (1.0 / 4) // q unseen cont -> floor
    val pQC = 1.0 / 3 // backoff to pcont(c)
    val want = (math.log(pAB) + math.log(pBQ) + math.log(pQC)) / 3
    assert(math.abs(r.getDouble(4) - want) < 1e-4)
    // fixture-wide: unseen-ctx ⊆ unseen-bigram, scores are finite
    // negatives (smoothing leaves no zero-probability bigram)
    TextAnalysis.knScore(tables.documents).collect().foreach { row =>
      assert(row.getLong(3) >= row.getLong(2))
      assert(row.getDouble(4) < 0.0 && !row.getDouble(4).isNaN
        && !row.getDouble(4).isInfinite)
    }
  }

  test("sftPairs: split arithmetic, template md5, sub-2-token drop") {
    val spark2 = tables.documents.sparkSession
    import spark2.implicits._
    val docs = Seq(
      (1L, (1 to 20).map(i => s"t$i").mkString(" ")), // pl = 8
      (2L, "a b c d e"), // pl = 2
      (3L, "solo"), // dropped: cannot split
      (4L, "x y")) // pl = 1, minimal pair
      .toDF("doc_id", "text")
    val got = TextAnalysis.sftPairs(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(!got.contains(3L))
    val r1 = got(1L)
    assert(r1.getLong(1) == 20L && r1.getLong(2) == 8L
      && r1.getLong(3) == 12L)
    assert(r1.getLong(4) == 22L && r1.getLong(5) == 10L
      && r1.getLong(6) == 12L)
    assert(math.abs(r1.getDouble(7) - 12.0 / 22) < 1e-4)
    // template fidelity: md5 of the exact rendered string
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val p1 = (1 to 8).map(i => s"t$i").mkString(" ")
    val c1 = (9 to 20).map(i => s"t$i").mkString(" ")
    assert(r1.getString(8) == md5hex(s"INST: $p1 RESP: $c1"))
    val r2 = got(2L)
    assert(r2.getLong(2) == 2L && r2.getLong(3) == 3L)
    assert(r2.getString(8) == md5hex("INST: a b RESP: c d e"))
    val r4 = got(4L)
    assert(r4.getLong(2) == 1L && r4.getLong(3) == 1L)
    assert(r4.getString(8) == md5hex("INST: x RESP: y"))
    // fixture-wide conservation: prompt + response == doc tokens,
    // masked + trained == total
    TextAnalysis.sftPairs(tables.documents).collect().foreach { r =>
      assert(r.getLong(2) + r.getLong(3) == r.getLong(1))
      assert(r.getLong(5) + r.getLong(6) == r.getLong(4))
      assert(r.getLong(2) <= 8L && r.getLong(2) >= 1L)
    }
  }
}
