package graft

import graft.ml.Features
import graft.operators.Dedup
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based suite (SURVEY §5.2.3): invariants over generated
  * long-form (id, site, pageviews) frames and token documents.
  * (Raw scalacheck Gen with manual sampling — the scalatest bridge
  * artifact is not on the offline classpath.) */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  /** Evaluate `f` over `n` deterministic samples of `gen`. */
  private def forSamples[A](gen: Gen[A], n: Int = 5)(f: A => Unit): Unit =
    (0 until n).foreach { i =>
      val params = Gen.Parameters.default.withSize(40)
      gen(params, Seed(42L + i)).foreach(f)
    }

  private val rowGen = for {
    id <- Gen.choose(1, 30)
    site <- Gen.oneOf("alpha", "beta", "gamma", "delta")
    pv <- Gen.choose(1, 500)
  } yield (s"id$id", site, pv.toDouble)

  private val frameGen = Gen.nonEmptyListOf(rowGen).map { rows =>
    // feature grain: one row per (id, site)
    rows.distinctBy(r => (r._1, r._2))
  }

  test("rank ∈ (0,1], exactly one 1.0 per site") {
    forSamples(frameGen) { rows =>
      val parsed = rows.toDF("id", "site", "pageviews")
      val r = Features.ranked(parsed).cache()
      try {
        assert(r.filter(col("rank") <= 0 || col("rank") > 1).count() == 0)
        val tops = r.groupBy("site")
          .agg(sum(when(col("rank") === 1.0, 1).otherwise(0)).as("n_top"))
        assert(tops.filter(col("n_top") =!= 1).count() == 0)
      } finally { r.unpersist(); () }
    }
  }

  test("two-pass quantileCont equals Spark's buffering percentile") {
    // random grouped doubles incl. duplicates and 1-element groups:
    // the histogram formulation must reproduce the ObjectAggregate's
    // linear interpolation exactly (it replaced it in q44/q49)
    // nulls included: both quantileCont and percentile must IGNORE null
    // VALUES (an all-null group — "z" only ever gets nulls — must still
    // produce a row with null quantiles), and a NULL GROUP key is a
    // legitimate group that must aggregate like any other
    val gGen = Gen.nonEmptyListOf(for {
      g <- Gen.frequency(4 -> Gen.oneOf("a", "b", "c").map(Option(_)),
        1 -> Gen.const(Option.empty[String]))
      v <- Gen.choose(-1000, 1000)
      isNull <- Gen.frequency(4 -> false, 1 -> true)
    } yield (g, if (isNull) None else Some((v / 8).toDouble)))
    forSamples(gGen) { rows =>
      val df = (rows :+ ((Option("z"), Option.empty[Double])))
        .toDF("g", "v")
      val mine = graft.operators.Relational
        .quantileCont(df, "g", "v",
          Seq("q1" -> 0.25, "q2" -> 0.5, "q3" -> 0.9))
        .select(col("g"), round(col("q1"), 6).as("q1"),
          round(col("q2"), 6).as("q2"), round(col("q3"), 6).as("q3"))
      val ref = df.groupBy("g").agg(
        round(expr("percentile(v, 0.25)"), 6).as("q1"),
        round(expr("percentile(v, 0.5)"), 6).as("q2"),
        round(expr("percentile(v, 0.9)"), 6).as("q3"))
      assert(mine.exceptAll(ref).count() == 0
        && ref.exceptAll(mine).count() == 0)
    }
  }

  test("quantileDisc equals brute-force ceil(n·p) order statistic") {
    val gGen = Gen.nonEmptyListOf(for {
      g <- Gen.oneOf("a", "b", "c")
      v <- Gen.choose(-100, 100)
    } yield (g, v.toDouble))
    forSamples(gGen) { rows =>
      val df = rows.toDF("g", "v")
      val mine = graft.operators.Relational
        .quantileDisc(df, "g", "v",
          Seq("q1" -> 0.25, "q2" -> 0.5, "q3" -> 0.9))
        .collect().map(r => r.getString(0) ->
          (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
      val brute = rows.groupBy(_._1).map { case (g, rs) =>
        val sorted = rs.map(_._2).sorted
        def at(p: Double) =
          sorted(math.max(1, math.ceil(sorted.length * p).toInt) - 1)
        g -> ((at(0.25), at(0.5), at(0.9)))
      }
      assert(mine == brute)
    }
  }

  test("pivot preserves cells: unpivot(pivot(x)) == x on present cells") {
    forSamples(frameGen) { rows =>
      val parsed = rows.toDF("id", "site", "pageviews")
      val sites = Features.siteList(parsed)
      val fm = Features.pivotFeatures(Features.ranked(parsed), sites)
      val back = sites.map(s =>
        fm.filter(col(s"exists_$s") === 1.0)
          .select(col("id"), lit(s).as("site"),
            col(s"pageviews_$s").as("pageviews"))).reduce(_ unionAll _)
      val orig = parsed.select("id", "site", "pageviews")
      assert(back.exceptAll(orig).count() == 0
        && orig.exceptAll(back).count() == 0)
      // absent cells are zero-filled with exists=0
      val zeros = sites.map(s =>
        fm.filter(col(s"exists_$s") === 0.0 &&
          (col(s"pageviews_$s") =!= 0.0 || col(s"rank_$s") =!= 0.0))
          .count()).sum
      assert(zeros == 0)
    }
  }

  test("outer-chain row count equals union of ids (q06 invariant)") {
    forSamples(frameGen) { rows =>
      val parsed = rows.toDF("id", "site", "pageviews")
      val sites = Features.siteList(parsed)
      val perSite = sites.map(s => parsed.filter(col("site") === s)
        .select(col("id"), col("pageviews").as(s)))
      val chain = perSite.reduce((l, r) => l.join(r, Seq("id"), "full_outer"))
      assert(chain.count() == parsed.select("id").distinct().count())
    }
  }

  private val docGen = for {
    n <- Gen.choose(1, 12)
    toks <- Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d", "e"))
  } yield toks.mkString(" ")

  test("exact dedup is idempotent: deduped corpus has no dup groups") {
    forSamples(Gen.nonEmptyListOf(docGen)) { texts =>
      val docs = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val keepers = docs.groupBy(md5(col("text")).as("h"))
        .agg(min("doc_id").as("doc_id"))
        .join(docs, "doc_id").select("doc_id", "text")
      assert(Dedup.exactDupGroups(keepers).count() == 0)
      // and dedup keeps exactly one doc per distinct text
      assert(keepers.count() == docs.select("text").distinct().count())
    }
  }

  test("Misra-Gries candidates contain every item above n/capacity, " +
      "under random reduce/merge tree shapes") {
    val itemsGen = for {
      n <- Gen.choose(50, 400)
      items <- Gen.listOfN(n, Gen.choose(0, 40).map(i => s"w$i"))
      capacity <- Gen.choose(3, 12)
      splits <- Gen.choose(2, 8)
    } yield (items, capacity, splits)
    forSamples(itemsGen, n = 20) { case (items, capacity, splits) =>
      val agg = new graft.functions.MisraGries(capacity)
      // partition the stream arbitrarily, reduce each slice, then
      // merge left-to-right — simulates map-side partials + shuffle
      val slices = items.grouped(
        math.max(1, items.size / splits)).toList
      val partials = slices.map(s =>
        s.foldLeft(agg.zero)((b, v) => agg.reduce(b, v)))
      val candidates = agg.finish(
        partials.reduce((a, b) => agg.merge(a, b))).toSet
      val exact = items.groupBy(identity).view.mapValues(_.size)
      val threshold = items.size.toDouble / capacity
      exact.foreach { case (item, freq) =>
        if (freq > threshold)
          assert(candidates.contains(item),
            s"item $item freq=$freq > n/cap=$threshold missing " +
              s"(cap=$capacity splits=${slices.size})")
      }
      assert(candidates.size <= capacity)
    }
  }

  test("SCD2 runs match a sequential fold on random streams") {
    val evGen = for {
      n <- Gen.choose(1, 50)
      users <- Gen.listOfN(n, Gen.choose(1L, 4L))
      types <- Gen.listOfN(n, Gen.oneOf("a", "b", "c"))
    } yield users.zip(types).zipWithIndex.map { case ((u, tp), i) =>
      (i.toLong, new java.sql.Timestamp(1700000000000L + i * 60000L),
        u, tp, 1.0)
    }
    forSamples(evGen) { rows =>
      val df = rows.toDF("event_id", "ts", "user_id", "event_type",
        "value")
      // reuse the operator through a Tables-free path: same window body
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val got = df
        .withColumn("prev", lag("event_type", 1).over(w))
        .withColumn("chg", when(col("prev").isNull ||
          col("prev") =!= col("event_type"), 1L).otherwise(0L))
        .withColumn("version", sum("chg").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "version", "event_type")
        .agg(count(lit(1)).as("n_events"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getString(2), r.getLong(3))).toMap
      // sequential fold builds the expected run-length encoding
      rows.groupBy(_._3).foreach { case (u, evs) =>
        val ordered = evs.sortBy(e => (e._2.getTime, e._1)).map(_._4)
        val runs = ordered.foldLeft(List.empty[(String, Long)]) {
          case ((t, n) :: rest, x) if t == x => (t, n + 1) :: rest
          case (acc, x) => (x, 1L) :: acc
        }.reverse
        runs.zipWithIndex.foreach { case ((tp, n), i) =>
          assert(got((u, i + 1L)) == (tp, n), s"user $u run ${i + 1}")
        }
      }
    }
  }

  test("ewma matches the sequential local model on random streams") {
    val evGen = for {
      n <- Gen.choose(1, 60)
      users <- Gen.listOfN(n, Gen.choose(1L, 5L))
      vals <- Gen.listOfN(n, Gen.choose(0, 99900).map(_ / 100.0))
    } yield users.zip(vals).zipWithIndex.map { case ((u, v), i) =>
      (i.toLong, new java.sql.Timestamp(1700000000000L + i * 60000L),
        u, "view", v)
    }
    forSamples(evGen) { rows =>
      val df = rows.toDF("event_id", "ts", "user_id", "event_type",
        "value")
      val got = graft.operators.Relational.ewma(df).collect()
        .map(r => r.getLong(0) -> r.getDouble(2)).toMap
      // sequential model: per user, ewma_i = sum_{j<8} cents[i-j]/2^j
      rows.groupBy(_._3).foreach { case (_, evs) =>
        val ordered = evs.sortBy(e => (e._2.getTime, e._1))
        val cents = ordered.map(e => math.round(e._5 * 100))
        ordered.indices.foreach { i =>
          val expected = (0 until 8).map { j =>
            if (i - j >= 0) cents(i - j).toDouble * math.pow(0.5, j)
            else 0.0
          }.sum / 100
          assert(got(ordered(i)._1) == expected,
            s"event ${ordered(i)._1}")
        }
      }
    }
  }

  test("exactSubstrRuns equals brute-force token-LCS on random docs") {
    // tiny vocabulary forces long shared runs to actually occur
    val docsGen = for {
      n <- Gen.choose(2, 6)
      docs <- Gen.listOfN(n, Gen.listOfN(30, Gen.oneOf("a", "b", "c")))
    } yield docs.zipWithIndex.map { case (toks, i) =>
      (i.toLong, toks.mkString(" "))
    }
    // token-level longest common substring via classic DP
    def lcsTokens(x: Seq[String], y: Seq[String]): Int = {
      val dp = Array.ofDim[Int](x.length + 1, y.length + 1)
      var best = 0
      for (i <- 1 to x.length; j <- 1 to y.length)
        if (x(i - 1) == y(j - 1)) {
          dp(i)(j) = dp(i - 1)(j - 1) + 1
          best = math.max(best, dp(i)(j))
        }
      best
    }
    forSamples(docsGen, n = 4) { docs =>
      val k = 5
      val minTok = 7
      val got = Dedup
        .exactSubstrRuns(docs.toDF("doc_id", "text"), k, minTok)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val toks = docs.map { case (id, t) => id -> t.split(" ").toSeq }
      val expected = (for {
        (i, ti) <- toks; (j, tj) <- toks if i < j
        l = lcsTokens(ti, tj) if l >= minTok
      } yield (i, j) -> l.toLong).toMap
      assert(got == expected,
        s"got $got expected $expected on ${docs.map(_._2)}")
    }
  }

  test("pitJoin matches a brute-force per-row scan on random streams, " +
    "including timestamp ties") {
    val evGen = for {
      u <- Gen.choose(1L, 3L)
      t <- Gen.choose(0, 8) // tiny ts domain -> frequent ties
      v <- Gen.choose(1, 99)
    } yield (u, t, v)
    val caseGen = for {
      spine <- Gen.nonEmptyListOf(evGen)
      fa <- Gen.listOf(evGen)
      fb <- Gen.listOf(evGen)
    } yield (spine, fa, fb)
    forSamples(caseGen) { case (spine, fa, fb) =>
      def frame(rows: List[(Long, Int, Int)], base: Long) =
        rows.zipWithIndex.map { case ((u, t, v), i) =>
          (u, new java.sql.Timestamp(1700000000000L + t * 1000L),
            base + i, v.toDouble)
        }.toDF("user_id", "ts", "event_id", "value")
      val got = graft.operators.AsOf.pitJoin(
          frame(spine, 1000), // id namespaces disjoint across frames
          Seq("fa" -> frame(fa, 2000), "fb" -> frame(fb, 3000)),
          "user_id", "ts", "event_id", "value")
        .collect()
        .map(r => r.getLong(2) -> (Option(r.get(3)), Option(r.get(4))))
        .toMap
      // brute force: latest feature ts <= spine ts; among equal ts the
      // highest event_id (= list position) wins — the collapse rule
      def brute(feats: List[(Long, Int, Int)])(u: Long, t: Int)
          : Option[Double] = {
        val c = feats.zipWithIndex
          .filter { case ((fu, ft, _), _) => fu == u && ft <= t }
        if (c.isEmpty) None
        else Some(c.maxBy { case ((_, ft, _), i) => (ft, i) }._1._3.toDouble)
      }
      assert(got.size == spine.size, "left semantics lost spine rows")
      spine.zipWithIndex.foreach { case ((u, t, _), i) =>
        assert(got(1000L + i) == (brute(fa)(u, t), brute(fb)(u, t)),
          s"spine row $i (user $u, t $t)")
      }
    }
  }

  // ---- round-7 operators -------------------------------------------

  /** Small-vocab random corpora: heavy shingle sharing, the worst case
    * for prefix filtering — exactly where a pruning bug would show. */
  private val corpusGen: Gen[List[(Long, String)]] = for {
    n <- Gen.choose(4, 12)
    docs <- Gen.listOfN(n, Gen.choose(6, 30).flatMap(len =>
      Gen.listOfN(len, Gen.oneOf("a", "b", "c", "d", "e", "f"))
        .map(_.mkString(" "))))
  } yield docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }

  test("PPJoin-filtered prefix Jaccard equals the naive form on random " +
    "small-vocab corpora (worst case for pruning)") {
    forSamples(corpusGen, 3) { docs =>
      val df = docs.toDF("doc_id", "text")
      for (t <- Seq(0.3, 0.6)) {
        val naive = Dedup.ngramJaccardPairs(df, 3, t)
        val ppjoin = Dedup.ngramJaccardPairsPrefix(df, 3, t)
        assert(naive.exceptAll(ppjoin).count() == 0
          && ppjoin.exceptAll(naive).count() == 0, s"t=$t docs=$docs")
      }
    }
  }

  test("paragraphDedup: kept hashes distinct, cover all paragraphs, " +
    "and each keeper is the (doc_id, pidx)-minimal occurrence") {
    forSamples(corpusGen, 3) { docs =>
      val k = 4
      val kept = Dedup.paragraphDedup(docs.toDF("doc_id", "text"), k)
        .select($"doc_id", $"pidx", $"pmd5")
        .as[(Long, Long, String)].collect()
      // brute-force paragraphs in Scala
      val paras = docs.flatMap { case (id, text) =>
        text.split(" ").grouped(k).zipWithIndex
          .map { case (chunk, i) => (id, i.toLong, chunk.mkString(" ")) }
      }
      val expect = paras.groupBy(_._3).map { case (_, occ) =>
        occ.minBy(p => (p._1, p._2))
      }.map(p => (p._1, p._2)).toSet
      assert(kept.map(_._3).distinct.length == kept.length)
      assert(kept.map(p => (p._1, p._2)).toSet == expect, docs.toString)
    }
  }

  test("incrementalDedup equals brute-force anti-join + first-per-key " +
    "on random corpus/batch splits") {
    forSamples(corpusGen, 3) { docs =>
      val all = docs.map { case (id, t) => (id, t, "xx", s"s$id") }
        .toDF("doc_id", "text", "lang", "source")
      val corpus = all.filter($"doc_id" % 3 =!= 0)
      val batch = all.filter($"doc_id" % 3 === 0)
      val got = Dedup.incrementalDedup(corpus, batch, prefixTokens = 3)
        .select("doc_id").as[Long].collect().toSeq
      def key(t: String) = t.split(" ").take(3).mkString(" ")
      val corpusKeys = docs.filter(_._1 % 3 != 0).map(d => key(d._2)).toSet
      val expect = docs.filter(_._1 % 3 == 0)
        .filterNot(d => corpusKeys(key(d._2)))
        .groupBy(d => key(d._2)).map(_._2.minBy(_._1)._1)
        .toSeq.sorted
      assert(got == expect, docs.toString)
    }
  }

  test("piiScrub and normalizeText are idempotent on random text with " +
    "planted PII and unicode/whitespace mess") {
    val messGen: Gen[String] = Gen.listOfN(6, Gen.oneOf(
      "word", "a@b.io", "555-123-4567", "10.0.0.7", "caf\u00e9",
      "cafe\u0301", "  ", "\t", "x")).map(_.mkString(" "))
    forSamples(Gen.listOfN(8, messGen), 3) { texts =>
      val df = texts.toDF("text")
      val once = graft.operators.Scrub.piiScrub(df)
        .select("text").as[String].collect().toSeq
      val twice = graft.operators.Scrub
        .piiScrub(graft.operators.Scrub.piiScrub(df))
        .select("text").as[String].collect().toSeq
      assert(once == twice)
      val n1 = df.select(graft.operators.Scrub.normalizeText($"text")
        .as("text")).as[String].collect().toSeq
      val n2 = df.select(graft.operators.Scrub.normalizeText(
        graft.operators.Scrub.normalizeText($"text")).as("text"))
        .as[String].collect().toSeq
      assert(n1 == n2)
      // NFC-folding: decomposed and precomposed inputs normalize equal
      n1.foreach(s => assert(java.text.Normalizer.isNormalized(
        s, java.text.Normalizer.Form.NFC)))
    }
  }

  test("Jacobi eigensolver on random symmetric matrices: eigenpair " +
    "residuals, orthonormal rows, trace conservation, descending " +
    "order") {
    val matGen = for {
      d <- Gen.choose(2, 12)
      cells <- Gen.listOfN(d * d, Gen.choose(-50, 50))
    } yield {
      val raw = cells.map(_.toDouble / 7.0).toArray
      // symmetrize: A = (M + Mᵀ) / 2
      Array.tabulate(d, d)((i, j) => (raw(i * d + j) + raw(j * d + i)) / 2)
    }
    forSamples(matGen, n = 8) { a =>
      val d = a.length
      val (evals, evecs) = graft.operators.Pca.jacobiEigSym(a)
      val scale = math.max(1.0, a.flatten.map(math.abs).max)
      for (k <- 0 until d) {
        val v = evecs(k)
        val resid = math.sqrt((0 until d).map { i =>
          val cv = (0 until d).map(j => a(i)(j) * v(j)).sum
          math.pow(cv - evals(k) * v(i), 2)
        }.sum)
        assert(resid < 1e-9 * scale, s"eigenpair $k resid $resid")
      }
      for (i <- 0 until d; j <- i until d) {
        val dot = (0 until d).map(x => evecs(i)(x) * evecs(j)(x)).sum
        assert(math.abs(dot - (if (i == j) 1.0 else 0.0)) < 1e-10)
      }
      val trace = (0 until d).map(i => a(i)(i)).sum
      assert(math.abs(evals.sum - trace) < 1e-9 * math.max(1.0,
        math.abs(trace)))
      assert(evals.sliding(2).forall(p =>
        p.length < 2 || p(0) >= p(1) - 1e-12))
    }
  }

  test("KLL rank bound holds on adversarial orderings: sorted, " +
    "reversed, and interleaved streams of the same multiset") {
    import graft.functions.QuantileSketch
    import org.apache.datasketches.memory.Memory
    import org.apache.datasketches.kll.KllDoublesSketch
    val base = (1 to 20000).map(_.toDouble)
    val orders = Seq(
      base,
      base.reverse,
      base.grouped(2).toSeq.sortBy(g => g.head % 97).flatten)
    orders.foreach { xs =>
      val agg = new QuantileSketch.BuildAggregator(200)
      val st = xs.foldLeft(agg.zero)(agg.reduce)
      val sk = KllDoublesSketch.heapify(Memory.wrap(agg.finish(st)))
      assert(sk.getN == base.length)
      Seq(0.1, 0.5, 0.9, 0.99).foreach { p =>
        val est = sk.getQuantile(p,
          org.apache.datasketches.quantilescommon
            .QuantileSearchCriteria.INCLUSIVE)
        val rank = base.count(_ <= est).toDouble / base.length
        assert(math.abs(rank - p) <= 0.0165 * 2,
          s"order=${xs.head} p$p rank $rank")
      }
    }
  }
}
