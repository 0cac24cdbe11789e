package graft

import graft.operators.{Dedup, TextAnalysis}
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("shingles: n consecutive tokens, short docs yield empty") {
    val df = Seq("a b c d", "a b", "x").toDF("text")
      .select(Dedup.shingles(col("text"), 3).as("sh"))
    val got = df.as[Seq[String]].collect()
    assert(got(0) == Seq("a b c", "b c d"))
    assert(got(1).isEmpty && got(2).isEmpty)
  }

  test("exact dedup finds planted duplicates and keeps min id") {
    val docs = Seq(
      (1L, "alpha beta gamma"), (2L, "alpha beta gamma"),
      (3L, "unique text here"), (4L, "alpha beta gamma"))
      .toDF("doc_id", "text")
    val got = Dedup.exactDupGroups(docs).collect()
    assert(got.length == 1)
    assert(got(0).getAs[Long]("n") == 3 && got(0).getAs[Long]("keeper") == 1L)
  }

  test("ngram jaccard: identical docs score 1.0, disjoint absent") {
    val docs = Seq(
      (1L, "a b c d e f"), (2L, "a b c d e f"), (3L, "q r s t u v"))
      .toDF("doc_id", "text")
    val got = Dedup.ngramJaccardPairs(docs, 3, 0.5).collect()
    assert(got.length == 1)
    assert(got(0).getLong(0) == 1L && got(0).getLong(1) == 2L)
    assert(got(0).getDouble(2) == 1.0)
  }

  test("prefix-filtered jaccard equals the naive inverted-index form") {
    val docs = tables.documents
    val naive = Dedup.ngramJaccardPairs(docs, 3, 0.5)
    val prefix = Dedup.ngramJaccardPairsPrefix(docs, 3, 0.5)
    assert(naive.exceptAll(prefix).count() == 0
      && prefix.exceptAll(naive).count() == 0)
    // and at a lower threshold (more pairs, tighter prefix bound)
    val naiveLo = Dedup.ngramJaccardPairs(docs, 3, 0.3)
    val prefixLo = Dedup.ngramJaccardPairsPrefix(docs, 3, 0.3)
    assert(naiveLo.exceptAll(prefixLo).count() == 0
      && prefixLo.exceptAll(naiveLo).count() == 0)
  }

  test("PPJoin length+positional filters shrink candidates without " +
    "losing a true pair") {
    val sets = Dedup.shingleSets(tables.documents, 3)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    for (t <- Seq(0.3, 0.5)) {
      val plain = Dedup.prefixCandidates(sets, t, ppjoin = false)
      val filtered = Dedup.prefixCandidates(sets, t, ppjoin = true)
      val (nPlain, nFiltered) = (plain.count(), filtered.count())
      // exact: filtered ⊆ plain, and every true pair survives
      assert(filtered.exceptAll(plain).count() == 0)
      val truePairs = Dedup.ngramJaccardPairs(tables.documents, 3, t)
        .select($"doc_i", $"doc_j")
      assert(truePairs.exceptAll(filtered).count() == 0,
        s"t=$t lost a qualifying pair")
      assert(nFiltered < nPlain,
        s"t=$t: PPJoin filters should prune ($nFiltered vs $nPlain)")
      info(s"t=$t candidates: $nPlain -> $nFiltered " +
        f"(${100.0 * (nPlain - nFiltered) / nPlain}%.1f%% pruned)")
    }
    sets.unpersist()
  }

  test("paragraphDedup keeps first occurrence corpus-wide, drops " +
    "repeats, covers every distinct paragraph") {
    // 4-token paragraphs; doc 2 repeats doc 1's first paragraph as its
    // SECOND paragraph; doc 3 repeats its own paragraph internally
    val docs = Seq(
      (1L, "a b c d e f g h"),          // paras: [a b c d], [e f g h]
      (2L, "x y z w a b c d"),          // [x y z w], [a b c d] <- dup of doc1/p0
      (3L, "k k k k k k k k"))          // [k k k k] twice  <- self-dup
      .toDF("doc_id", "text")
    val kept = Dedup.paragraphDedup(docs, paraTokens = 4)
      .select($"doc_id", $"pidx").as[(Long, Long)].collect().toSet
    assert(kept == Set((1L, 0L), (1L, 1L), (2L, 0L), (3L, 0L)))
    // corpus-wide: every distinct paragraph hash appears exactly once
    val hashes = Dedup.paragraphDedup(docs, 4).select("pmd5")
      .as[String].collect()
    assert(hashes.length == hashes.distinct.length)
    // fixture corpus: kept < total (the planted doc dups share paras)
    val total = tables.documents.selectExpr(
      "cast(ceil(size(split(text,' '))/10.0) as long) as n")
      .agg(sum("n")).head().getLong(0)
    val keptN = Dedup.paragraphDedup(tables.documents).count()
    assert(keptN < total, s"$keptN vs $total")
  }

  test("paragraphDedupNewline dedups a shared paragraph at ANY offset " +
    "where the fixed-token chunker misses it (chunkers disagree)") {
    // the shared licence para sits after leads of DIFFERENT token
    // lengths, so no fixed-width token chunk aligns across the docs —
    // but the \n\n chunker sees the identical paragraph in both
    val shared = "this block is identical license text"
    val docs = Seq(
      (1L, s"short lead\n\n$shared"),
      (2L, s"a much longer unique leading paragraph here\n\n$shared"))
      .toDF("doc_id", "text")
    val byPara = Dedup.paragraphDedupNewline(docs)
      .select($"doc_id", $"pidx").as[(Long, Long)].collect().toSet
    // doc 2's copy of the shared para (its pidx=1) is dropped
    assert(byPara == Set((1L, 0L), (1L, 1L), (2L, 0L)))
    // the token chunker keeps EVERY chunk: offsets misalign, so no two
    // chunks hash equal and nothing dedups — the disagreement q152b's
    // real-boundary chunker exists to fix
    val byTokens = Dedup.paragraphDedup(docs, paraTokens = 4)
    assert(byTokens.count()
      == byTokens.select("pmd5").distinct.count())
    val totalChunks = docs.selectExpr(
      "cast(ceil(size(split(text,' '))/4.0) as long) as n")
      .agg(sum("n")).head().getLong(0)
    assert(byTokens.count() == totalChunks)
    // CRLF corpora: the separator is a regex parameter — "(\r?\n){2}"
    // finds the same shared paragraph across unix and windows docs
    val crlf = Seq(
      (1L, s"short lead\r\n\r\n$shared"),
      (2L, s"another lead\n\n$shared"))
      .toDF("doc_id", "text")
    val byCrlf = Dedup.paragraphDedupNewline(crlf, sep = "(\\r?\\n){2}")
      .select($"doc_id", $"pidx").as[(Long, Long)].collect().toSet
    assert(byCrlf == Set((1L, 0L), (1L, 1L), (2L, 0L)))
    // q152b on the fixture: planted headers/footers dedup to exactly
    // one kept copy each; every doc keeps its own body paragraph
    val n = tables.documents.count()
    val b = Dedup.q152b(tables.documents)
    val keptHashes = b.select("pmd5").as[String].collect()
    assert(keptHashes.length == keptHashes.distinct.length)
    // one shared header + per-doc intro headers + n bodies + one footer
    val expected = 1 + (0L until n).count(_ % 3 != 0) + n + 1
    assert(b.count() == expected, s"${b.count()} vs $expected")
  }

  test("incrementalDedup: bloom fast-path equals plain anti-join, " +
    "drops corpus dups and within-batch repeats") {
    // corpus has prefix-keys A, B; batch: one dup of A (drop), one new
    // key C kept, one within-batch repeat of C (drop), one new D kept
    val corpus = Seq(
      (1L, "a a a a a tail one", "en", "s1"),
      (2L, "b b b b b tail two", "en", "s1"))
      .toDF("doc_id", "text", "lang", "source")
    val batch = Seq(
      (10L, "a a a a a different tail", "en", "s2"), // dup of corpus A
      (11L, "c c c c c fresh", "de", "s2"),          // new
      (12L, "c c c c c fresher still", "de", "s2"),  // within-batch dup
      (13L, "d d d d d new", "fr", "s2"))            // new
      .toDF("doc_id", "text", "lang", "source")
    val got = Dedup.incrementalDedup(corpus, batch)
      .select("doc_id").as[Long].collect().toSeq
    assert(got == Seq(11L, 13L))
    // engine-level equivalence on the fixture: the bloom split must
    // reproduce the naive anti-join + first-per-key exactly
    val c = tables.documents.filter($"doc_id" % 10 < 8)
    val b = tables.documents.filter($"doc_id" % 10 >= 8)
    def key(t: org.apache.spark.sql.Column) =
      md5(concat_ws(" ", slice(split(t, " "), 1, 5)))
    val naive = {
      val ck = c.select(key($"text").as("k")).distinct()
      val nw = b.withColumn("k", key($"text"))
        .join(ck, Seq("k"), "left_anti")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("k").orderBy("doc_id")
      nw.withColumn("rn", row_number().over(w)).filter($"rn" === 1)
        .select("doc_id", "lang", "source")
    }
    val fast = Dedup.incrementalDedup(c, b)
    assert(fast.exceptAll(naive).count() == 0
      && naive.exceptAll(fast).count() == 0)
    assert(fast.count() < b.count(), "fixture must exercise drops")
  }

  test("minhash est_jac approximates true jaccard on near-dup docs") {
    val docs = tables.documents
    val exact = Dedup.ngramJaccardPairs(docs, 3, 0.5)
      .select($"doc_i", $"doc_j").as[(Long, Long)].collect().toSet
    val est = Dedup.minhashNearDups(docs, 16, 4, 0.5)
      .select($"doc_i", $"doc_j").as[(Long, Long)].collect().toSet
    // LSH with 16 perms is approximate: require substantial overlap
    val recall = (exact & est).size.toDouble / math.max(exact.size, 1)
    assert(recall >= 0.6, s"minhash recall $recall too low (exact=${exact.size}, est=${est.size})")
  }

  test("containment catches a short doc embedded in a long one") {
    val short = "alpha beta gamma delta epsilon"
    val long = s"intro words here $short closing words tail end"
    val docs = Seq((1L, short), (2L, long), (3L, "totally other text body"))
      .toDF("doc_id", "text")
    val got = Dedup.ngramContainmentPairs(docs, 3, 0.8).collect()
    assert(got.length == 1)
    val r = got(0)
    assert(r.getLong(0) == 1L && r.getLong(1) == 2L)
    assert(r.getDouble(2) == 1.0) // all of doc 1's shingles are in doc 2
    assert(r.getDouble(3) < 0.8)  // but jaccard-style symmetry is low
  }

  test("connected components closes chains transitively") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (7L, 8L), (8L, 9L),
      (9L, 1L)) // 7-8-9-1-2-3 all one component; 5-6 another
      .toDF("doc_i", "doc_j")
    val comp = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 7L, 8L, 9L).forall(comp(_) == 1L))
    assert(comp(5L) == 5L && comp(6L) == 5L)
  }

  test("large-star/small-star components equal min-label propagation") {
    // same mixed graph as above
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (7L, 8L), (8L, 9L),
      (9L, 1L)).toDF("doc_i", "doc_j")
    val a = Dedup.connectedComponents(pairs).collect()
      .map(_.toString).sorted.toSeq
    val b = Dedup.connectedComponentsStar(pairs).collect()
      .map(_.toString).sorted.toSeq
    assert(a == b)
    // a 120-hop chain: diameter far beyond min-label's default budget,
    // but O(log^2 n) star rounds close it easily
    val chain = (0 until 120).map(i => (i.toLong, i.toLong + 1))
      .toDF("doc_i", "doc_j")
    val starChain = Dedup.connectedComponentsStar(chain).collect()
    assert(starChain.length == 121)
    assert(starChain.forall(_.getLong(1) == 0L))
    // min-label on the same chain refuses rather than returning
    // partial labels
    intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, maxIter = 20)
    }
  }

  test("q85 canonical doc is the longest member of its cluster") {
    val comp = Dedup.nearDupComponents(tables.documents)
      .join(tables.documents.select("doc_id", "n_chars"), "doc_id")
      .collect().groupBy(_.getLong(1))
      .map { case (c, rs) =>
        c -> (rs.length, rs.map(r => (r.getLong(2), r.getLong(0))).toSet)
      }
    val rows = Dedup.canonicalDocs(tables.documents).collect()
    assert(rows.length == comp.size)
    rows.foreach { r =>
      val (c, n, canon, maxC) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val (size, members) = comp(c)
      assert(n == size && size >= 2)
      assert(maxC == members.map(_._1).max)
      // canonical = min doc_id among the max-length members
      assert(canon ==
        members.filter(_._1 == maxC).map(_._2).min)
    }
  }

  test("simhash: identical docs identical, hamming 0 in near-dups") {
    val docs = Seq(
      (1L, "spark scala engine test"), (2L, "spark scala engine test"),
      (3L, "completely different words entirely"))
      .toDF("doc_id", "text")
    val fp = Dedup.simhash(docs).collect().map(r =>
      r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) == fp(2L))
  }

  test("decontaminationPairs: shared k-grams with the benchmark slice") {
    import spark.implicits._
    // doc 0 is in the benchmark slice (0 % 97 == 0); doc 1 embeds one
    // of its 3-token runs inside a 4-gram, doc 2 shares nothing
    val docs = Seq(
      (0L, "w x y z q"),           // benchmark
      (1L, "a w x y z b"),         // shares "w x y z" (2 distinct 4-grams? no: 1)
      (2L, "m n o p q r"),
      (97L, "a w x y z b"))        // 97 % 97 == 0: also benchmark
      .toDF("doc_id", "text")
    val got = Dedup.decontaminationPairs(docs, n = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // doc 1 shares "w x y z" with doc 0 and ALL its 3 distinct 4-grams
    // with benchmark doc 97 (identical text); doc 2 matches nothing;
    // benchmark docs never appear on the corpus side
    assert(got.toSet == Set((1L, 0L, 1L), (1L, 97L, 3L)))
  }

  test("leakageSafeSplit: no near-dup pair straddles two splits") {
    val comp = Dedup.nearDupComponents(tables.documents)
    val h = md5(col("component").cast("string"))
    val splitOf = comp.select(col("doc_id"),
      when(h < "c", "train").when(h < "e", "valid").otherwise("test")
        .as("split"))
    val pairs = Dedup.minhashNearDups(tables.documents)
    val crossSplit = pairs
      .join(splitOf.withColumnRenamed("doc_id", "doc_i")
        .withColumnRenamed("split", "si"), "doc_i")
      .join(splitOf.withColumnRenamed("doc_id", "doc_j")
        .withColumnRenamed("split", "sj"), "doc_j")
      .filter(col("si") =!= col("sj"))
    assert(crossSplit.count() == 0)
    // totals conserve the corpus
    val total = Dedup.leakageSafeSplit(tables.documents)
      .agg(sum("n_docs")).collect()(0).getLong(0)
    assert(total == tables.documents.count())
  }

  test("decontaminationPairs is empty when the corpus is clean") {
    import spark.implicits._
    val docs = Seq((0L, "a b c d e"), (1L, "v w x y z"))
      .toDF("doc_id", "text")
    assert(Dedup.decontaminationPairs(docs, n = 4).count() == 0)
  }

  test("contaminationSpans: contiguous islands flag, scattered hits " +
    "don't — crafted exact values, and the fixture's planted " +
    "excerpt positives all flag with full-length spans") {
    import spark.implicits._
    val ex = (1 to 30).map(i => s"e$i")
    val filler = (1 to 10).map(i => s"f$i")
    val docs = Seq(
      // benchmark doc (0 % 97 == 0, 40 tokens): excerpt = e1..e30
      (0L, (filler ++ ex).mkString(" ")),
      // 20-token contiguous copy of the excerpt prefix → run 17,
      // span 20, flagged at the 16-token bar
      (1L, ("n1 n2 n3 " + ex.take(20).mkString(" ") + " n4 n5")),
      // two SCATTERED 4-token chunks → two runs of 1, span 4, clean
      (2L, "m1 e3 e4 e5 e6 m2 m3 e12 e13 e14 e15 m4"))
      .toDF("doc_id", "text")
    val got = Dedup.contaminationSpans(docs)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    assert(got == Set(
      (0L, 0L, 27L, 27L, 30L, 1L),   // the planted self positive
      (1L, 0L, 17L, 17L, 20L, 1L),   // contiguous copy flags
      (2L, 0L, 2L, 1L, 4L, 0L)))     // scattered hits stay clean
    // fixture-wide: every benchmark doc with a full-length excerpt
    // must flag against ITSELF with the maximal 30-token span
    val fx = Dedup.contaminationSpans(tables.documents)
    val benchIds = tables.documents
      .filter(col("doc_id") % 97 === 0 &&
        size(split(col("text"), " ")) >= 40)
      .select("doc_id").as[Long].collect().toSet
    val selfRows = fx.filter(col("doc_id") === col("bench_id"))
      .collect()
    assert(selfRows.map(_.getLong(0)).toSet == benchIds)
    selfRows.foreach { r =>
      assert(r.getAs[Long]("max_span_tokens") == 30L)
      assert(r.getAs[Long]("flagged") == 1L)
    }
  }

  test("canarySpans: rare cross-source grams surface; within-source " +
    "repeats and common grams don't") {
    import spark.implicits._
    val docs = Seq(
      (10L, "srcA", "x1 x2 c1 c2 c3 c4 x3 x4"),   // canary, source A
      (20L, "srcB", "y1 c1 c2 c3 c4 y2 y3 y4"),   // canary, source B
      (30L, "srcC", "z1 d1 d2 d3 d4 z2 z3 z4"),   // within-source pair
      (40L, "srcC", "w1 d1 d2 d3 d4 w2 w3 w4"),
      // a gram in 4 docs across 4 sources: too common for maxDocs=3
      (50L, "srcA", "p1 p2 p3 p4 q1 q2 q3 q4"),
      (51L, "srcB", "p1 p2 p3 p4 r1 r2 r3 r4"),
      (52L, "srcC", "p1 p2 p3 p4 s1 s2 s3 s4"),
      (53L, "srcD", "p1 p2 p3 p4 t1 t2 t3 t4"))
      .toDF("doc_id", "source", "text")
    val got = Dedup.canarySpans(docs)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got == Set(("c1 c2 c3 c4", 2L, 2L, 10L, 20L)))
    // fixture-wide invariants: rarity and spread bounds hold on every
    // emitted row
    Dedup.canarySpans(tables.documents).collect().foreach { r =>
      assert(r.getAs[Long]("n_docs") <= 3L)
      assert(r.getAs[Long]("n_sources") >= 2L)
      assert(r.getAs[Long]("min_doc") <= r.getAs[Long]("max_doc"))
    }
  }

  test("crossSplitContamination: bounds, split coverage, degenerate splits") {
    import spark.implicits._
    val c = Dedup.crossSplitContamination(tables.documents).collect()
    assert(c.nonEmpty)
    assert(c.forall { r =>
      val (n, hit, f) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      hit >= 0 && hit <= n && f >= 0.0 && f <= 1.0
    })
    // one row per shingle-bearing test doc under the q46 split rule
    val testDocs = TextAnalysis.hashSplit(tables.documents)
      .filter(col("split") === "test")
      .join(tables.documents, "doc_id")
      .filter(size(split(col("text"), " ")) >= 3)
      .count()
    assert(c.length.toLong == testDocs)
    // everything train -> no test rows; everything test -> zero hits
    assert(Dedup.crossSplitContamination(
      tables.documents, trainNibbles = 16).count() == 0)
    val allTest =
      Dedup.crossSplitContamination(tables.documents, trainNibbles = 0)
    assert(allTest.filter(col("contaminated") =!= 0L).count() == 0)
  }

  test("exactSubstrRuns finds the longest shared token run") {
    import spark.implicits._
    val common = (1 to 15).map(i => s"c$i").mkString(" ")
    val docs = Seq(
      (1L, common + " u1 u2 u3 u4 u5"),          // run of 15 vs 2, 5
      (2L, "v1 v2 v3 v4 v5 " + common),
      (3L, "w1 w2 " + (1 to 8).map(i => s"c$i").mkString(" ")),
      // doc 1's run with an insertion after token 10: splits into
      // runs of 10 and 5 on different diagonals — max must be 10
      (4L, (1 to 10).map(i => s"c$i").mkString(" ") + " zz " +
        (11 to 15).map(i => s"c$i").mkString(" ")),
      (5L, common + " " + common), // repeated content: many diagonals
      (6L, "too short")            // < k tokens: no grams, no crash
    ).toDF("doc_id", "text")
    val got = Dedup.exactSubstrRuns(docs, k = 5, minTokens = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(got((1L, 2L)) == 15L)   // exact common run length
    assert(!got.contains((1L, 3L))) // 8-run below the 12 threshold
    assert(!got.contains((1L, 4L))) // split runs: 10 max, still < 12
    assert(got((1L, 5L)) == 15L)   // repeats don't inflate past truth
    assert(got((2L, 5L)) == 15L)
    // lowering the threshold surfaces the shorter runs at true length
    val loose = Dedup.exactSubstrRuns(docs, k = 5, minTokens = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(loose((1L, 3L)) == 8L)
    assert(loose((1L, 4L)) == 10L) // insertion split: max run, not sum
  }

  test("exactSubstrRuns pairs are a subset of 5-gram overlap pairs " +
    "with consistent magnitudes") {
    val runs = Dedup.exactSubstrRuns(tables.documents, k = 5,
      minTokens = 12).collect()
    assert(runs.nonEmpty) // the sf corpus contains long verbatim runs
    val overlap = Dedup.ngramOverlapPairs(tables.documents, n = 5)
      .select(col("doc_i"), col("doc_j"), col("shared"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    runs.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      val lcs = r.getLong(2)
      // a run of L tokens contains L-4 distinct-position 5-grams; the
      // pair's DISTINCT shared-gram count can be smaller only if the
      // run repeats grams internally, never smaller than 1
      assert(overlap.contains(key), s"pair $key missing from overlap")
      assert(lcs >= 12 && overlap(key) >= 1)
    }
  }

  test("realistic-vocab slice: prefix+PPJoin prunes the naive candidate " +
    "set, results stay exact, and structure survives any doc_id shape") {
    val rv = Dedup.realVocabDocs(tables.documents)
    // same semantics, two algorithms — exact equality on the slice
    val pref = Dedup.ngramJaccardPairsPrefix(rv)
      .collect().map(_.mkString("|")).toSet
    val naive = Dedup.ngramJaccardPairs(rv)
      .collect().map(_.mkString("|")).toSet
    assert(pref == naive)
    assert(pref.nonEmpty, "no planted clique pair survived — vacuous")

    // candidate reduction: the point of the prefix path. Naive
    // candidates = pairs sharing ANY shingle (the inverted-index join
    // frontier, incl. every sub-threshold group pair); the prefix
    // index must cut that by at least 2x on a realistic vocabulary.
    val sets = Dedup.shingleSets(rv, 3)
    val idx = sets.select(col("doc_id"), explode(col("sh")).as("h"))
    val naiveCand = idx.as("a")
      .join(idx.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id")).distinct().count()
    val prefCand = Dedup.prefixCandidates(sets, 0.5).count()
    assert(prefCand * 2 <= naiveCand,
      s"prefix candidates $prefCand vs naive $naiveCand — no pruning")
    assert(prefCand >= pref.size.toLong,
      "candidates must cover every true pair (exactness precondition)")
  }

  test("memorizationRisk: df counting, frequent fraction, majority flag") {
    // "x y z" occurs in docs 1, 2, 4 (df=3); every other shingle df=1
    val docs = Seq(
      (1L, "x y z p q"), // shingles: x y z | y z p | z p q
      (2L, "x y z r s"), // shingles: x y z | y z r | z r s
      (3L, "u v w a b"), // all unique
      (4L, "x y z"), //     single shingle, corpus-frequent -> flag
      (5L, "ab")) //        shorter than n -> absent from output
      .toDF("doc_id", "text")
    val got = Dedup.memorizationRisk(docs, n = 3, minDf = 2).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L))
    val d1 = got(1L)
    assert(d1.getAs[Long]("n_shingles") == 3
      && d1.getAs[Long]("n_frequent") == 1
      && d1.getAs[Long]("max_df") == 3
      && math.abs(d1.getAs[Double]("frequent_frac") - 0.333333) < 1e-9
      && d1.getAs[Int]("risk_flag") == 0)
    val d3 = got(3L)
    assert(d3.getAs[Long]("n_frequent") == 0
      && d3.getAs[Long]("max_df") == 1
      && d3.getAs[Double]("frequent_frac") == 0.0)
    val d4 = got(4L)
    assert(d4.getAs[Long]("n_shingles") == 1
      && d4.getAs[Long]("n_frequent") == 1
      && d4.getAs[Double]("frequent_frac") == 1.0
      && d4.getAs[Int]("risk_flag") == 1)
  }

  test("memorizationRisk: fixture docs agree with a driver-side replay") {
    val rows = Dedup.memorizationRisk(tables.documents).collect()
    // driver referee: same distinct-shingle df counting in plain Scala
    val docs = tables.documents.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def sh(t: String): Set[String] = {
      val w = t.split(" ", -1)
      if (w.length < 3) Set.empty
      else w.sliding(3).map(_.mkString(" ")).toSet
    }
    val dfreq = docs.flatMap { case (_, t) => sh(t) }
      .groupBy(identity).map { case (g, v) => g -> v.length }
    val expect = docs.map { case (id, t) =>
      val s = sh(t)
      id -> (s.size, s.count(g => dfreq(g) >= 4))
    }.filter(_._2._1 > 0).toMap
    assert(rows.length == expect.size)
    rows.foreach { r =>
      val (nSh, nFq) = expect(r.getLong(0))
      assert(r.getAs[Long]("n_shingles") == nSh.toLong
        && r.getAs[Long]("n_frequent") == nFq.toLong)
    }
  }
}
