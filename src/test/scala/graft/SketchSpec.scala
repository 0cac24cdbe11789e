package graft

import graft.operators.Sketches
import org.apache.spark.sql.functions._

/** HLL sketch operators: estimate quality vs exact distinct counts,
  * merge exactness, and parquet round-trip of sketch state (the
  * materialized-sketch-table pattern). */
class SketchSpec extends SparkSpec {

  private lazy val events = tables.events

  test("q78 merged estimate within 5% of exact distinct users per key") {
    val exact = events.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("d")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    Sketches.q78(tables).collect().foreach { r =>
      val (key, merged) = (r.getString(0), r.getLong(3))
      val d = exact(key)
      assert(math.abs(merged - d).toDouble / d < 0.05,
        s"$key merged=$merged exact=$d")
      // per-day estimates double-count repeat visitors: sum >= merged
      assert(r.getLong(2) >= merged, s"$key sum_daily < merged")
    }
  }

  test("union of daily sketches equals the single global sketch") {
    val viaDays = Sketches.dailyUserSketches(events)
      .groupBy("event_type")
      .agg(hll_sketch_estimate(hll_union_agg(col("sketch"), lit(false)))
        .as("est"))
    val global = events.groupBy("event_type")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"), lit(12)))
        .as("est"))
    val joined = viaDays.join(global, "event_type")
      .collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      assert(r.getLong(1) == r.getLong(2),
        s"${r.getString(0)}: day-merged ${r.getLong(1)} != global ${r.getLong(2)}")
    }
  }

  test("sketches survive a parquet round-trip and still merge") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_sketch").toString
    Sketches.dailyUserSketches(events).write
      .mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir)
      .groupBy("event_type")
      .agg(hll_sketch_estimate(hll_union_agg(col("sketch"), lit(false)))
        .as("est"))
    val direct = Sketches.q78(tables)
      .select(col("event_type"), col("merged_users"))
    val mismatch = back.join(direct, "event_type")
      .filter(col("est") =!= col("merged_users")).count()
    assert(mismatch == 0)
  }

  test("q104 histogram-sketch quantiles are within one bin width") {
    val approx = Sketches.q104(tables).collect()
      .map(r => r.getString(0) ->
        (r.getDouble(2), r.getDouble(3))).toMap
    val exact = tables.events.filter(col("value").isNotNull)
      .groupBy("event_type")
      .agg(expr("percentile(value, 0.5)").as("p50"),
        expr("percentile(value, 0.9)").as("p90"),
        ((max("value") - min("value")) / 32).as("w"))
      .collect()
    exact.foreach { r =>
      val (a50, a90) = approx(r.getString(0))
      val w = r.getDouble(3)
      assert(math.abs(a50 - r.getDouble(1)) <= w + 1e-9,
        s"${r.getString(0)} p50")
      assert(math.abs(a90 - r.getDouble(2)) <= w + 1e-9,
        s"${r.getString(0)} p90")
    }
  }

  test("histogram sketches merge associatively (day rollup == direct)") {
    // merging the per-day sketch table must equal histogramming the
    // raw values directly — the mergeability property that lets
    // incremental days append without rescanning history
    val viaDays = Sketches.dailyValueHistograms(events)
      .groupBy("event_type", "bin").agg(sum("cnt").as("cnt"))
    val direct = Sketches
      .dailyValueHistograms(events.withColumn("ts",
        lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))))
      .groupBy("event_type", "bin").agg(sum("cnt").as("cnt"))
    assert(viaDays.exceptAll(direct).count() == 0 &&
      direct.exceptAll(viaDays).count() == 0)
  }

  test("count-min sketch: estimates are exact over-estimates within " +
    "the eps*N bound, distributed == local reference, merge is the " +
    "sum of halves") {
    import graft.functions.CountMinSketch
    val (depth, width) = (5, 1024)
    val toks = tables.documents
      .select(explode(split(col("text"), " ")).as("tok"))
    val truth = toks.groupBy("tok").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = truth.values.sum
    val sketch = toks.agg(CountMinSketch
      .cms_sketch(col("tok"), depth, width).as("s"))
      .head().getAs[scala.collection.Seq[Long]]("s").toArray
    // the CMS guarantee: never under, over by at most ~eps*N (checked
    // with slack 2x the expectation bound — deterministic fixture)
    val eps = math.E / width
    truth.foreach { case (tok, c) =>
      val est = CountMinSketch.estimate(sketch, depth, width, tok)
      assert(est >= c, s"$tok underestimated: $est < $c")
      assert(est <= c + (2 * eps * n).toLong + 1,
        s"$tok overestimated: $est vs $c (N=$n)")
    }
    // distributed aggregation == single-threaded reference
    val agg = new CountMinSketch(depth, width)
    val local = tables.documents.collect()
      .flatMap(_.getAs[String]("text").split(" "))
      .foldLeft(agg.zero)(agg.reduce)
    assert(sketch.toSeq == local.toSeq)
    // mergeability: sum of the halves' sketches == whole
    val half1 = toks.limit(1000).collect().map(_.getString(0))
      .foldLeft(agg.zero)(agg.reduce)
    val rest = toks.collect().map(_.getString(0)).drop(1000)
      .foldLeft(agg.zero)(agg.reduce)
    assert(agg.merge(half1, rest).toSeq == local.toSeq)
  }

  test("MisraGries + count-min compose: MG candidates, CMS counts, " +
    "top token agrees with the exact table") {
    import graft.functions.{CountMinSketch, MisraGries}
    val (depth, width) = (5, 2048)
    val toks = tables.documents
      .select(explode(split(col("text"), " ")).as("tok"))
    val row = toks.agg(
      MisraGries.mg_candidates(col("tok"), 16).as("cand"),
      CountMinSketch.cms_sketch(col("tok"), depth, width).as("s"))
      .head()
    val cand = row.getAs[scala.collection.Seq[String]]("cand")
    val sketch = row.getAs[scala.collection.Seq[Long]]("s").toArray
    assert(cand.nonEmpty)
    val estTop = cand
      .map(t => t -> CountMinSketch.estimate(sketch, depth, width, t))
      .maxBy { case (t, e) => (e, t) }._1
    // CMS ranks by (over-)estimate, so near-ties can swap; the
    // guarantee to hold is that the sketch-chosen top's TRUE count is
    // within the eps*N additive bound of the true maximum
    val truth = toks.groupBy("tok").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = truth.values.sum
    val bound = (2 * math.E / width * n).toLong + 1
    assert(truth(estTop) >= truth.values.max - bound,
      s"$estTop true=${truth(estTop)} vs max=${truth.values.max}")
  }

  // ---- KLL quantile sketches (q167) --------------------------------

  test("q167 KLL quantiles: empirical rank of each returned quantile " +
    "is within the k=200 rank-error bound, and getN is exact") {
    val out = Sketches.q167(tables).collect()
    val exactN = events.filter(col("value").isNotNull)
      .groupBy("event_type").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val values = events.filter(col("value").isNotNull)
      .select("event_type", "value").collect()
      .groupBy(_.getString(0))
      .map { case (k, rs) => k -> rs.map(_.getDouble(1)).sorted }
    assert(out.nonEmpty)
    out.foreach { r =>
      val key = r.getString(0)
      // sketch_n is a deterministic exact count even though quantile
      // positions are randomized
      assert(r.getLong(3) == exactN(key), s"$key getN")
      val vs = values(key)
      Seq(0.5 -> r.getDouble(4), 0.9 -> r.getDouble(5),
        0.99 -> r.getDouble(6)).foreach { case (p, est) =>
        val rank = vs.count(_ <= est).toDouble / vs.length
        // ±1.65% single-sketch bound; doubled for the day-merge and
        // the display rounding
        assert(math.abs(rank - p) <= 0.033 + 1.0 / vs.length,
          s"$key p$p: est=$est has empirical rank $rank")
      }
    }
  }

  test("KLL getN and theta exact-mode estimates are partitioning-" +
    "invariant (1 vs 13 partitions)") {
    import graft.functions.{QuantileSketch, ThetaSketch}
    def kllN(parts: Int): Map[String, Long] =
      events.repartition(parts).filter(col("value").isNotNull)
        .groupBy("event_type")
        .agg(QuantileSketch.kll_agg(col("value").cast("double"))
          .as("sk"))
        .select(col("event_type"),
          QuantileSketch.kllNUdf(col("sk")).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kllN(1) == kllN(13))
    def thetaEst(parts: Int): Map[String, Double] =
      events.repartition(parts)
        .groupBy("event_type")
        .agg(ThetaSketch.theta_agg(col("user_id").cast("long"))
          .as("s"))
        .collect()
        .map(r => r.getString(0) ->
          ThetaSketch.estimate(r.getAs[Array[Byte]]("s"))).toMap
    // exact mode (below nominal entries): the estimate is the exact
    // distinct count, so it cannot depend on partitioning
    assert(thetaEst(1) == thetaEst(13))
  }

  test("KLL sketch blobs survive a parquet round-trip and re-merge " +
    "without losing mass") {
    import graft.functions.QuantileSketch
    val dir = java.nio.file.Files
      .createTempDirectory("graft_kll").toString
    Sketches.dailyValueKllSketches(events).write
      .mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir)
      .groupBy("event_type")
      .agg(QuantileSketch.kll_merge_agg(col("sketch")).as("sk"))
      .select(col("event_type"),
        QuantileSketch.kllNUdf(col("sk")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = events.filter(col("value").isNotNull)
      .groupBy("event_type").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(back == exact)
  }

  // ---- theta sketches (q168/q169) ----------------------------------

  test("q168 theta estimates equal q79's exact overlap counts in " +
    "exact mode (distinct users below nominal entries => theta == 1), " +
    "and the set algebra is consistent: a = both + a_only") {
    val exactInter = graft.operators.Relational.q79(tables).collect()
      .map(r => (r.getAs[String]("ta"), r.getAs[String]("tb")) ->
        r.getAs[Long]("inter")).toMap
    val exactSizes = events.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("d")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val est = Sketches.q168(tables).collect()
    assert(est.nonEmpty && exactInter.nonEmpty)
    assert(est.length == exactInter.size)
    est.foreach { r =>
      val key = (r.getAs[String]("type_a"), r.getAs[String]("type_b"))
      val na = exactSizes(key._1)
      val nb = exactSizes(key._2)
      val nboth = exactInter(key)
      assert(r.getAs[Double]("est_a") == na.toDouble, s"$key est_a")
      assert(r.getAs[Double]("est_b") == nb.toDouble, s"$key est_b")
      assert(r.getAs[Double]("est_both") == nboth.toDouble,
        s"$key est_both")
      assert(r.getAs[Double]("est_a_only") == (na - nboth).toDouble,
        s"$key est_a_only")
    }
  }

  test("q175 theta retention equals the exact first-seen accounting " +
    "in exact mode, and new + returning == active every day") {
    val got = Sketches.q175(tables).collect()
    assert(got.nonEmpty)
    val du = events
      .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
    val activeExact = du.groupBy("day").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    val newExact = du.groupBy("user_id")
      .agg(min("day").as("fd"))
      .groupBy("fd").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    got.foreach { r =>
      val day = r.getDate(0).toString
      assert(r.getDouble(1) == activeExact(day).toDouble,
        s"$day active")
      assert(r.getDouble(2) == newExact.getOrElse(day, 0L).toDouble,
        s"$day new")
      assert(r.getDouble(3) == r.getDouble(1) - r.getDouble(2),
        s"$day returning")
    }
    // the fixture must exercise both classes
    assert(got.map(_.getDouble(2)).sum > 0, "no new users — vacuous")
    assert(got.map(_.getDouble(3)).sum > 0, "no returning users — vacuous")
  }

  test("theta sketches in estimation mode (cardinality >> nominal " +
    "entries) stay within 5% and intersections within 15%") {
    import graft.functions.ThetaSketch
    import spark.implicits._
    // two overlapping 40k-key segments, nomEntries=4096 => sampling
    // (theta hashing is seeded => the estimates are deterministic and
    // these bounds, ~3σ at RSE 1.6%, are stable replay-to-replay)
    val a = (0L until 40000L).map(("a", _))
    val b = (20000L until 60000L).map(("b", _))
    val df = (a ++ b).toDF("seg", "k")
    val sk = df.groupBy("seg")
      .agg(ThetaSketch.theta_agg(col("k"), 4096).as("s"))
      .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]]("s"))
      .toMap
    val estA = ThetaSketch.estimate(sk("a"))
    val estB = ThetaSketch.estimate(sk("b"))
    val estBoth = ThetaSketch.intersectEstimate(sk("a"), sk("b"))
    val estAOnly = ThetaSketch.aNotBEstimate(sk("a"), sk("b"))
    assert(math.abs(estA - 40000) / 40000.0 < 0.05, s"estA=$estA")
    assert(math.abs(estB - 40000) / 40000.0 < 0.05, s"estB=$estB")
    assert(math.abs(estBoth - 20000) / 20000.0 < 0.15,
      s"estBoth=$estBoth")
    assert(math.abs(estAOnly - 20000) / 20000.0 < 0.15,
      s"estAOnly=$estAOnly")
  }

  test("q179 sketch-table KS stays within the 2-epsilon rank-error " +
    "bound of q178's exact statistic, with exact period counts") {
    val exact = graft.operators.Relational.q178(tables).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getAs[Double]("ks"))).toMap
    val est = Sketches.q179(tables).collect()
    assert(est.nonEmpty && est.length == exact.size)
    est.foreach { r =>
      val key = r.getString(0)
      val (n1, n2, ks) = exact(key)
      // period masses are EXACT through sketch getN accounting
      assert(r.getLong(1) == n1, s"$key n1")
      assert(r.getLong(2) == n2, s"$key n2")
      val e = r.getAs[Double]("ks_est")
      assert(!e.isNaN, s"$key NaN estimate")
      // k=200 => ~1.65% rank error per sketch; two sketches + grid
      assert(math.abs(e - ks) <= 0.05, s"$key est=$e exact=$ks")
    }
  }

  test("theta_agg with nomEntries > 4096 keeps the configured " +
    "resolution across the partial/final serialization boundary " +
    "(exact mode at 10k distinct keys under nomEntries=16384)") {
    import graft.functions.ThetaSketch
    import spark.implicits._
    // 10k distinct keys > the 4096 library default but < the
    // configured 16384: if the shuffle-boundary rehydration dropped
    // nomEntries (the pre-fix bug), the merged union would cap at
    // 4096 and fall into estimation mode — the estimate would no
    // longer be the exact 10000 and would vary with partitioning.
    val df = (0L until 10000L).toDF("k").repartition(13)
    val blob = df.agg(ThetaSketch.theta_agg(col("k"), 16384).as("s"))
      .head().getAs[Array[Byte]]("s")
    assert(ThetaSketch.estimate(blob) == 10000.0,
      s"expected exact 10000, got ${ThetaSketch.estimate(blob)}")
  }

  test("the sketch suite is SQL-callable: a pure-SQL KLL build+merge+" +
    "read pipeline keeps exact counts and bounded ranks, and a " +
    "pure-SQL theta overlap equals the exact matrix in exact mode") {
    events.createOrReplaceTempView("events_sql")
    val exactN = events.filter(col("value").isNotNull)
      .groupBy("event_type").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val kll = spark.sql(
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |         kll_agg(CAST(value AS DOUBLE)) AS sk
        |  FROM events_sql WHERE value IS NOT NULL GROUP BY 1, 2),
        |m AS (SELECT event_type, kll_merge_agg(sk) AS sk
        |      FROM daily GROUP BY 1)
        |SELECT event_type, kll_n(sk) AS n,
        |       kll_quantiles(sk, array(0.5D))[0] AS p50
        |FROM m ORDER BY event_type""".stripMargin).collect()
    assert(kll.nonEmpty)
    val values = events.filter(col("value").isNotNull)
      .select("event_type", "value").collect()
      .groupBy(_.getString(0))
      .map { case (k, rs) => k -> rs.map(_.getDouble(1)).sorted }
    kll.foreach { r =>
      val key = r.getString(0)
      assert(r.getLong(1) == exactN(key), s"$key SQL kll_n")
      val vs = values(key)
      val rank = vs.count(_ <= r.getDouble(2)).toDouble / vs.length
      assert(math.abs(rank - 0.5) <= 0.033 + 1.0 / vs.length,
        s"$key SQL p50 rank $rank")
    }
    val exactInter = graft.operators.Relational.q79(tables).collect()
      .map(r => (r.getAs[String]("ta"), r.getAs[String]("tb")) ->
        r.getAs[Long]("inter")).toMap
    val theta = spark.sql(
      """WITH sk AS (
        |  SELECT event_type, theta_agg(CAST(user_id AS BIGINT)) AS s
        |  FROM events_sql GROUP BY 1)
        |SELECT a.event_type AS ta, b.event_type AS tb,
        |       theta_intersect_est(a.s, b.s) AS est,
        |       theta_estimate(a.s) AS est_a,
        |       theta_anotb_est(a.s, b.s) AS est_a_only
        |FROM sk a JOIN sk b ON a.event_type < b.event_type
        |ORDER BY ta, tb""".stripMargin).collect()
    assert(theta.length == exactInter.size)
    theta.foreach { r =>
      val key = (r.getString(0), r.getString(1))
      assert(r.getDouble(2) == exactInter(key).toDouble,
        s"$key SQL theta intersect")
      assert(r.getDouble(3) == r.getDouble(2) + r.getDouble(4),
        s"$key SQL a = both + a_only")
    }
  }

  test("theta sketch blobs survive parquet and re-intersect " +
    "identically (the persisted segment-sketch table)") {
    import graft.functions.ThetaSketch
    val dir = java.nio.file.Files
      .createTempDirectory("graft_theta").toString
    Sketches.eventUserThetaSketches(events).write
      .mode("overwrite").parquet(dir)
    val direct = Sketches.q168(tables).collect()
      .map(r => (r.getAs[String]("type_a"), r.getAs[String]("type_b")) ->
        r.getAs[Double]("est_both")).toMap
    val back = spark.read.parquet(dir).collect()
      .map(r => r.getAs[String]("event_type") ->
        r.getAs[Array[Byte]]("sketch")).toMap
    direct.foreach { case ((ta, tb), want) =>
      val got = math.rint(
        ThetaSketch.intersectEstimate(back(ta), back(tb)) * 10) / 10
      assert(got == want, s"($ta,$tb): $got vs $want")
    }
  }
}
