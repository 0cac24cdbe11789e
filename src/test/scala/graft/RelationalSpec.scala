package graft

import graft.operators.Relational
import org.apache.spark.sql.functions._

class RelationalSpec extends SparkSpec {

  test("all declared queries run and return rows at sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sfDir).count()
      assert(n >= 0, s"$name failed")
      // queries that are legitimately empty on clean tiny data:
      // q01 (selective filter), q17 (no exact dups in testdata),
      // q17b/q19/q20 (near-dup counts shrink with corpus size)
      val mayBeEmpty = Set("q01_scan_filter", "q17_dedup_exact",
        "q17b_dedup_prefix", "q19_ngram_jaccard", "q20_minhash_lsh")
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned 0 rows")
    }
  }

  test("q01 plan: filters reach the parquet scan, schema is pruned") {
    // AQE off: the scan hides inside QueryStageExec otherwise
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = Relational.q01(tables)
      df.collect()
      val exec = df.queryExecution.executedPlan.collectLeaves()
        .collectFirst {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f
        }.get
      val pushed = exec.metadata("PushedFilters")
      assert(pushed.contains("GreaterThan(l_quantity,45.0)"),
        s"quantity filter not pushed: $pushed")
      // projection pruning: the wide lineitem scan reads only the
      // query's columns, never e.g. l_discount
      val readSchema = exec.metadata("ReadSchema")
      assert(!readSchema.contains("l_discount"),
        s"unneeded column read by the scan: $readSchema")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q07 rank_norm is in (0,1] and monotone in value within site") {
    val r = Relational.q07(tables)
    val bad = r.filter(col("rank_norm") <= 0 || col("rank_norm") > 1).count()
    assert(bad == 0)
    // max rank per site is exactly 1.0 (row_number == count on the max row)
    val maxes = r.groupBy("event_type").agg(max("rank_norm").as("m"))
      .filter(col("m") < 0.999999).count()
    assert(maxes == 0)
  }

  test("q08 pivot: exists flags are 0/1 and pageviews 0 when absent") {
    val r = Relational.q08(tables)
    for (s <- Seq("click", "view", "purchase")) {
      assert(r.filter(!col(s"exists_$s").isin(0.0, 1.0)).count() == 0)
      assert(r.filter(col(s"exists_$s") === 0.0 &&
        col(s"pageviews_$s") =!= 0.0).count() == 0)
    }
  }

  test("q12 top-k returns exactly k rows in descending order") {
    val rows = Relational.q12(tables).collect()
    assert(rows.length == 10)
    val totals = rows.map(_.getDouble(1))
    assert(totals.zip(totals.tail).forall { case (a, b) => a >= b })
  }

  test("q06 outer chain covers the union of user ids") {
    val r = Relational.q06(tables)
    val expected = tables.events
      .filter(col("event_type").isin("click", "view", "purchase"))
      .select("user_id").distinct().count()
    assert(r.count() == expected)
  }

  test("q72 gap counts equal events minus first-events, quantiles ordered") {
    val r = Relational.q72(tables).collect()
      .map(x => x.getString(0) -> (x.getLong(1), x.getDouble(2), x.getDouble(3)))
      .toMap
    // each (event_type, user_id) group contributes (n-1) gaps
    val expected = tables.events.groupBy("event_type")
      .agg((count(lit(1)) - countDistinct(col("user_id"))).as("g")).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    expected.foreach { case (et, g) =>
      val (n, p50, p90) = r(et)
      assert(n == g, s"$et gaps=$n expected=$g")
      assert(p50 >= 0 && p50 <= p90, s"$et p50=$p50 p90=$p90")
    }
  }

  test("q73 transition rows sum to events minus first-events, probs sum to 1") {
    val rows = Relational.q73(tables).collect()
    val total = rows.map(_.getLong(2)).sum
    val expected = tables.events.select(count(lit(1)) -
      countDistinct(col("user_id"))).head.getLong(0)
    assert(total == expected, s"pairs=$total expected=$expected")
    rows.groupBy(_.getString(0)).foreach { case (src, rs) =>
      val p = rs.map(_.getDouble(3)).sum
      assert(math.abs(p - 1.0) < 0.01, s"$src probs sum to $p")
    }
  }

  test("q75 segments partition the user base, codes within 1..4") {
    val rows = Relational.q75(tables).collect()
    val users = tables.events.select(countDistinct(col("user_id")))
      .head.getLong(0)
    assert(rows.map(_.getLong(3)).sum == users)
    rows.foreach { r =>
      for (i <- 0 to 2)
        assert(r.getLong(i) >= 1 && r.getLong(i) <= 4)
    }
  }

  test("q79 jaccard bounded by 1, intersection bounded by set sizes") {
    val sizes = tables.events.select("event_type", "user_id").distinct()
      .groupBy("event_type").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val rows = Relational.q79(tables).collect()
    assert(rows.length == sizes.size * (sizes.size - 1) / 2)
    rows.foreach { r =>
      val (ta, tb, inter, j) =
        (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))
      assert(inter <= math.min(sizes(ta), sizes(tb)))
      assert(j > 0.0 && j <= 1.0)
    }
  }

  test("q80 bins cover 0..9 and counts sum to non-null values") {
    val rows = Relational.q80(tables).collect()
    assert(rows.forall(r => r.getLong(1) >= 0 && r.getLong(1) <= 9))
    val total = rows.map(_.getLong(2)).sum
    val expected = tables.events.filter(col("value").isNotNull).count()
    assert(total == expected)
  }

  test("q81 max streak bounded by the user's distinct active days") {
    val days = tables.events
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      .groupBy("user_id").agg(count(lit(1)).as("d")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    Relational.q81(tables).collect().foreach { r =>
      val (u, nS, mS) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(mS >= 1 && mS <= days(u))
      assert(nS >= 1 && nS <= days(u))
    }
  }

  test("q84 grid is dense, filled matches observed, nulls only lead") {
    val r = Relational.q84(tables)
    val types = tables.events.select("event_type").distinct().count()
    val hours = r.select("hr").distinct().count()
    assert(r.count() == types * hours, "grid not dense")
    // once a key has a value, every later hour must be non-null
    val withFlag = r.withColumn("seen",
      max(col("filled").isNotNull.cast("int")).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("event_type").orderBy("hr")
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, -1)))
    assert(withFlag.filter(col("seen") === 1 && col("filled").isNull)
      .count() == 0, "null after first observation")
  }

  test("q88 conservation: active(d-1) == retained(d) + churned(d)") {
    val activeByDay = tables.events
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      .groupBy("day").agg(count(lit(1)).as("a")).collect()
      .map(r => r.getDate(0).toLocalDate -> r.getLong(1)).toMap
    val rows = Relational.q88(tables).collect()
    rows.foreach { r =>
      val d = r.getDate(0).toLocalDate
      val (nu, re, rs, ch) = (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))
      // today's actives split exactly three ways
      assert(activeByDay.getOrElse(d, 0L) == nu + re + rs, s"$d split")
      // yesterday's actives either stayed or churned
      activeByDay.get(d.minusDays(1)).foreach { prev =>
        assert(prev == re + ch, s"$d retention")
      }
    }
  }

  test("q89 wau bounded by DAU-of-window and total users, monotone floor") {
    val dau = tables.events
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      .groupBy("day").agg(count(lit(1)).as("a")).collect()
      .map(r => r.getDate(0).toLocalDate -> r.getLong(1)).toMap
    val users = tables.events.select(countDistinct(col("user_id")))
      .head.getLong(0)
    Relational.q89(tables).collect().foreach { r =>
      val d = r.getDate(0).toLocalDate
      val wau = r.getLong(1)
      val windowDau = (0 to 6).flatMap(i => dau.get(d.minusDays(i)))
      // at least the busiest single day, at most the sum / total users
      assert(wau >= windowDau.max && wau <= math.min(windowDau.sum, users),
        s"$d wau=$wau window=$windowDau")
    }
  }

  test("q91 clean testdata has zero orphans and true totals") {
    val r = Relational.q91(tables).collect()
      .map(x => x.getString(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(r.size == 4)
    r.values.foreach { case (orphans, _) => assert(orphans == 0) }
    assert(r("lineitem->orders")._2 == tables.lineitem.count())
    assert(r("customer->nation")._2 == tables.customer.count())
  }

  test("q92 cumulative share is monotone and ends at exactly 1.0") {
    val rows = Relational.q92(tables).collect()
    assert(rows.map(_.getLong(0)).toSeq == (1L to 10L))
    val shares = rows.map(_.getDouble(3))
    assert(shares.zip(shares.tail).forall { case (a, b) => a <= b })
    assert(shares.last == 1.0)
    // decile revenue is non-increasing (sorted by revenue desc)
    val rev = rows.map(_.getDouble(2))
    assert(rev.zip(rev.tail).forall { case (a, b) => a >= b })
  }

  test("q93 arm counts partition events; assignment is hash-stable") {
    val perType = tables.events.groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val r1 = Relational.q93(tables).collect()
    r1.foreach { r =>
      assert(r.getLong(1) + r.getLong(2) == perType(r.getString(0)))
    }
    // repartitioning must not move any user between arms: the md5
    // assignment is a pure function of user_id
    def arms(df: org.apache.spark.sql.DataFrame) = df
      .select(col("user_id"),
        substring(md5(col("user_id").cast("string")), 1, 1).as("nib"))
      .distinct().collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(arms(tables.events) == arms(tables.events.repartition(17)))
  }

  test("q15 sessions are at least 1 and at most the event count") {
    val r = Relational.q15(tables)
    assert(r.filter(col("sessions") < 1 || col("sessions") > col("events"))
      .count() == 0)
  }

  test("q96 SCD2 intervals: versions count runs, exactly one current") {
    val r = Relational.q96(tables)
    // versions are 1..k dense per user
    val perUser = r.groupBy("user_id")
      .agg(max("version").as("mx"), count(lit(1)).as("n"),
        sum("is_current").as("cur"))
    assert(perUser.filter(col("mx") =!= col("n")).count() == 0)
    assert(perUser.filter(col("cur") =!= 1).count() == 0)
    // intervals tile: valid_to of version v equals valid_from of v+1,
    // n_events sums to the user's event count
    val nEvents = tables.events.groupBy("user_id").count().collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    val sums = r.groupBy("user_id").agg(sum("n_events").as("s")).collect()
    sums.foreach(x => assert(x.getLong(1) == nEvents(x.getLong(0))))
  }

  test("q97 attribution conserves purchase count and revenue") {
    val r = Relational.q97(tables).collect()
    val purchases = tables.events
      .filter(col("event_type") === "purchase")
    assert(r.map(_.getLong(1)).sum == purchases.count())
    val totalRev = purchases
      .select(sum(round(coalesce(col("value"), lit(0.0)) * 100)
        .cast("long"))).collect()(0).getLong(0)
    assert(math.abs(r.map(_.getDouble(2)).sum - totalRev / 100.0) < 1e-6)
    // purchase events never credit themselves as a channel
    assert(!r.map(_.getString(0)).contains("purchase"))
  }

  test("q98 EWMA is exact on a crafted lag chain") {
    import spark.implicits._
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def t(m: Int) =
      new java.sql.Timestamp(ts0.getTime + m * 60000L)
    val ev = Seq(
      (1L, t(0), 7L, "view", 1.00),
      (2L, t(1), 7L, "view", 2.00),
      (3L, t(2), 7L, "view", 4.00))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = Relational.ewma(ev)
    // third event: 400*1 + 200*0.5 + 100*0.25 = 525 cents
    val r = got.collect().map(x => x.getLong(0) -> x.getDouble(2)).toMap
    assert(r(1L) == 1.00 && r(2L) == 2.50 && r(3L) == 5.25)
  }

  test("q108 plans broadcast joins and keeps revenue descending") {
    val df = Relational.q108(tables)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(500))
    assert(!plan.contains("CartesianProduct"))
    val rev = df.collect().map(_.getDouble(2))
    assert(rev.sameElements(rev.sortBy(-_)))
  }

  test("q114 shares sum to 1 per region and globally") {
    val r = Relational.q114(tables)
    val perRegion = r.groupBy("region")
      .agg(sum("share_of_region").as("s")).collect()
    perRegion.foreach(x =>
      assert(math.abs(x.getDouble(1) - 1.0) < 1e-9, x.getString(0)))
    val total = r.agg(sum("share_of_total")).collect()(0).getDouble(0)
    assert(math.abs(total - 1.0) < 1e-9)
  }

  test("q115 debounce conserves events and first_event is minimal") {
    val r = Relational.q115(tables)
    val total = r.agg(sum("n_events")).collect()(0).getLong(0)
    assert(total == tables.events.count())
    assert(r.filter(col("suppressed") =!= col("n_events") - 1)
      .count() == 0)
    // first_event really is the minimum event_id of its bucket
    val recomputed = tables.events
      .select(col("user_id"), col("event_type"),
        floor(unix_timestamp(col("ts")) / 3600).cast("long")
          .as("hour_bucket"),
        col("event_id"))
      .groupBy("user_id", "event_type", "hour_bucket")
      .agg(min("event_id").as("expected_min"))
    val mismatches = r
      .join(recomputed, Seq("user_id", "event_type", "hour_bucket"))
      .filter(col("first_event") =!= col("expected_min"))
    assert(mismatches.count() == 0)
  }

  test("q116 gaps: span = active + missing, longest_gap <= missing") {
    val r = Relational.q116(tables)
    assert(r.filter(
      col("span_days") =!= col("active_days") + col("missing_days"))
      .count() == 0)
    assert(r.filter(col("longest_gap") > col("missing_days"))
      .count() == 0)
  }

  test("q117 bounce rate consistent with q15 session counts") {
    val bounce = Relational.q117(tables).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // q15 reports sessions for users with >= 5 events; counts agree
    Relational.q15(tables).collect().foreach { r =>
      assert(bounce(r.getLong(0)) == r.getLong(1), s"user ${r.getLong(0)}")
    }
  }

  test("q124 Gini in [0,1); equal distribution gives ~0") {
    val g = Relational.q124(tables).collect()(0).getDouble(2)
    assert(g >= 0.0 && g < 1.0, s"gini $g")
    // brute-force check on the real data
    val cents = tables.orders
      .groupBy("o_custkey")
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("c"))
      .collect().map(_.getLong(1)).sorted
    val n = cents.length.toDouble
    val tot = cents.map(BigInt(_)).sum.toDouble
    val s = cents.zipWithIndex
      .map { case (c, i) => (i + 1).toDouble * c }.sum
    val expected = 2.0 * s / (n * tot) - (n + 1) / n
    assert(math.abs(g - expected) < 1e-9)
  }

  test("q123 segments partition the customer universe") {
    val r = Relational.q123(tables).collect()
    assert(r.map(_.getString(0)).sorted.toSeq ==
      Seq("big_spender", "champion", "dormant", "window_shopper"))
    val universe = tables.orders.select(col("o_custkey").as("c"))
      .union(tables.events.select(col("user_id").as("c")))
      .distinct().count()
    assert(r.map(_.getLong(1)).sum == universe)
    val totalRev = tables.orders
      .agg(sum(round(col("o_totalprice") * 100).cast("long")))
      .collect()(0).getLong(0)
    assert(math.abs(r.map(_.getDouble(2)).sum - totalRev / 100.0) < 1e-6)
  }

  test("q121 bag semantics: intersect+except counts reconstruct side A") {
    // |A| per type == intersectAll + exceptAll per type (multiset law)
    val r = Relational.q121(tables).collect()
      .groupBy(_.getString(1)).view
      .mapValues(_.map(x => x.getString(0) -> x.getLong(2)).toMap)
    val aCounts = tables.events
      .filter(col("event_id") % 2 === 0)
      .groupBy("event_type").count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    aCounts.foreach { case (tpe, n) =>
      val m = r.getOrElse(tpe, Map.empty)
      assert(m.getOrElse("intersect_all", 0L)
        + m.getOrElse("except_all", 0L) == n, tpe)
    }
  }

  test("q122 lateral picks each customer's true max order") {
    val got = Relational.q122(tables).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val expected = tables.orders.groupBy("o_custkey")
      .agg(max("o_totalprice")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == expected)
  }

  test("q119/q120 shares and indices conserve") {
    val b = Relational.q119(tables)
    assert(math.abs(b.agg(sum("share")).collect()(0).getDouble(0) - 1.0)
      < 1e-9)
    assert(b.filter(col("digit") < 1 || col("digit") > 9).count() == 0)
    val s = Relational.q120(tables).collect()
    assert(math.abs(s.map(_.getDouble(4)).sum - 1.0) < 1e-9)
    val meanIdx = s.map(_.getDouble(3)).sum / s.length
    assert(math.abs(meanIdx - 1.0) < 1e-9)
  }

  test("q109 HHI bounded by [1/n, 1]") {
    Relational.q109(tables).collect().foreach { r =>
      val (n, hhi) = (r.getLong(1), r.getDouble(2))
      assert(hhi >= 1.0 / n - 1e-9 && hhi <= 1.0 + 1e-9,
        s"${r.getString(0)}: hhi $hhi n $n")
    }
  }

  test("q111 subqueries plan as joins, not per-row re-execution") {
    val df = Relational.q111(tables)
    val plan = df.queryExecution.executedPlan.toString
    // Catalyst rewrites: EXISTS/IN -> semi joins, scalar subqueries ->
    // aggregates joined back; nothing should remain as an uncorrelated
    // per-row InSubqueryExec over the orders table
    assert(plan.contains("Join"), plan.take(400))
    assert(df.count() > 0)
  }

  test("q101 paths: counts conserve to events minus 2 per active user") {
    val full = {
      // same construction without the top-20 limit
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      tables.events
        .withColumn("p2", lag("event_type", 2).over(w))
        .filter(col("p2").isNotNull).count()
    }
    val expected = tables.events.groupBy("user_id").count()
      .select(sum(greatest(col("count") - 2, lit(0L)))).collect()(0)
      .getLong(0)
    assert(full == expected)
    val top = Relational.q101(tables).collect()
    assert(top.length <= 20)
    assert(top.map(_.getLong(1)).sameElements(
      top.map(_.getLong(1)).sortBy(-_)))
    top.foreach(r => assert(r.getString(0).split(">").length == 3))
  }

  test("q102 winsorized/trimmed means match a local brute force") {
    def qcont(s: Array[Double], p: Double): Double = {
      val rank = (s.length - 1) * p
      val lo = rank.toInt
      val hi = math.ceil(rank).toInt
      s(lo) + (s(hi) - s(lo)) * (rank - lo)
    }
    val got = Relational.q102(tables).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))
      .toMap
    tables.events.select("event_type", "value").collect()
      .filter(!_.isNullAt(1))
      .groupBy(_.getString(0)).foreach { case (k, rows) =>
        val vals = rows.map(_.getDouble(1)).sorted
        val lo = math.round(qcont(vals, 0.05) * 100)
        val hi = math.round(qcont(vals, 0.95) * 100)
        val cents = vals.map(v => math.round(v * 100))
        val win = cents.map(c => math.max(lo, math.min(hi, c)))
        val kept = cents.filter(c => c >= lo && c <= hi)
        val (n, wMean, tMean, nKept) = got(k)
        assert(n == cents.length && nKept == kept.length, k)
        assert(math.abs(wMean - win.sum.toDouble / (win.length * 100))
          < 1e-9, k)
        assert(math.abs(tMean - kept.sum.toDouble / (kept.length * 100))
          < 1e-9, k)
      }
  }

  test("q99 MAD matches a local brute force per event type") {
    val r = Relational.q99(tables).collect()
      .map(x => x.getString(0) -> (x.getDouble(1), x.getDouble(2))).toMap
    val vals = tables.events.select("event_type", "value").collect()
      .filter(!_.isNullAt(1))
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getDouble(1)))
    def medianOf(xs: Array[Double]): Double = {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }
    vals.foreach { case (k, xs) =>
      val med = medianOf(xs.toArray)
      val mad = medianOf(xs.map(x => math.abs(x - med)).toArray)
      val (gm, gd) = r(k)
      assert(math.abs(gm - med) < 1e-4 && math.abs(gd - mad) < 1e-4, k)
    }
  }

  test("q128 survival: counts conserve, cum monotone, last bucket drains") {
    val rows = Relational.q128(tables).collect()
    assert(rows.nonEmpty)
    val n = rows.map(_.getLong(1)).sum
    assert(rows.last.getLong(2) == n, "cum_converted must end at total")
    assert(rows.last.getLong(3) == 0L, "survival must drain to zero")
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(b.getLong(2) == a.getLong(2) + b.getLong(1))
        assert(b.getLong(3) <= a.getLong(3))
      case _ => ()
    }
  }

  test("runtime bloom filter injects on selective dim joins " +
    "(the 100TB fact-scan pruning lever)") {
    // Spark 4 injects a bloom might_contain on the fact side of a
    // shuffle join when the dim side is filtered and the fact scan is
    // big enough (default threshold 10 GiB — met trivially at real
    // scale; lowered here to observe the injection at test size)
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.get(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      assert(spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.enabled") == "true")
      val dim = tables.orders.filter(col("o_totalprice") > 500000)
      val j = tables.lineitem
        .join(dim, col("l_orderkey") === col("o_orderkey"))
      assert(j.queryExecution.optimizedPlan.toString
          .contains("might_contain"),
        "bloom runtime filter not injected on the fact side")
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("q133 basket lift matches a driver-side brute force") {
    import spark.implicits._
    // 6 baskets: parts 1 and 2 always co-occur (perfect lift n/c),
    // 3 is everywhere (lift 1 with everything), 4 appears once
    val baskets = Seq(
      (10L, 1L), (10L, 2L), (10L, 3L),
      (11L, 1L), (11L, 2L), (11L, 3L), (11L, 3L), // dup row: ignored
      (12L, 3L), (12L, 4L),
      (13L, 3L), (14L, 3L), (15L, 3L))
    val li = baskets.toDF("l_orderkey", "l_partkey")
    val got = Relational.basketLift(li, minSupport = 1, topK = 100)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(got((1L, 2L)) == ((2L, 3.0)))    // n=6 baskets: 2*6/(2*2)
    assert(got((1L, 3L)) == ((2L, 1.0)))    // 2*6/(2*6)
    assert(got((2L, 3L)) == ((2L, 1.0)))
    assert(got((3L, 4L)) == ((1L, 1.0)))    // 1*6/(6*1)
    assert(!got.contains((1L, 4L)))         // never co-occur
    assert(got.keys.forall { case (i, j) => i < j })
  }

  test("q133 on real data: support bounds and lift positivity") {
    val rows = Relational.q133(tables).collect()
    assert(rows.nonEmpty && rows.length <= 30)
    rows.foreach { r =>
      assert(r.getLong(2) >= 2L)
      assert(r.getDouble(3) > 0.0)
      assert(r.getLong(0) < r.getLong(1))
    }
  }

  test("scd1Merge: LWW pick, keyed replace, insert, and idempotent " +
    "replay") {
    import spark.implicits._
    val snap = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .toDF("k", "status", "v")
    // key 2: two delta versions (LWW must pick ver 7); key 9: insert;
    // keys 1 and 3 untouched
    val delta = Seq((2L, "b2", 21L, 5L), (2L, "b3", 22L, 7L),
      (9L, "new", 90L, 1L)).toDF("k", "status", "v", "ver")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSet
    val merged = Relational.scd1Merge(snap, delta, Seq("k"), "ver")
    assert(canon(merged) == Set("[1,a,10]", "[3,c,30]", "[2,b3,22]",
      "[9,new,90]"))
    // replaying the same delta over the merged table changes nothing
    val replayed = Relational.scd1Merge(merged, delta, Seq("k"), "ver")
    assert(canon(replayed) == canon(merged))
    // a second delta beats the first on the same key
    val d2 = Seq((2L, "b4", 23L, 9L)).toDF("k", "status", "v", "ver")
    assert(canon(Relational.scd1Merge(merged, d2, Seq("k"), "ver"))
      .contains("[2,b4,23]"))
  }

  test("snapshotDiff classifies insert/delete/update and drops " +
    "unchanged keys, null-safely") {
    import spark.implicits._
    // key 1 unchanged, key 2 value change, key 3 deleted, key 4 new,
    // key 5 null -> value (update), key 6 null on both sides (unchanged)
    val oldDf = Seq((1L, Option(10L)), (2L, Option(20L)),
      (3L, Option(30L)), (5L, Option.empty[Long]),
      (6L, Option.empty[Long])).toDF("k", "v")
    val newDf = Seq((1L, Option(10L)), (2L, Option(21L)),
      (4L, Option(40L)), (5L, Option(50L)),
      (6L, Option.empty[Long])).toDF("k", "v")
    val got = Relational.snapshotDiff(oldDf, newDf, Seq("k"))
      .select(col("k"), col("change")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(2L -> "update", 3L -> "delete", 4L -> "insert",
      5L -> "update"))
    // diff against an identical snapshot is empty
    assert(Relational.snapshotDiff(oldDf, oldDf, Seq("k")).isEmpty)
  }

  test("q143 change classes partition as the modular rules dictate") {
    val byClass = Relational.q143(tables).collect()
      .groupBy(_.getString(1)).view.mapValues(_.length).toMap
    val keys = tables.customer.select("c_custkey").collect()
      .map(_.getLong(0))
    // deletes: %23 keys (minus any that are also %31-inserted? no —
    // inserts use offset keys, disjoint). updates: %7 and not %23.
    assert(byClass.getOrElse("delete", 0) == keys.count(_ % 23 == 0))
    assert(byClass.getOrElse("insert", 0) == keys.count(_ % 31 == 0))
    assert(byClass.getOrElse("update", 0) ==
      keys.count(k => k % 7 == 0 && k % 23 != 0))
  }

  test("q144 PSI: identical distribution scores ~0, disjoint scores " +
    "large") {
    import spark.implicits._
    // same: both sources uniform over bins 0..4 -> psi ~ 0
    val same = (0 until 100).map(i =>
      (i.toLong, "src0", (i % 5) * 100L)) ++
      (0 until 100).map(i => (i.toLong, "srcA", (i % 5) * 100L))
    val psiSame = Relational
      .psiDrift(same.toDF("doc_id", "source", "n_chars"))
      .collect()(0).getDouble(2)
    assert(math.abs(psiSame) < 0.01, s"psi=$psiSame")
    // disjoint: src0 in bins 0-4, srcB in bins 5-9 -> psi large
    val disj = (0 until 100).map(i =>
      (i.toLong, "src0", (i % 5) * 100L)) ++
      (0 until 100).map(i =>
        (i.toLong, "srcB", 500L + (i % 5) * 100L))
    val psiDisj = Relational
      .psiDrift(disj.toDF("doc_id", "source", "n_chars"))
      .collect()(0).getDouble(2)
    assert(psiDisj > 1.0, s"psi=$psiDisj")
  }

  test("psiDrift fails loudly when the reference stratum is empty") {
    import spark.implicits._
    val docs = (0 until 20).map(i => (i.toLong, "srcA", 100L))
      .toDF("doc_id", "source", "n_chars")
    val e = intercept[Exception] {
      Relational.psiDrift(docs, refSource = "nope").collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("no rows")),
      s"expected a loud empty-reference error, got: $e")
  }

  test("q147 PIT-SCD2 lookup: left semantics, no fan-out, null only " +
    "before the first status, matched status is a real past run") {
    val r = Relational.q147(tables)
    val purchases = tables.events
      .filter(col("event_type") === "purchase")
    assert(r.count() == purchases.count(), "left semantics lost rows")
    assert(r.select("p_event").distinct().count() == r.count(),
      "interval overlap fanned a fact row out")
    // null version <=> the user had no non-purchase event at-or-before
    val firstStatus = tables.events
      .filter(col("event_type") =!= "purchase")
      .groupBy("user_id").agg(min("ts").as("first_ts"))
    val nulls = r.filter(col("version").isNull)
      .join(purchases.select(col("event_id").as("p_event"),
        col("ts").as("p_ts")), "p_event")
      .join(firstStatus, Seq("user_id"), "left")
    assert(nulls.filter(col("first_ts") <= col("p_ts")).count() == 0,
      "null version despite an available status interval")
    assert(r.filter(col("status") === "purchase").count() == 0,
      "purchase runs leaked into the dimension")
  }

  test("q145 trigram support bounded by bigram support and by users") {
    val rows = Relational.q145(tables, minSupport = 1, topK = 1000)
      .collect()
    assert(rows.nonEmpty)
    val nUsers = tables.events.select("user_id").distinct().count()
    rows.foreach { r =>
      assert(r.getLong(3) >= 1 && r.getLong(3) <= nUsers)
      assert(r.getLong(4) >= r.getLong(3),
        "occurrences can't be below distinct-user support")
    }
  }

  test("q173 cusumChangepoint: a planted level shift is detected at " +
    "its boundary day with the exact integer statistic; a flat series " +
    "scores 0 at the earliest day") {
    import spark.implicits._
    // 5 events/day for days 1-10, then 15/day for 11-20: the n-scaled
    // CUSUM |T_d| peaks at d=10 with |20·50 − 10·200| = 1000
    val shifted = for {
      d <- 1 to 20
      _ <- 1 to (if (d <= 10) 5 else 15)
    } yield ("a", java.sql.Timestamp.valueOf(f"2024-01-$d%02d 12:00:00"))
    val flat = for {
      d <- 1 to 10
      _ <- 1 to 3
    } yield ("b", java.sql.Timestamp.valueOf(f"2024-02-$d%02d 12:00:00"))
    val r = Relational
      .cusumChangepoint((shifted ++ flat).toDF("event_type", "ts"))
      .collect().map(x => x.getString(0) -> x).toMap
    val a = r("a")
    assert(a.getAs[java.sql.Date]("cp_day").toString == "2024-01-10")
    assert(a.getAs[Long]("cusum_abs") == 1000L)
    assert(a.getAs[Long]("n_days") == 20L)
    assert(a.getAs[Long]("total_events") == 200L)
    // constant series: T_d = 0 everywhere → tie broken to the
    // earliest day, statistic exactly 0
    val b = r("b")
    assert(b.getAs[Long]("cusum_abs") == 0L)
    assert(b.getAs[java.sql.Date]("cp_day").toString == "2024-02-01")
  }

  test("q176 mannKendall: strictly rising, strictly falling, and flat " +
    "series give tau exactly +1, -1, and 0") {
    import spark.implicits._
    def series(tag: String, month: Int, counts: Seq[Int]) =
      counts.zipWithIndex.flatMap { case (c, i) =>
        Seq.fill(c)((tag, java.sql.Timestamp.valueOf(
          f"2024-$month%02d-${i + 1}%02d 12:00:00")))
      }
    val df = (series("up", 4, Seq(1, 2, 3, 4, 5)) ++
      series("down", 5, Seq(5, 4, 3, 2, 1)) ++
      series("flat", 6, Seq(3, 3, 3, 3))).toDF("event_type", "ts")
    val r = Relational.mannKendall(df).collect()
      .map(x => x.getString(0) -> x).toMap
    assert(r("up").getAs[Double]("tau") == 1.0)
    assert(r("up").getAs[Long]("s_stat") == 10L)   // C(5,2)
    assert(r("down").getAs[Double]("tau") == -1.0)
    assert(r("flat").getAs[Double]("tau") == 0.0)
    assert(r("flat").getAs[Long]("s_stat") == 0L)
    assert(r("flat").getAs[Long]("n_pairs") == 6L) // C(4,2)
  }

  test("q174 theilSen: an exact linear trend with one massive outlier " +
    "day still yields the exact slope (robustness OLS lacks)") {
    import spark.implicits._
    // c = 2d + 10 for d = 1..15, except day 8 explodes to 500 events:
    // only 14 of the 105 pairwise slopes touch the outlier, so the
    // median slope is EXACTLY 2.0 and the median level the 8th order
    // statistic (28)
    val rows = for {
      d <- 1 to 15
      _ <- 1 to (if (d == 8) 500 else 2 * d + 10)
    } yield ("a", java.sql.Timestamp.valueOf(f"2024-03-$d%02d 12:00:00"))
    val r = Relational.theilSen(rows.toDF("event_type", "ts")).head()
    assert(r.getAs[Long]("n_days") == 15L)
    assert(r.getAs[Double]("slope_med") == 2.0,
      s"slope ${r.getAs[Double]("slope_med")}")
    assert(r.getAs[Double]("level_med") == 28.0,
      s"level ${r.getAs[Double]("level_med")}")
  }

  test("markovAttribution: crafted chain — converting channel earns " +
    "the whole effect, dead-end channel earns zero") {
    import spark.implicits._
    def ts(s: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$s%02d")
    // u1: view -> purchase; u2: click -> (no conversion); u3: direct
    // purchase. Hand-computed scaled-integer absorption:
    //   p6(START->*) = 333333 each; view->CONV and click->NULL certain
    //   p_full = 666666; removing view -> 333333 (effect 333333);
    //   removing click -> 666666 (effect 0: click never converts)
    val events = Seq(
      (1L, ts(1), 10L, "view"), (1L, ts(2), 11L, "purchase"),
      (2L, ts(1), 20L, "click"),
      (3L, ts(1), 30L, "purchase"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val got = Relational.markovAttribution(events).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got.keySet == Set("click", "view"))
    val v = got("view")
    assert(v.getLong(1) == 1L && v.getLong(2) == 666666L
      && v.getLong(3) == 333333L && v.getLong(4) == 333333L)
    assert(v.getDouble(5) == 1.0)
    val c = got("click")
    assert(c.getLong(1) == 1L && c.getLong(4) == 0L
      && c.getDouble(5) == 0.0)
    // fixture-wide: effects nonnegative (removal can only hurt),
    // shares sum to ~1, every channel row present
    val fx = Relational.q232(tables).collect()
    assert(fx.map(_.getString(0)).sorted.toSeq ==
      Seq("click", "error", "signup", "view"))
    fx.foreach { r =>
      assert(r.getLong(4) >= 0L)
      assert(r.getLong(3) <= r.getLong(2))
    }
    val shareSum = fx.map(_.getDouble(5)).sum
    assert(math.abs(shareSum - 1.0) < 1e-4, s"share sum $shareSum")
  }
}
