package graft

import org.apache.spark.sql.functions.broadcast

/** [[Trace]]: exact counts and reconciling layers on a fixed plan,
  * nothing heard after `of` returns, every execution's plan in order,
  * and `stage` labels that ride every job of their block and roll up
  * by name. */
class TraceSpec extends SparkSpec {

  private def noop(): Unit = spark.range(1000).repartition(4)
    .write.format("noop").mode("overwrite").save()

  private def broadcastJoin(): Unit =
    spark.range(1000).join(broadcast(spark.range(10)), "id")
      .write.format("noop").mode("overwrite").save()

  test("a fixed plan traces to exact jobs, stages and shuffle records, " +
    "plan + job union + driver gap = wall with each term >= 0, and a " +
    "job run after Trace.of returns is not recorded") {
    val t = Trace.of(spark)(noop())
    val later = Trace.of(spark)(spark.range(10).collect()).jobs
    val l = t.layers
    assert((l.jobs, l.stages, l.shuffleRecords) == ((2, 3, 1000L)), t.report)
    assert(l.planS >= 0 && l.unionS > 0 && l.driverGapS >= 0, l)
    assert(math.abs(l.planS + l.unionS + l.driverGapS - l.wallS) < 1e-3, l)
    assert(later.nonEmpty && t.jobs.map(_.id).max < later.map(_.id).min)
  }

  test("a body with two SQL executions returns both plans in order, " +
    "each with its planning phases") {
    val t = Trace.of(spark) {
      spark.range(0, 11).collect()
      spark.range(0, 22).collect().length
    }
    assert(t.result == 22 && t.plans.size == 2, t.report)
    assert(t.plans(0).plan.toString.contains("Range (0, 11"), t.report)
    assert(t.plans(1).plan.toString.contains("Range (0, 22"), t.report)
    t.plans.foreach(x => assert(x.phases.map(_._1) ==
      Seq("analysis", "optimization", "planning"), x.phases))
  }

  test("jobs inside Trace.stage carry its label, also on Overlap threads " +
    "with their own labels and on Spark's broadcast thread; a job after " +
    "the block carries none") {
    val plain = Trace.of(spark)(broadcastJoin())
    val t = Trace.of(spark) {
      Trace.stage(spark, "a") {
        Overlap.all(
          () => Trace.stage(spark, "b")(noop()),
          () => Trace.stage(spark, "c")(noop()))
        broadcastJoin()
      }
      spark.range(10).collect()
    }
    assert(plain.jobs.size >= 2 && plain.plans.exists(
      _.plan.toString.contains("BroadcastExchange")), plain.report)
    val byLabel = t.jobs.groupBy(_.label).map { case (l, js) => l -> js.size }
    assert(byLabel == Map(Some("a") -> plain.jobs.size, Some("b") -> 2,
      Some("c") -> 2, None -> 1), t.report)
    assert(t.jobs.last.label.isEmpty && t.report.contains("[b] "), t.report)
    assert(t.byStage.map(_.name).toSet == Set("a", "b", "c") &&
      t.byStage.last.name == "a", t.byStage)
    val b = t.byStage.find(_.name == "b").get
    assert((b.jobs, b.stages, b.shuffleRecords) == ((2, 3, 1000L)), b)
    assert(t.byStage.forall(s => s.wallS > 0 && s.wallS <= t.byStage.last.wallS))
    assert(spark.sparkContext.getLocalProperty(Trace.StageKey) == null)
  }

  test("two blocks with the same name sum into one roll-up entry, in " +
    "first-appearance order, and the layers carry it") {
    val t = Trace.of(spark) {
      Trace.stage(spark, "x")(noop())
      Trace.stage(spark, "y")(noop())
      Trace.stage(spark, "x")(noop())
    }
    assert(t.byStage.map(_.name) == Seq("x", "y"), t.byStage)
    val x = t.byStage.head
    assert((x.jobs, x.stages, x.shuffleRecords) == ((4, 6, 2000L)), x)
    val xBlocks = t.blocks.collect { case ("x", s, e) => (e - s) / 1e3 }
    assert(xBlocks.size == 2 && math.abs(x.wallS - xBlocks.sum) < 1e-9)
    assert(x.wallS + t.byStage(1).wallS <= t.wallS)
    assert(t.layers.byStage == t.byStage &&
      t.layers.json.contains(""","by_stage":{"x":{"wall_s":"""), t.layers.json)
  }

  test("a broadcast join's jobs, its broadcast job on Spark's pool " +
    "included, are named by the query's call site, none after the pool") {
    val t = Trace.of(spark)(broadcastJoin())
    assert(t.jobs.size >= 2 && t.jobs.forall(_.inQuery), t.report)
    assert(!t.jobs.exists(_.name.contains("CompletableFuture")), t.report)
    assert(t.jobs.map(_.name).distinct == Seq(t.jobs.head.name) &&
      t.jobs.head.name.startsWith("save at TraceSpec.scala:"), t.report)
  }

  test("10,000 stage calls with no trace running leave nothing behind") {
    (1 to 10000).foreach(i => Trace.stage(spark, s"s$i")(()))
    assert(Trace.active.isEmpty)
    val t = Trace.of(spark)(())
    assert(t.blocks.isEmpty && t.byStage.isEmpty, t.blocks)
    assert(!t.layers.json.contains("by_stage"), t.layers.json)
    assert(Trace.active.isEmpty)
  }
}
