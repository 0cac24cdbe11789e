package graft

/** [[Trace]]: exact counts and reconciling layers on a fixed plan,
  * nothing heard after `of` returns, every execution's plan in order. */
class TraceSpec extends SparkSpec {

  private def noop(): Unit = spark.range(1000).repartition(4)
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
}
