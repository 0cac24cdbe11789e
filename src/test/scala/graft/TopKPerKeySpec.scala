package graft

import graft.plans.{TopKPerKey, TopKPerKeyExec}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Custom whole-operator plan node (logical + strategy + physical):
  * per-key bounded-heap top-k vs the window row_number reference. */
class TopKPerKeySpec extends SparkSpec {

  private lazy val events = tables.events

  private def windowTopK(k: Int) = {
    val w = Window.partitionBy("event_type")
      .orderBy(col("value").desc, col("event_id"))
    events.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k).drop("__rn")
  }

  test("topK equals window row_number filter (total order)") {
    val mine = TopKPerKey.topK(events, Seq("event_type"),
      Seq(col("value").desc, col("event_id")), 5)
    val ref = windowTopK(5)
    assert(mine.exceptAll(ref).count() == 0
      && ref.exceptAll(mine).count() == 0)
    assert(mine.columns.sameElements(events.columns))
  }

  test("k larger than every group returns the whole input") {
    val n = events.count()
    val all = TopKPerKey.topK(events, Seq("event_type"),
      Seq(col("value").desc, col("event_id")), n.toInt + 10)
    assert(all.count() == n)
  }

  test("plan: partial heap below the exchange, final above, no sort") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val mine = TopKPerKey.topK(events, Seq("event_type"),
        Seq(col("value").desc, col("event_id")), 3)
      mine.collect()
      val plan = mine.queryExecution.executedPlan
      val execs = plan.collect { case e: TopKPerKeyExec => e }
      assert(execs.map(_.partial).sorted == Seq(false, true),
        s"expected partial+final TopKPerKeyExec, got:\n$plan")
      // the exchange EnsureRequirements inserted sits between the two
      val finalExec = execs.find(!_.partial).get
      assert(finalExec.child.toString.contains("Exchange hashpartitioning"),
        s"no hash exchange under the final exec:\n${finalExec.child}")
      // and nothing sorts the fact table (the point of the operator —
      // the window form would plan a full SortExec per partition)
      assert(!plan.toString.contains("Sort "),
        s"unexpected sort in plan:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("SQL TVF graft_topk plans the same bounded-heap execs, no sort") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      events.createOrReplaceTempView("tvf_events")
      val df = spark.sql(
        """SELECT event_type, event_id FROM
          |graft_topk('tvf_events', 'event_type', 'value DESC, event_id', 4)
          |""".stripMargin)
      val viaApi = TopKPerKey.topK(events, Seq("event_type"),
        Seq(col("value").desc, col("event_id")), 4)
        .select("event_type", "event_id")
      assert(df.exceptAll(viaApi).count() == 0
        && viaApi.exceptAll(df).count() == 0)
      val execs = df.queryExecution.executedPlan
        .collect { case e: TopKPerKeyExec => e }
      assert(execs.map(_.partial).sorted == Seq(false, true))
      assert(!df.queryExecution.executedPlan.toString.contains("Sort "))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("multi-key grouping and duplicate values keep exactly k rows") {
    val df = spark.range(0, 1000).toDF("id")
      .withColumn("g1", col("id") % 4)
      .withColumn("g2", (col("id") / 4).cast("long") % 2)
      .withColumn("v", col("id") % 10)  // heavy ties
    val mine = TopKPerKey.topK(df, Seq("g1", "g2"),
      Seq(col("v").desc, col("id")), 7)
    val w = Window.partitionBy("g1", "g2").orderBy(col("v").desc, col("id"))
    val ref = df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= 7).drop("__rn")
    assert(mine.count() == 8 * 7)
    assert(mine.exceptAll(ref).count() == 0
      && ref.exceptAll(mine).count() == 0)
  }
}
