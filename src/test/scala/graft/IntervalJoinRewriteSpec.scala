package graft

import graft.plans.IntervalJoinRewrite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The interval-join rewrite must change the PLAN (equi-keyless theta
  * join → bucketed equi-join, no nested loop) without changing the
  * RESULT (the original predicate is kept as a filter). */
class IntervalJoinRewriteSpec extends SparkSpec {

  private def epochs(alias: String): DataFrame =
    tables.events.select(
      col("event_id").as(s"${alias}_id"),
      unix_micros(col("ts")).as(s"${alias}_t"))

  private val tol = 3600L * 1000000L // 1 hour in micros

  private def thetaJoin(): DataFrame =
    epochs("a").join(epochs("b"),
      abs(col("a_t") - col("b_t")) <= tol && col("a_id") =!= col("b_id"))

  /** The rule rides every graft session ([[Sessions]] installs
    * GraftExtensions); `excludedRules` is the switch that turns it off
    * for the nested-loop baseline. */
  private def withoutRule[T](f: => T): T = {
    val key = "spark.sql.optimizer.excludedRules"
    spark.conf.set(key, IntervalJoinRewrite.ruleName)
    try f finally spark.conf.unset(key)
  }

  test("the plain suite session carries GraftExtensions: SQL vec_dot " +
    "resolves and the theta join plans without a nested loop") {
    assert(spark.sql("SELECT vec_dot(array(1d, 2d), array(3d, 4d))")
      .head().getDouble(0) == 11.0)
    val plan = thetaJoin().queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("rewrites the theta join into an equi-join plan (no nested loop)") {
    val before = withoutRule {
      thetaJoin().queryExecution.executedPlan.toString
    }
    assert(before.contains("BroadcastNestedLoopJoin"), before)
    val after = thetaJoin().queryExecution.executedPlan.toString
    assert(!after.contains("BroadcastNestedLoopJoin"), after)
    assert(!after.contains("CartesianProduct"), after)
    assert(after.contains("SortMergeJoin")
      || after.contains("ShuffledHashJoin")
      || after.contains("BroadcastHashJoin"), after)
  }

  test("rewritten join is bit-identical to the nested-loop result") {
    val naive = withoutRule { thetaJoin().collect() }
      .map(_.toString).sorted.toSeq
    val rewritten = thetaJoin().collect().map(_.toString).sorted.toSeq
    assert(rewritten == naive)
  }

  test("agrees with the hand-bucketed RangeJoin operator") {
    val viaRule = thetaJoin().groupBy(col("a_id").as("l_id"))
      .agg(count(lit(1)).as("nearby")).collect()
      .map(_.toString).sorted.toSeq
    val viaOperator = graft.operators.RangeJoin.withinToleranceCount(
      tables.events, tables.events, "ts", "event_id", 3600L)
      .collect().map(_.toString).sorted.toSeq
    assert(viaRule == viaOperator)
  }

  test("joins that already have an equi key are left untouched") {
    val plan = epochs("a").join(epochs("b"),
      col("a_id") === col("b_id") && abs(col("a_t") - col("b_t")) <= tol)
      .queryExecution.optimizedPlan.toString
    // no bucket machinery injected: the equi key already plans fine
    assert(!plan.contains("__ij_bucket"), plan)
    assert(!plan.contains("explode"), plan)
  }
}
