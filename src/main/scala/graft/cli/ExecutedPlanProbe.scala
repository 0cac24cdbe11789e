package graft.cli

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Diagnostic: prints, for the named declared queries, the formatted
  * pre-execution plan and then the EXECUTED physical plan (the final
  * adaptive plan, after AQE re-optimization and exchange reuse) — the
  * evidence instrument for shared-subtree claims. In the pre-execution
  * plan every reference to a shared frame shows as its own
  * scan+exchange subtree; whether those subtrees are COMPUTED once or
  * N times is decided at runtime by exchange reuse, which only the
  * executed plan shows (`ReusedExchange` / `TableCacheQueryStage`
  * nodes replacing the duplicate subtrees). Usage:
  * `runMain graft.cli.ExecutedPlanProbe <queryName>...` */
object ExecutedPlanProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.Sessions.local("graft-executed-plan-probe")
    val captured = new AtomicReference[String]("")
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(
          funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        captured.set(qe.executedPlan.toString)
      override def onFailure(
          funcName: String, qe: QueryExecution, ex: Exception): Unit = ()
    })
    args.foreach { n =>
      captured.set("")
      val df = graft.SparkEntry.queries(n)(spark, sfDir)
      println(s"===== $n (pre-execution, formatted) =====")
      df.explain("formatted")
      df.write.format("noop").mode("overwrite").save()
      // the listener bus is asynchronous; poll briefly for the capture
      var waited = 0
      while (captured.get.isEmpty && waited < 10000) {
        Thread.sleep(100); waited += 100
      }
      println(s"===== $n (executed, final adaptive plan) =====")
      println(captured.get)
    }
    spark.stop()
  }
}
