package graft.plans

import graft.functions.VectorDot
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending, Expression, ExpressionInfo, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Engine extension point (SparkSessionExtensions): registers the
  * native vector functions for SQL users
  * (`SELECT vec_dot(a, b) ...`) and the [[TopKPerKeyNode]] bounded-heap
  * operator as a table-valued function
  * (`FROM graft_topk('t', 'key', 'col DESC, tie', 5)`). Installed on
  * every session by [[graft.Sessions.builder]] (or, outside graft's
  * entry points, `spark.sql.extensions=graft.plans.GraftExtensions`).
  *
  * Custom optimizer rules: none. Every shape maps to built-in
  * operators whose optimizer rules (pushdown, pruning, join selection,
  * AQE) already produce the plans we want (SURVEY §4.2/§7.3) —
  * plan-shape evidence in BASELINE.md. Interval joins are bucketed by
  * hand where they are large ([[graft.operators.RangeJoin]]); the one
  * declared query a theta-join rewrite fired on (q233, a 5-row
  * broadcast) ran no faster with it (plans/r17/interval_join_rule_ab.md).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    GraftExtensions.tableFunctions.foreach(ext.injectTableFunction)
    ext.injectPlannerStrategy(_ => TopKPerKeyStrategy)
  }
}

object GraftExtensions {

  val functions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VectorDot].getName, "vec_dot"),
      (args: Seq[Expression]) => VectorDot(args(0), args(1))),
    (FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(
        classOf[graft.functions.NfcNormalize].getName, "nfc_normalize"),
      (args: Seq[Expression]) =>
        graft.functions.NfcNormalize(args(0))),
    (FunctionIdentifier("deflate_len"),
      new ExpressionInfo(
        classOf[graft.functions.DeflateLen].getName, "deflate_len"),
      (args: Seq[Expression]) =>
        graft.functions.DeflateLen(args(0))),
    (FunctionIdentifier("interleave_bits16"),
      new ExpressionInfo(
        classOf[graft.functions.InterleaveBits].getName,
        "interleave_bits16"),
      (args: Seq[Expression]) =>
        graft.functions.InterleaveBits(args(0), args(1), 16)),
    (FunctionIdentifier("interleave_bits"),
      new ExpressionInfo(
        classOf[graft.functions.InterleaveBits].getName,
        "interleave_bits"),
      (args: Seq[Expression]) =>
        graft.functions.InterleaveBits(args(0), args(1),
          args(2).eval().asInstanceOf[Number].intValue())),
    // The corpus-hygiene suite as SQL scalar functions: each builder
    // re-expresses the library's Column composition as the expression
    // tree — SQL users get the exact operator the DataFrame API runs
    // (one definition, two surfaces; the builders delegate, never
    // duplicate the logic).
    composed("html_strip", c => graft.operators.Scrub.htmlStrip(c)),
    composed("pii_redact", c => {
      import org.apache.spark.sql.functions.regexp_replace
      import org.apache.spark.sql.functions.lit
      graft.operators.Scrub.DefaultClasses.foldLeft(c) {
        case (acc, (_, re, token)) => regexp_replace(acc, re, token)
      }
    }),
    composed("canonical_url", c => graft.operators.Scrub.canonicalUrl(c)),
    composed("normalize_text", c => graft.operators.Scrub.normalizeText(c)),
    // The sketch suite in SQL: the udaf/udf Column surfaces re-wrapped
    // as expression trees, so `SELECT kll_agg(value) ... GROUP BY` and
    // sketch-table reads work from pure SQL (defaults: k=200,
    // nomEntries=4096 — the library defaults).
    composed("kll_agg",
      c => graft.functions.QuantileSketch.kll_agg(c)),
    composed("kll_merge_agg",
      c => graft.functions.QuantileSketch.kll_merge_agg(c)),
    composed2("kll_quantiles",
      (a, b) => graft.functions.QuantileSketch.kllQuantilesUdf(a, b)),
    composed("kll_n",
      c => graft.functions.QuantileSketch.kllNUdf(c)),
    composed("theta_agg",
      c => graft.functions.ThetaSketch.theta_agg(c)),
    composed("theta_estimate",
      c => graft.functions.ThetaSketch.estimateUdf(c)),
    composed2("theta_intersect_est",
      (a, b) => graft.functions.ThetaSketch.intersectUdf(a, b)),
    composed2("theta_anotb_est",
      (a, b) => graft.functions.ThetaSketch.aNotBUdf(a, b)))

  /** A 1-arg SQL function built from a Column-composition — the
    * registration shape for operators that are expression TREES
    * rather than single custom expressions. */
  private def composed(
      name: String,
      f: org.apache.spark.sql.Column => org.apache.spark.sql.Column):
      (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name),
      new ExpressionInfo(getClass.getName, name),
      (args: Seq[Expression]) => {
        require(args.length == 1, s"$name expects 1 argument")
        org.apache.spark.sql.GraftBridge.expressionTree(
          f(org.apache.spark.sql.GraftBridge.column(args.head)))
      })

  /** 2-arg counterpart of [[composed]]. */
  private def composed2(
      name: String,
      f: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) =>
        org.apache.spark.sql.Column):
      (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name),
      new ExpressionInfo(getClass.getName, name),
      (args: Seq[Expression]) => {
        require(args.length == 2, s"$name expects 2 arguments")
        org.apache.spark.sql.GraftBridge.expressionTree(
          f(org.apache.spark.sql.GraftBridge.column(args(0)),
            org.apache.spark.sql.GraftBridge.column(args(1))))
      })

  /** `graft_topk(table, keys, orderSpec, k)` — FROM-clause surface for
    * the bounded-heap top-k node. All four arguments are literals
    * (`keys` and `orderSpec` comma-separated, `DESC` per item opt-in);
    * the builder emits [[TopKPerKeyNode]] over an UnresolvedRelation
    * and lets the analyzer resolve the view/table and the columns —
    * same resolution path every built-in TVF uses. */
  val tableFunctions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => LogicalPlan)] = Seq(
    (FunctionIdentifier("graft_topk"),
      new ExpressionInfo(classOf[TopKPerKeyNode].getName, "graft_topk"),
      (args: Seq[Expression]) => topKFromSql(args)))

  private def topKFromSql(args: Seq[Expression]): LogicalPlan = {
    require(args.length == 4,
      "graft_topk expects (table, keys, orderSpec, k)")
    def str(e: Expression): String = String.valueOf(e.eval())
    val keys = str(args(1)).split(",").map(_.trim).filter(_.nonEmpty)
      .map(n => UnresolvedAttribute(n): UnresolvedAttribute).toSeq
    val order = str(args(2)).split(",").map(_.trim).filter(_.nonEmpty)
      .map { item =>
        val parts = item.split("\\s+")
        val dir =
          if (parts.length > 1 && parts(1).equalsIgnoreCase("desc"))
            Descending
          else Ascending
        SortOrder(UnresolvedAttribute(parts(0)), dir)
      }.toSeq
    val k = args(3).eval().asInstanceOf[Number].intValue()
    TopKPerKeyNode(keys, order, k,
      UnresolvedRelation(Seq(str(args(0)))))
  }
}
