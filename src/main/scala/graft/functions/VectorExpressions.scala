package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression for the similarity hot path (SURVEY
  * §7.3's "Expression for fused vector ops"): a dot product over
  * ARRAY<DOUBLE> with whole-stage codegen.
  *
  * Why not `zip_with` + `aggregate`? Those build an intermediate
  * products array per row and run two higher-order loops through
  * lambda-bound variables; this expression is one fused primitive loop
  * with no allocation, and `doGenCode` keeps it inside the
  * WholeStageCodegen span. Evaluation order is index-ascending —
  * bit-identical to the `zip_with`/`aggregate` formulation, so the
  * DuckDB oracle comparison is unaffected.
  *
  * Null semantics: null array → null result (nullSafeEval); array
  * ELEMENTS are assumed non-null (enforced upstream by the
  * `CAST(... AS ARRAY<DOUBLE>)` over non-null embeddings).
  */
case class VectorDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<DOUBLE> inputs, " +
        s"got ${left.dataType.simpleString} / ${right.dataType.simpleString}")
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "vec_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VectorDot =
    copy(left = newLeft, right = newRight)
}

/** Column-API surface for the native vector expressions. */
object VectorFunctions {
  def vec_dot(a: Column, b: Column): Column =
    GraftBridge.column(
      VectorDot(GraftBridge.expression(a), GraftBridge.expression(b)))
}
