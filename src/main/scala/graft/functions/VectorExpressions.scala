package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

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

/** Native symmetric per-vector int8 scalar quantization (the SQ8
  * codes of [[graft.operators.Similarity.sq8Codes]]): one pass for
  * m = max(max|x_i|, 1e-12), one pass writing
  * `floor(x_i / (m / 127) + 0.5)` as a long.
  *
  * Why not `transform` + `array_max`? As a column formula the
  * per-vector scale sits inside the per-element lambda, so it is
  * re-derived for every element: O(d²) interpreted lambda steps per
  * vector instead of O(d). This is the formula's arithmetic step for
  * step — NaN ranks above every value (as in `array_max`/`greatest`),
  * null elements are skipped by the max and code to null, and
  * `(long) Math.floor` is Spark's `floor` on a double — so the codes
  * are bit-identical (VectorExprSpec pins both eval paths against the
  * formula).
  *
  * Null semantics: null array → null result (nullSafeEval).
  */
case class Sq8Codes(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an ARRAY<DOUBLE> input, got ${other.simpleString}")
  }

  override def dataType: DataType = child.dataType match {
    case ArrayType(_, containsNull) => ArrayType(LongType, containsNull)
    case _ => ArrayType(LongType)
  }

  override def prettyName: String = "sq8_codes"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var m = 1e-12
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i)) {
        val v = math.abs(x.getDouble(i))
        if (v > m || v != v) m = v
      }
      i += 1
    }
    val scale = m / 127.0
    val out = ArrayData.allocateArrayData(8, n, " sq8_codes")
    i = 0
    while (i < n) {
      if (x.isNullAt(i)) out.setNullAt(i)
      else out.setLong(i, math.floor(x.getDouble(i) / scale + 0.5).toLong)
      i += 1
    }
    out
  }

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val m = ctx.freshName("m")
      val v = ctx.freshName("v")
      val scale = ctx.freshName("scale")
      val out = ctx.freshName("out")
      val arrayData = classOf[ArrayData].getName
      s"""
         |int $n = $a.numElements();
         |double $m = 1e-12;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i)) {
         |    double $v = java.lang.Math.abs($a.getDouble($i));
         |    if ($v > $m || $v != $v) $m = $v;
         |  }
         |}
         |double $scale = $m / 127.0;
         |$arrayData $out = $arrayData.allocateArrayData(8, $n, " sq8_codes");
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i)) $out.setNullAt($i);
         |  else $out.setLong($i,
         |    (long) java.lang.Math.floor($a.getDouble($i) / $scale + 0.5));
         |}
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Sq8Codes =
    copy(child = newChild)
}

/** Column-API surface for the native vector expressions. */
object VectorFunctions {
  def vec_dot(a: Column, b: Column): Column =
    GraftBridge.column(
      VectorDot(GraftBridge.expression(a), GraftBridge.expression(b)))
}
