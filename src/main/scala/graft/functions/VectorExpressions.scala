package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, DoubleType, IntegerType, LongType, StructType}

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
  * Either side may also be ARRAY<TINYINT> (the stored SQ8 codes), read
  * in place with `getByte`: int8 → double is exact, so the sum is
  * bit-identical to the `CAST(... AS ARRAY<DOUBLE>)` path without
  * building the cast array per row.
  *
  * Null semantics: null array → null result (nullSafeEval); array
  * ELEMENTS are assumed non-null (enforced upstream by the
  * `CAST(... AS ARRAY<DOUBLE>)` over non-null embeddings).
  */
case class VectorDot(left: Expression, right: Expression)
    extends BinaryExpression {

  private def isByte(e: Expression): Boolean = e.dataType match {
    case ArrayType(ByteType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(DoubleType | ByteType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<DOUBLE> or ARRAY<TINYINT> inputs, " +
        s"got ${left.dataType.simpleString} / ${right.dataType.simpleString}")
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "vec_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val xb = isByte(left)
    val yb = isByte(right)
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      val xi = if (xb) x.getByte(i).toDouble else x.getDouble(i)
      val yi = if (yb) y.getByte(i).toDouble else y.getDouble(i)
      s += xi * yi
      i += 1
    }
    s
  }

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      def get(arr: String, e: Expression) =
        if (isByte(e)) s"(double) $arr.getByte($i)" else s"$arr.getDouble($i)"
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += ${get(a, left)} * ${get(b, right)};
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VectorDot =
    copy(left = newLeft, right = newRight)
}

/** Native IVF nearest-cell kernel: for one ARRAY<DOUBLE> vector and a
  * foldable literal of the coarse quantizer's rows
  * ARRAY<STRUCT<cell INT, cv ARRAY<DOUBLE>, c2 DOUBLE>> (c2 = ||cv||²),
  * the best `n` cells (clamped to the row count) as ARRAY<INT>, best
  * first:
  *  - assign (`probe = false`): Euclidean argmin in its ||v||²-free
  *    form, `c2 − 2.0·vec_dot(v, cv)` ascending;
  *  - probe (`probe = true`): `vec_dot(v, cv)` descending;
  * ties to the lower cell, under Spark's double ordering (NaN above
  * every value, −0.0 = 0.0) — exactly the order of a `row_number`
  * window over the vector × centroid cross product, with the same
  * index-ascending [[VectorDot]] sums. A null vector scores every cell
  * null, a tie, so it gets the lowest cells (as the window orders it).
  *
  * Why not the window? It exchanges every vector by id hash and sorts
  * the nlist rows of each vector's cross product, in a job of its own,
  * to pick from a kilobyte set; this is one O(nlist·d) pass in the
  * scan's own stage. `doGenCode` inlines the dot loops over the
  * literal's arrays; both paths share [[IvfNearest.best]] for the
  * ordering. */
case class IvfNearest(
    vec: Expression, cells: Expression, n: Int, probe: Boolean)
    extends BinaryExpression {

  override def left: Expression = vec
  override def right: Expression = cells

  override def checkInputDataTypes(): TypeCheckResult = {
    val rowType = cells.dataType match {
      case ArrayType(st: StructType, _) => st.fields.map(_.dataType) match {
        case Array(IntegerType, ArrayType(DoubleType, _), DoubleType) => true
        case _ => false
      }
      case _ => false
    }
    vec.dataType match {
      case ArrayType(DoubleType, _) if rowType && cells.foldable && n >= 0 =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires an ARRAY<DOUBLE> vector, a foldable " +
          "ARRAY<STRUCT<INT, ARRAY<DOUBLE>, DOUBLE>> cell literal and " +
          s"n >= 0, got ${vec.dataType.simpleString} / " +
          s"${cells.dataType.simpleString} / $n")
    }
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def nullable: Boolean = false

  override def prettyName: String = "ivf_nearest"

  /** Plans name the cell count, not the kilobyte literal. */
  override def toString: String =
    if (!checkInputDataTypes().isSuccess) super.toString
    else s"$prettyName($vec, ${ids.length} cells, $n" +
      (if (probe) ", probe)" else ")")

  /** The literal's rows in ascending cell order: a later cell enters
    * the ranking only when strictly better, so ties keep the lower
    * cell. */
  @transient private lazy val rows = {
    val a = cells.eval().asInstanceOf[ArrayData]
    (0 until a.numElements()).map { i =>
      val r = a.getStruct(i, 3)
      (r.getInt(0), r.getArray(1).toDoubleArray(), r.getDouble(2))
    }.sortBy(_._1)
  }
  @transient private lazy val ids = rows.map(_._1).toArray
  @transient private lazy val cvs = rows.map(_._2).toArray
  @transient private lazy val c2s = rows.map(_._3).toArray

  override def eval(input: InternalRow): Any = {
    val v = vec.eval(input).asInstanceOf[ArrayData]
    if (v == null) IvfNearest.best(null, ids, n, probe)
    else {
      val keys = new Array[Double](ids.length)
      val len = v.numElements()
      var c = 0
      while (c < ids.length) {
        val cv = cvs(c)
        val m = math.min(len, cv.length)
        var s = 0.0
        var i = 0
        while (i < m) { s += v.getDouble(i) * cv(i); i += 1 }
        keys(c) = if (probe) s else c2s(c) - 2.0 * s
        c += 1
      }
      IvfNearest.best(keys, ids, n, probe)
    }
  }

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val v = vec.genCode(ctx)
    val idsRef = ctx.addReferenceObj("ids", ids, "int[]")
    val cvsRef = ctx.addReferenceObj("cvs", cvs, "double[][]")
    val c2sRef = ctx.addReferenceObj("c2s", c2s, "double[]")
    val keys = ctx.addMutableState("double[]", "keys",
      k => s"$k = new double[${ids.length}];")
    val c = ctx.freshName("c")
    val i = ctx.freshName("i")
    val m = ctx.freshName("m")
    val s = ctx.freshName("s")
    val cv = ctx.freshName("cv")
    val len = ctx.freshName("len")
    val key = if (probe) s else s"$c2sRef[$c] - 2.0 * $s"
    val best = s"${classOf[IvfNearest].getName}$$.MODULE$$.best"
    val arrayData = classOf[ArrayData].getName
    ev.copy(code = code"""
      |${v.code}
      |$arrayData ${ev.value};
      |if (${v.isNull}) {
      |  ${ev.value} = $best(null, $idsRef, $n, $probe);
      |} else {
      |  int $len = ${v.value}.numElements();
      |  for (int $c = 0; $c < $keys.length; $c++) {
      |    double[] $cv = $cvsRef[$c];
      |    int $m = java.lang.Math.min($len, $cv.length);
      |    double $s = 0.0;
      |    for (int $i = 0; $i < $m; $i++) {
      |      $s += ${v.value}.getDouble($i) * $cv[$i];
      |    }
      |    $keys[$c] = $key;
      |  }
      |  ${ev.value} = $best($keys, $idsRef, $n, $probe);
      |}
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IvfNearest =
    copy(vec = newLeft, cells = newRight)
}

object IvfNearest {

  /** The best `n` of the cell `ids` (ascending) by `keys`, best first:
    * a bounded insertion that lets a later cell pass an earlier one
    * only when strictly better under Spark's double ordering,
    * descending for `probe`. Null keys (a null vector) tie everywhere:
    * the lowest cells, in order. */
  def best(
      keys: Array[Double], ids: Array[Int], n: Int,
      probe: Boolean): ArrayData = {
    val k = math.min(n, ids.length)
    val top = new Array[Int](k)
    var size = 0
    var c = 0
    while (c < ids.length) {
      var p = size
      while (p > 0 && keys != null && {
        val cmp = SQLOrderingUtil.compareDoubles(keys(c), keys(top(p - 1)))
        if (probe) cmp > 0 else cmp < 0
      }) p -= 1
      if (p < k) {
        System.arraycopy(top, p, top, p + 1, math.min(size, k - 1) - p)
        top(p) = c
        if (size < k) size += 1
      }
      c += 1
    }
    UnsafeArrayData.fromPrimitiveArray(top.map(ids(_)))
  }
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

  /** [[IvfNearest]]: the best `n` of the `cells` literal for `v`. */
  def ivf_nearest(v: Column, cells: Column, n: Int,
      probe: Boolean): Column =
    GraftBridge.column(IvfNearest(GraftBridge.expression(v),
      GraftBridge.expression(cells), n, probe))
}
