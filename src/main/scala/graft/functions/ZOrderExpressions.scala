package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** Native Catalyst expression computing the Morton (Z-order) code of
  * two values at `bits` bits per side (≤ 31): bit i of `x` lands at
  * position 2i, bit i of `y` at 2i+1. Sorting/range-partitioning by
  * this code clusters rows so a range predicate on EITHER dimension
  * touches few parquet row groups — multi-dimensional data skipping
  * (the public Delta OPTIMIZE ZORDER technique; at 100 TB the win is
  * entire files never opened, which no post-scan filter can give).
  *
  * Division of labor with [[graft.sources.Writers.zValueN]]: zValueN
  * is the GENERAL layout tool — n columns, per-column bit budgets,
  * round-robin packing — built as a Column fold (2·Σbits bitwise
  * terms). This expression is the fused fast path for the dominant
  * 2-column equal-budget case: 12 shift-ands per row regardless of
  * bit width, branch-free, fully inside whole-stage codegen. zValueN
  * DELEGATES to it when n=2 with equal budgets, so the writer surface
  * and the expression can never drift.
  *
  * Inputs are masked to their low `bits` bits (callers scale real
  * columns into range first; dictionary/surrogate keys are already
  * dense). Null if either input is null (BinaryExpression default).
  */
case class InterleaveBits(left: Expression, right: Expression, bits: Int)
    extends BinaryExpression {

  require(bits >= 1 && bits <= 31,
    s"interleave bits must be in [1, 31], got $bits")

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (BIGINT, BIGINT), got " +
          s"(${l.simpleString}, ${r.simpleString})")
    }

  override def dataType: DataType = LongType

  override def prettyName: String = "interleave_bits"

  private val mask: Long = (1L << bits) - 1

  @inline private def spread(v: Long): Long = {
    var s = v & mask
    s = (s | (s << 16)) & 0x0000ffff0000ffffL
    s = (s | (s << 8)) & 0x00ff00ff00ff00ffL
    s = (s | (s << 4)) & 0x0f0f0f0f0f0f0f0fL
    s = (s | (s << 2)) & 0x3333333333333333L
    s = (s | (s << 1)) & 0x5555555555555555L
    s
  }

  override def nullSafeEval(x: Any, y: Any): Any =
    spread(x.asInstanceOf[Long]) |
      (spread(y.asInstanceOf[Long]) << 1)

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val sx = ctx.freshName("sx")
      val sy = ctx.freshName("sy")
      def spreadCode(in: String, v: String): String =
        s"""
           |long $v = $in & ${mask}L;
           |$v = ($v | ($v << 16)) & 0x0000ffff0000ffffL;
           |$v = ($v | ($v << 8)) & 0x00ff00ff00ff00ffL;
           |$v = ($v | ($v << 4)) & 0x0f0f0f0f0f0f0f0fL;
           |$v = ($v | ($v << 2)) & 0x3333333333333333L;
           |$v = ($v | ($v << 1)) & 0x5555555555555555L;
         """.stripMargin
      s"""
         |${spreadCode(x, sx)}
         |${spreadCode(y, sy)}
         |${ev.value} = $sx | ($sy << 1);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): InterleaveBits =
    copy(left = newLeft, right = newRight)
}

object ZOrderFunctions {
  /** Column API for [[InterleaveBits]] at an explicit bit width. */
  def interleave_bits(x: Column, y: Column, bits: Int): Column =
    GraftBridge.column(InterleaveBits(
      GraftBridge.expression(x), GraftBridge.expression(y), bits))

  /** The 16-bit-grid form (scaled continuous dimensions, q160). */
  def interleave_bits16(x: Column, y: Column): Column =
    interleave_bits(x, y, 16)
}
