package graft.plans

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** Native Catalyst expression: 2-D Hilbert-curve index of `(x, y)` on a
  * `2^bits × 2^bits` grid — the locality-better sibling of
  * [[graft.operators.Layout.zValue]]'s Morton interleave (consecutive
  * Hilbert indices are always GRID NEIGHBORS — the defining unit-step
  * property, asserted exhaustively in the unit suite — where the Morton
  * curve jumps across the space at power-of-two seams, so Hilbert tiles
  * give tighter per-file min/max bounds on both columns).
  *
  * The per-level recurrence is the published reflect-and-swap form
  * (top-down over bit planes; quadrant digit `(3·rx) XOR ry` weighted
  * by `s²`). Intermediate coordinates may go NEGATIVE after the
  * reflection — harmless and engine-portable, because every later level
  * only reads them through `& s` against a positive mask, which is
  * identical two's-complement arithmetic on JVM longs and SQL BIGINTs
  * (the DuckDB oracle replays the recurrence as one CTE per level).
  *
  * A native expression rather than a Column fold: each level reads the
  * previous level's (x, y, d) several times, so a Column-composed
  * version duplicates subtrees ~4^bits times, while this stays one tight
  * codegen'd loop inside the whole-stage span (the SURVEY §7.3
  * extension path).
  *
  * Inputs must lie in `[0, 2^bits)`; violations throw at evaluation —
  * the same loud-failure contract as `Layout.zValue`'s in-plan guard
  * (a silently masked coordinate would produce a meaningless layout).
  */
case class HilbertValue(left: Expression, right: Expression, bits: Int)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    if (bits <= 0 || 2 * bits > 62)
      TypeCheckResult.TypeCheckFailure(s"hilbert_value needs 0 < bits <= 31, got $bits")
    else if (left.dataType == LongType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"hilbert_value needs (BIGINT, BIGINT), got (${left.dataType}, ${right.dataType})")

  override protected def nullSafeEval(a: Any, b: Any): Any =
    HilbertValue.index(bits, a.asInstanceOf[Long], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.plans.HilbertValue.index($bits, $a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HilbertValue =
    copy(left = newLeft, right = newRight)
}

object HilbertValue {
  /** Column-level entry point. */
  def apply(x: Column, y: Column, bits: Int): Column =
    GraftBridge.column(HilbertValue(
      GraftBridge.expression(x), GraftBridge.expression(y), bits))

  /** shared by interpreted eval and generated code (and, as the SPEC,
    * by the oracle SQL generator in graft.suite.Shared).
    */
  def index(bits: Int, x0: Long, y0: Long): Long = {
    if (x0 < 0 || (x0 >>> bits) != 0 || y0 < 0 || (y0 >>> bits) != 0)
      throw new IllegalArgumentException(
        s"hilbert_value: input outside [0, 2^$bits): ($x0, $y0)")
    var x = x0; var y = y0; var d = 0L
    var s = 1L << (bits - 1)
    while (s > 0) {
      val rx = if ((x & s) != 0) 1L else 0L
      val ry = if ((y & s) != 0) 1L else 0L
      d += s * s * ((3 * rx) ^ ry)
      if (ry == 0) {
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }
}
