package graft.plans

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native codegen'd vector kernels over `array<float|double>` columns.
  *
  * The composable alternative (`zip_with` + `aggregate` higher-order
  * functions) is evaluated INTERPRETED per element — fine for a handful
  * of rows, a bottleneck when a candidate join emits millions of pairs.
  * These expressions generate a tight primitive loop inside whole-stage
  * codegen (SURVEY §7.3 extension path).
  *
  * Determinism contract (oracle-critical): each element is cast to
  * double BEFORE multiplying and accumulated LEFT-TO-RIGHT — the exact
  * fold order of the HOF formulation and of the generated DuckDB oracle
  * SQL — so results are bit-identical across engines.
  */
trait VectorBinaryExpression extends BinaryExpression {
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(lt, _), ArrayType(rt, _))
          if Seq(lt, rt).forall(t => t == FloatType || t == DoubleType) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"expected (array<float|double>, array<float|double>), got $other")
    }

  protected def leftElem: DataType = left.dataType.asInstanceOf[ArrayType].elementType
  protected def rightElem: DataType = right.dataType.asInstanceOf[ArrayType].elementType

  protected def getD(a: ArrayData, i: Int, t: DataType): Double = t match {
    case FloatType => a.getFloat(i).toDouble
    case _         => a.getDouble(i)
  }

  /** java source for element i of `v` as double. */
  protected def getGen(v: String, i: String, t: DataType): String = t match {
    case FloatType => s"(double) $v.getFloat($i)"
    case _         => s"$v.getDouble($i)"
  }
}

/** Σ aᵢ·bᵢ, left-to-right in double. NULL on length mismatch — the HOF
  * contract (`zip_with` pads the short side with nulls, poisoning the
  * fold), so corrupt/truncated vectors drop out of threshold filters
  * instead of producing plausible partial similarities.
  */
case class DotProduct(left: Expression, right: Expression)
    extends VectorBinaryExpression {
  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0.0; var i = 0
    while (i < n) { s += getD(x, i, leftElem) * getD(y, i, rightElem); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n"); val s = ctx.freshName("s")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $s += ${getGen(a, i, leftElem)} * ${getGen(b, i, rightElem)};
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  def apply(a: Column, b: Column): Column =
    GraftBridge.column(DotProduct(
      GraftBridge.expression(a), GraftBridge.expression(b)))
}

/** dot(a,b) / (‖a‖·‖b‖) with all three sums accumulated left-to-right in
  * double — bit-identical to `dot/(norm2·norm2)` composed from HOFs for
  * well-formed inputs, and NULL (matching the HOF divide-by-zero /
  * zip_with-pad semantics) for zero-norm or length-mismatched vectors —
  * NOT NaN, which Spark sorts ABOVE every real number and which passes
  * `>= threshold` filters.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends VectorBinaryExpression {
  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val xi = getD(x, i, leftElem); val yi = getD(y, i, rightElem)
      dot += xi * yi; na += xi * xi; nb += yi * yi; i += 1
    }
    if (na == 0.0 || nb == 0.0) null
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi"); val yi = ctx.freshName("yi")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $xi = ${getGen(a, i, leftElem)};
         |    double $yi = ${getGen(b, i, rightElem)};
         |    $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |  }
         |  if ($na == 0.0 || $nb == 0.0) {
         |    ${ev.isNull} = true;
         |  } else {
         |    ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  def apply(a: Column, b: Column): Column =
    GraftBridge.column(CosineSimilarity(
      GraftBridge.expression(a), GraftBridge.expression(b)))
}

/** Σ (aᵢ−bᵢ)² over `array<bigint>` in pure int64 — the k-means distance
  * kernel for integer-QUANTIZED vectors ([[graft.operators.Similarity
  * .kmeansAssign]]). Exact integer arithmetic: identical in any engine
  * and any evaluation order, so swapping in this kernel cannot move the
  * oracle (the unrolled `element_at` formulation it replaces compiled a
  * dim×k-term expression tree per stage — a codegen-size cost, not a
  * semantics one). NULL on length mismatch, like the double kernels.
  * Safe range: |elements| < 2²¹ over ≤ 2¹⁰ dims keeps the sum < 2⁵²;
  * quantized embeddings (floor(x·2²⁰), |x| ≤ 1) are well inside.
  */
case class QuantizedL2(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"expected (array<bigint>, array<bigint>), got $other")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0L; var i = 0
    while (i < n) {
      val d = x.getLong(i) - y.getLong(i); s += d * d; i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val s = ctx.freshName("s"); val d = ctx.freshName("d")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $s = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    long $d = $a.getLong($i) - $b.getLong($i);
         |    $s += $d * $d;
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): QuantizedL2 =
    copy(left = newLeft, right = newRight)
}

object QuantizedL2 {
  def apply(a: Column, b: Column): Column =
    GraftBridge.column(QuantizedL2(
      GraftBridge.expression(a), GraftBridge.expression(b)))
}
