package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst squared L2 distance between two `array<double>`
  * columns: Σ(x_i − y_i)² accumulated strictly left-to-right —
  * bit-identical to the `ArrayDotProduct(zip_with(a, b, _-_),
  * zip_with(a, b, _-_))` form it replaces (same IEEE ops in the same
  * order), without the interpreted zip_with that allocated a diff
  * array TWICE per row (higher-order functions do no CSE across the
  * two ArrayDotProduct references). Participates in whole-stage
  * codegen as one tight primitive loop, like ArrayDotProduct.
  * Mismatched lengths and null elements fail loudly (the zip_with
  * form padded with nulls and crashed on the unboxing — equally loud,
  * less clear); non-double arrays are rejected at analysis time, like
  * NearestCell / ProbeCells / CentroidErr2.
  */
case class ArrayL2Dist2(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"ArrayL2Dist2 requires (array<double>, array<double>), got " +
          s"(${l.catalogString}, ${r.catalogString}) " +
          "(cast with VectorFunctions.toDouble)")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) throw new IllegalArgumentException(
      s"ArrayL2Dist2: length mismatch $n vs ${y.numElements()}")
    var s = 0.0
    var i = 0
    while (i < n) {
      // a null element reads as garbage through getDouble — fail loudly
      if (x.isNullAt(i) || y.isNullAt(i)) throw new IllegalArgumentException(
        s"ArrayL2Dist2: null element at index $i")
      val t = x.getDouble(i) - y.getDouble(i)
      s += t * t
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val t = ctx.freshName("t")
      s"""
        int $n = $x.numElements();
        if ($n != $y.numElements()) {
          throw new IllegalArgumentException(
            "ArrayL2Dist2: length mismatch " + $n + " vs " + $y.numElements());
        }
        double $s = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          if ($x.isNullAt($i) || $y.isNullAt($i)) {
            throw new IllegalArgumentException(
              "ArrayL2Dist2: null element at index " + $i);
          }
          double $t = $x.getDouble($i) - $y.getDouble($i);
          $s += $t * $t;
        }
        ${ev.value} = $s;
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayL2Dist2 =
    copy(left = newLeft, right = newRight)
}

object ArrayL2Dist2 {
  /** Callers must pass array<double> columns (VectorFunctions casts). */
  def apply(a: Column, b: Column): Column =
    GraftColumnBridge.column(
      ArrayL2Dist2(GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
}
