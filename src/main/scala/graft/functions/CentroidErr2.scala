package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType}

/** Native Catalyst squared L2 error of a vector against the centroid a
  * CODE column selects: Σ(v_i − c_i)² accumulated strictly
  * left-to-right — bit-identical to the literal when-chain form it
  * replaces (`when(code === cid, array(c...)).otherwise(...)` feeding
  * `ArrayDotProduct(zip_with(v, cent, _-_), zip_with(...))`): same
  * doubles (the 6-decimal learned centroids), same IEEE op order
  * (t = v−c; s += t·t), same null flow (null vector or code → null,
  * a code matching no cid → null, exactly like the exhausted
  * when-chain's null `otherwise` base).
  *
  * Why an expression (the NearestCell rationale applied to the error
  * side): the literal chain embeds k×dims literal doubles PER USE and
  * its zip_withs are interpreted higher-order functions — evaluated
  * twice per reference (ADP(diff, diff)) with a per-row allocation
  * per centroid, and the k-case tree is re-planned on every query.
  * This expression carries the codebook as a codegen reference object
  * and loops dims in generated Java — zero allocation, whole-stage
  * codegen, ~one plan node, identical arithmetic.
  */
case class CentroidErr2(left: Expression, right: Expression,
    cids: Seq[Int], cents: Seq[Seq[Double]]) extends BinaryExpression {

  // Seq fields (not Array): structural case-class equality, so equal
  // codebooks canonicalize together (see NearestCell).
  require(cids.length == cents.length && cids.nonEmpty,
    s"CentroidErr2: ${cids.length} cids vs ${cents.length} centroids")

  @transient private lazy val cidArr: Array[Int] = cids.toArray
  @transient private lazy val centArr: Array[Array[Double]] =
    cents.map(_.toArray).toArray

  override def dataType: DataType = DoubleType

  // non-null inputs can still yield null (unmatched code)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), IntegerType | LongType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"CentroidErr2 requires (array<double>, int/bigint), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val code = b match { case i: Int => i.toLong; case l: Long => l }
    val d = v.numElements()
    var idx = -1
    var i = 0
    while (idx < 0 && i < cidArr.length) {
      if (cidArr(i).toLong == code) idx = i
      i += 1
    }
    if (idx < 0) null
    else {
      val c = centArr(idx)
      if (c.length != d) throw new IllegalArgumentException(
        s"CentroidErr2: dims mismatch ${c.length} vs $d")
      // null components read as garbage through getDouble — fail loudly
      // (the literal form NPE'd here); scanned only after the code
      // matched, so an unmatched code stays null like the when-chain
      var z = 0
      while (z < d) {
        if (v.isNullAt(z)) throw new IllegalArgumentException(
          s"CentroidErr2: null vector component at index $z")
        z += 1
      }
      var s = 0.0
      var j = 0
      while (j < d) { val t = v.getDouble(j) - c(j); s += t * t; j += 1 }
      s
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, code) => {
      val centsRef = ctx.addReferenceObj("errCents", centArr, "double[][]")
      val cidsRef = ctx.addReferenceObj("errCids", cidArr, "int[]")
      val d = ctx.freshName("d")
      val idx = ctx.freshName("idx")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val s = ctx.freshName("s")
      val t = ctx.freshName("t")
      val z = ctx.freshName("z")
      s"""
        int $d = $v.numElements();
        int $idx = -1;
        for (int $i = 0; $idx < 0 && $i < $cidsRef.length; $i++) {
          if (((long) $cidsRef[$i]) == ((long) $code)) $idx = $i;
        }
        if ($idx < 0) {
          ${ev.isNull} = true;
        } else {
          double[] $c = $centsRef[$idx];
          if ($c.length != $d) {
            throw new IllegalArgumentException(
              "CentroidErr2: dims mismatch " + $c.length + " vs " + $d);
          }
          for (int $z = 0; $z < $d; $z++) {
            if ($v.isNullAt($z)) {
              throw new IllegalArgumentException(
                "CentroidErr2: null vector component at index " + $z);
            }
          }
          double $s = 0.0;
          for (int $j = 0; $j < $d; $j++) {
            double $t = $v.getDouble($j) - $c[$j];
            $s += $t * $t;
          }
          ${ev.value} = $s;
        }
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CentroidErr2 =
    copy(left = newLeft, right = newRight)
}

object CentroidErr2 {
  /** `v` must be array<double>; `code` int/bigint; `cents` is
    * (cid → centroid) exactly as `IvfIndex.learnCentroids` returns it.
    */
  def apply(v: Column, code: Column, cents: Seq[(Int, Seq[Double])]): Column =
    GraftColumnBridge.column(CentroidErr2(
      GraftColumnBridge.expression(v), GraftColumnBridge.expression(code),
      cents.map(_._1), cents.map(_._2)))
}
