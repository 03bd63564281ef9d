package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Nearest-centroid argmin over a driver-held centroid matrix — the
  * SURVEY §2 custom-operator tier (b) path behind every k-means cell
  * assignment ([[graft.operators.Similarity.assignCells]]: x95's Lloyd
  * steps, x96's SemDeDup clustering, x98, and the streaming twin).
  *
  * O(1) plan size at ANY K — the matrix rides along as a codegen
  * reference object (shipped once per task like a broadcast, not once
  * per row), the K·Dim loop is one tight JIT'd nest inside whole-stage
  * codegen, and the operator is map-only: zero shuffle, zero fan-out,
  * exactly MLlib's assignment shape expressed as a Catalyst expression.
  * A null vector or norm assigns a null cell.
  *
  * Semantics are EXACTLY `min(struct(-cos, cell))` over candidates in
  * ascending-cell order — the same (cos DESC, cell ASC) ROW_NUMBER
  * tie-break the oracle uses: the dot is [[ArrayDot]]'s fold (ascending
  * index, `acc + v(i)*cv(i)`, min-length loop), the cosine the same
  * divide, and double comparisons go through Spark's SQL ordering
  * (`SQLOrderingUtil.compareDoubles`: NaN greatest, -0.0 == 0.0) so a
  * NaN or signed-zero cosine ranks identically to the struct-min form.
  * RecallSpec pins it bit-equal to a driver-side reference argmin.
  *
  * `cells` must be strictly ascending — first-wins on equal scores is
  * what implements the cell tie-break.
  */
case class CentroidArgmin(left: Expression, right: Expression,
    cells: IndexedSeq[Long], matrix: IndexedSeq[IndexedSeq[Double]],
    norms: IndexedSeq[Double]) extends BinaryExpression {

  require(cells.nonEmpty && cells.length == matrix.length &&
    cells.length == norms.length, "cells/matrix/norms must align and be non-empty")
  require(cells.iterator.sliding(2).withPartial(false).forall(p => p.head < p(1)),
    "cells must be strictly ascending (tie-break order)")

  // equality/canonicalization use the case-class IndexedSeqs; the flat
  // primitive mirrors below exist so eval/codegen run allocation-free
  @transient private lazy val cellArr: Array[Long] = cells.toArray
  @transient private lazy val matArr: Array[Array[Double]] =
    matrix.map(_.toArray).toArray
  @transient private lazy val normArr: Array[Double] = norms.toArray

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), DoubleType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"centroid_argmin requires (array<double>, double), got $l and $r")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "centroid_argmin"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val nrm = b.asInstanceOf[Double]
    var bestNc = 0.0d
    var bestCell = 0L
    var k = 0
    while (k < cellArr.length) {
      val cv = matArr(k)
      var n = v.numElements()
      if (cv.length < n) n = cv.length
      var acc = 0.0d
      var i = 0
      while (i < n) { acc += v.getDouble(i) * cv(i); i += 1 }
      val nc = -(acc / (nrm * normArr(k)))
      if (k == 0 ||
        org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles(nc, bestNc) < 0) {
        bestNc = nc; bestCell = cellArr(k)
      }
      k += 1
    }
    bestCell
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, nrm) => {
      val cellsRef = ctx.addReferenceObj("cells", cellArr, "long[]")
      val matRef = ctx.addReferenceObj("matrix", matArr, "double[][]")
      val normsRef = ctx.addReferenceObj("norms", normArr, "double[]")
      val k = ctx.freshName("k")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val cv = ctx.freshName("cv")
      val nc = ctx.freshName("nc")
      val bestNc = ctx.freshName("bestNc")
      val bestCell = ctx.freshName("bestCell")
      s"""
         |double $bestNc = 0.0;
         |long $bestCell = 0L;
         |for (int $k = 0; $k < $cellsRef.length; $k++) {
         |  double[] $cv = $matRef[$k];
         |  int $n = $v.numElements();
         |  if ($cv.length < $n) $n = $cv.length;
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $acc += $v.getDouble($i) * $cv[$i];
         |  }
         |  double $nc = -($acc / ($nrm * $normsRef[$k]));
         |  if ($k == 0 ||
         |      org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles($nc, $bestNc) < 0) {
         |    $bestNc = $nc; $bestCell = $cellsRef[$k];
         |  }
         |}
         |${ev.value} = $bestCell;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CentroidArgmin =
    copy(left = newLeft, right = newRight)
}

object CentroidArgmin {
  /** Column-API entry over a (cell, centroid) matrix; norms are computed
    * by the caller with the engine's shared driver-side fold so cosines
    * stay bit-equal to the oracle's. */
  def apply(v: Column, nrm: Column, cent: Seq[(Long, Seq[Double])],
      centNorms: Seq[Double]): Column =
    GraftBridge.column(CentroidArgmin(
      GraftBridge.expression(v), GraftBridge.expression(nrm),
      cent.map(_._1).toIndexedSeq, cent.map(_._2.toIndexedSeq).toIndexedSeq,
      centNorms.toIndexedSeq))
}
