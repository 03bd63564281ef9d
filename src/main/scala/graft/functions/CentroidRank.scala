package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types._

/** Top-p centroid ranking over a collected centroid matrix — the
  * SURVEY §2 custom-operator tier (b) path behind every centroid
  * ranking: p = 1 is the nearest-centroid assignment of every k-means
  * step ([[graft.operators.Similarity.assignCells]]: x95's Lloyd steps,
  * x96's SemDeDup clustering, x98, and the streaming twin), p > 1 the
  * IVF probe ranking ([[graft.operators.Similarity.rankedCells]]: the
  * s34 quantizer behind s34/s39/s41/s43/s45/s46/s48/x93, s45/s46's
  * rebalanced set and s47's persisted-centroid probe).
  *
  * O(1) plan size at ANY K — the matrix rides along inside the
  * expression, which generated code reaches as one reference object
  * (shipped once per task like a broadcast, not once per row); the K·Dim
  * loop runs inside whole-stage codegen, and the operator is map-only:
  * zero shuffle, zero fan-out, exactly MLlib's assignment shape
  * expressed as a Catalyst expression. A null vector or norm gives a
  * null ranking; an empty matrix ranks nothing (an empty array).
  *
  * The result is the min(p, K) best `(cell, cos)` pairs in (cos DESC,
  * cell ASC) order — EXACTLY the oracle's ROW_NUMBER ranking over a
  * centroid cross join: the dot is [[ArrayDot]]'s fold (ascending index,
  * `acc + v(i)*cv(i)`, min-length loop), the cosine the same divide, and
  * double comparisons go through Spark's SQL ordering
  * (`SQLOrderingUtil.compareDoubles`: NaN greatest, -0.0 == 0.0) so a
  * NaN or signed-zero cosine ranks as the window's sort ranks it.
  * RecallSpec pins it bit-equal to a plain-Scala reference ranking and
  * to the cross-join + ROW_NUMBER form.
  *
  * `cells` must be strictly ascending — an equal cosine never displaces
  * an earlier cell, which is what implements the cell tie-break.
  */
case class CentroidRank(left: Expression, right: Expression,
    cells: IndexedSeq[Long], matrix: IndexedSeq[IndexedSeq[Double]],
    norms: IndexedSeq[Double], p: Int) extends BinaryExpression {

  require(cells.length == matrix.length && cells.length == norms.length,
    "cells/matrix/norms must align")
  require(cells.iterator.sliding(2).withPartial(false).forall(w => w.head < w(1)),
    "cells must be strictly ascending (tie-break order)")
  require(p >= 1, s"p must be positive, got $p")

  // equality/canonicalization use the case-class IndexedSeqs; the flat
  // primitive mirrors below keep the ranking loop on primitive arrays
  @transient private lazy val cellArr: Array[Long] = cells.toArray
  @transient private lazy val matArr: Array[Array[Double]] =
    matrix.map(_.toArray).toArray
  @transient private lazy val normArr: Array[Double] = norms.toArray

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), DoubleType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"centroid_rank requires (array<double>, double), got $l and $r")
    }
  override def dataType: DataType = CentroidRank.Ranking
  override def prettyName: String = "centroid_rank"
  // plans print the matrix's shape, not its K·Dim doubles
  override protected def stringArgs: Iterator[Any] =
    Iterator(left, right, s"K=${cells.length}", s"p=$p")

  /** The ranking loop — eval calls it directly, generated code through
    * a reference to this expression, so there is one copy of it. */
  def rank(v: ArrayData, nrm: Double): ArrayData = {
    val m = math.min(p, cellArr.length)
    val topCos = new Array[Double](m)
    val topK = new Array[Int](m)
    var filled = 0
    var k = 0
    while (k < cellArr.length) {
      val cv = matArr(k)
      var n = v.numElements()
      if (cv.length < n) n = cv.length
      var acc = 0.0d
      var i = 0
      while (i < n) { acc += v.getDouble(i) * cv(i); i += 1 }
      val cos = acc / (nrm * normArr(k))
      // insert behind every kept cosine this one does not strictly beat
      var j = filled
      while (j > 0 && SQLOrderingUtil.compareDoubles(cos, topCos(j - 1)) > 0) j -= 1
      if (j < m) {
        var s = if (filled < m) filled else m - 1
        while (s > j) { topCos(s) = topCos(s - 1); topK(s) = topK(s - 1); s -= 1 }
        topCos(j) = cos; topK(j) = k
        if (filled < m) filled += 1
      }
      k += 1
    }
    new GenericArrayData(Array.tabulate[Any](m)(j => InternalRow(cellArr(topK(j)), topCos(j))))
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    rank(a.asInstanceOf[ArrayData], b.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("centroidRank", this)
    nullSafeCodeGen(ctx, ev, (v, nrm) => s"${ev.value} = $self.rank($v, $nrm);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CentroidRank =
    copy(left = newLeft, right = newRight)
}

object CentroidRank {
  /** `array<struct<cell, cos>>`, best first. */
  val Ranking: DataType = ArrayType(StructType(Seq(
    StructField("cell", LongType, nullable = false),
    StructField("cos", DoubleType, nullable = false))), containsNull = false)

  /** Column-API entry over a (cell, centroid) matrix; norms are computed
    * by the caller with the engine's shared JVM-side fold so cosines
    * stay bit-equal to the oracle's. */
  def apply(v: Column, nrm: Column, cent: Seq[(Long, Seq[Double])],
      centNorms: Seq[Double], p: Int): Column =
    GraftBridge.column(CentroidRank(
      GraftBridge.expression(v), GraftBridge.expression(nrm),
      cent.map(_._1).toIndexedSeq, cent.map(_._2.toIndexedSeq).toIndexedSeq,
      centNorms.toIndexedSeq, p))
}
