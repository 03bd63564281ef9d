package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Nearest-codeword argmin for product quantization — the SURVEY §2
  * custom-operator tier (b) sibling of [[CentroidRank]], specialized to
  * s38's integer geometry: given an int8-grid sub-vector (array<bigint>)
  * and its subspace index, return the id of the codeword minimizing the
  * EXACT integer squared-L2 distance, ties to the lowest id.
  *
  * Replaces the DataFrame form's 16-way explode-join + per-(vector,
  * subspace) ROW_NUMBER window — which shuffles N·M·K interpreted-HOF
  * fold rows — with a map-only expression: the per-subspace codebooks
  * ride along as ONE codegen reference object (shipped per task, not per
  * row), the K·SubDim loop JITs inside whole-stage codegen, and encode
  * becomes a pure projection over the corpus — zero shuffle at any N.
  * FunctionsSpec pins the codes bit-equal to the join+window form; the
  * DuckDB oracle (which runs the join form in SQL) then hash-matches the
  * final s38 output end-to-end.
  *
  * All arithmetic is Long and exact (|x| ≤ 127 ⇒ per-term ≤ 2¹⁶, sums
  * far below 2⁶³), so "nearest" is unambiguous — no float comparator
  * subtleties; strict `<` with ascending codeword order implements the
  * (dist ASC, c ASC) tie-break identically in eval and codegen.
  */
case class CodebookArgmin(left: Expression, right: Expression,
    books: IndexedSeq[IndexedSeq[IndexedSeq[Long]]]) extends BinaryExpression {

  require(books.nonEmpty && books.forall(_.nonEmpty),
    "every subspace needs a non-empty codebook")

  // case-class IndexedSeqs carry equality/canonicalization; the flat
  // primitive mirror keeps eval/codegen allocation-free
  @transient private lazy val bookArr: Array[Array[Array[Long]]] =
    books.map(_.map(_.toArray).toArray).toArray

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), IntegerType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"codebook_argmin requires (array<bigint>, int), got $l and $r")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "codebook_argmin"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val cb = bookArr(b.asInstanceOf[Int])
    var bestD = Long.MaxValue
    var best = 0L
    var c = 0
    while (c < cb.length) {
      val cw = cb(c)
      var n = v.numElements()
      if (cw.length < n) n = cw.length
      var d = 0L
      var i = 0
      while (i < n) {
        val t = v.getLong(i) - cw(i)
        d += t * t
        i += 1
      }
      if (d < bestD) { bestD = d; best = c.toLong }
      c += 1
    }
    best
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, s) => {
      val booksRef = ctx.addReferenceObj("books", bookArr, "long[][][]")
      val cb = ctx.freshName("cb")
      val cw = ctx.freshName("cw")
      val c = ctx.freshName("c")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val d = ctx.freshName("d")
      val t = ctx.freshName("t")
      val bestD = ctx.freshName("bestD")
      val best = ctx.freshName("best")
      s"""
         |long[][] $cb = $booksRef[$s];
         |long $bestD = Long.MAX_VALUE;
         |long $best = 0L;
         |for (int $c = 0; $c < $cb.length; $c++) {
         |  long[] $cw = $cb[$c];
         |  int $n = $v.numElements();
         |  if ($cw.length < $n) $n = $cw.length;
         |  long $d = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    long $t = $v.getLong($i) - $cw[$i];
         |    $d += $t * $t;
         |  }
         |  if ($d < $bestD) { $bestD = $d; $best = (long) $c; }
         |}
         |${ev.value} = $best;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CodebookArgmin =
    copy(left = newLeft, right = newRight)
}

object CodebookArgmin {
  /** Column-API entry: `books(s)(c)` is the codeword vector of code `c`
    * in subspace `s`, in ascending-code order (the tie-break order). */
  def apply(sub: Column, s: Column,
      books: IndexedSeq[IndexedSeq[IndexedSeq[Long]]]): Column =
    GraftBridge.column(CodebookArgmin(
      GraftBridge.expression(sub), GraftBridge.expression(s), books))
}
