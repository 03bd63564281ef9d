package graft.functions

import org.apache.spark.sql.{Encoder, Encoders, TypedColumn}
import org.apache.spark.sql.expressions.Aggregator

/** MinHash signature as a typed Aggregator (SURVEY.md §7.3 "custom
  * Aggregator: minhash signatures for near-dedup").
  *
  * The input is one shingle hash (a Long) per row, aggregated per group
  * key; the buffer is the running elementwise minimum of the K permuted
  * hashes h_k(x) = ((2k+1)·x + k²+1) mod p — identical to the expression
  * pipeline in [[graft.operators.Dedup.d28MinhashLsh]], so both paths
  * produce the same signatures. [[reduce]] is the one JVM statement of
  * the permutations: `Dedup.minhashSig` (the streaming near-dup tier)
  * folds it over a shingle set.
  *
  * Elementwise min is associative and commutative → Spark runs the partial
  * (map-side) aggregation automatically, shuffling only K longs per key;
  * the same aggregator is usable in Structured Streaming aggregations.
  */
final class MinHashAgg(k: Int) extends Aggregator[Long, Array[Long], Seq[Long]] {
  private val P = 2147483647L

  // empty-input sentinel is P (every permuted hash is < P), so an empty
  // set's signature never collides with a real minimum
  def zero: Array[Long] = Array.fill(k)(P)

  def reduce(buf: Array[Long], h: Long): Array[Long] = {
    var i = 0
    while (i < k) {
      val v = ((2L * i + 1) * h + (i.toLong * i + 1)) % P
      if (v < buf(i)) buf(i) = v
      i += 1
    }
    buf
  }

  def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < k) { if (b(i) < a(i)) a(i) = b(i); i += 1 }
    a
  }

  def finish(buf: Array[Long]): Seq[Long] = buf.toSeq

  def bufferEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  def outputEncoder: Encoder[Seq[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
}

object MinHashAgg {
  def of(k: Int): TypedColumn[Long, Seq[Long]] = new MinHashAgg(k).toColumn

  /** Untyped registration: usable in `df.groupBy(...).agg(...)` — avoids
    * the typed groupByKey serialization overhead (3x faster here). */
  def udafOf(k: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udaf(new MinHashAgg(k), Encoders.scalaLong)
}
