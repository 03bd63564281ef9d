package graft.operators

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Streaming twin for x96's incremental half (round-4 ask): cell
  * ASSIGNMENT is a map-only expression over a frozen centroid matrix, so
  * it runs unchanged on a stream — new vectors pick their semantic cell as
  * they arrive, and per-cell membership accumulates as streaming state.
  * That is the online shape of SemDeDup ingestion at 100 TB: cluster once
  * (batch Lloyd), then route the firehose.
  *
  * The within-cell PAIR stage stays batch-only by contract: it needs every
  * cell member (its scan is cap-bounded, not watermark-bounded), so the
  * production loop is stream-assign → periodic batch pair sweep. This spec
  * pins the streamed assignment to the batch x96 clustering bit-exactly.
  */
class SemdedupStreamSpec extends SparkSpec {

  test("x96 streaming twin: streamed cell assignment matches batch membership") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // the exact clustering x96 uses: K ∝ N, final-iteration assignCent
    val e = Similarity.vecs(spark, sfDir).select(col("vec_id"), col("v"), col("nrm"))
    val k = Similarity.semK(e.count())
    val res = Similarity.lloydRun(spark, sfDir, k)
    val batch = Similarity.assignCells(e, res.assignCent)
      .groupBy("cell").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    // same corpus as a 2-micro-batch stream through the SAME assignment
    // expression (codegen'd centroid_argmin at x96's data-adaptive K)
    val rows = e.as[(Long, Seq[Double], Double)].collect().toSeq
    assert(k > 8 || rows.size <= 64,
      "fixture K should be data-adaptive: above semK's floor of 8 unless the corpus is tiny")
    val stream = MemoryStream[(Long, Seq[Double], Double)]
    val assigned = Similarity.assignCells(
      stream.toDS().toDF("vec_id", "v", "nrm"), res.assignCent)
    val q = assigned.groupBy("cell").agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("sem_cells")
      .outputMode("complete").start()
    try {
      val (h1, h2) = rows.splitAt(rows.size / 2)
      stream.addData(h1)
      q.processAllAvailable()
      val mid = spark.table("sem_cells").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(mid.values.sum === h1.size.toLong, "first micro-batch fully assigned")
      stream.addData(h2)
      q.processAllAvailable()
      val got = spark.table("sem_cells").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === batch, "streamed state must equal the batch x96 membership")
    } finally q.stop()
  }
}
