package graft.streaming

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.operators.{Dedup, T}

/** LineDedupMaintainer (d47's streaming twin): from an EMPTY model, a
  * single batch holding the whole corpus must reproduce batch d47 row
  * for row (shared kernels); a multi-batch stream — driven through a
  * FRESH instance per batch, so every epoch is also a restart — must
  * rewrite each batch against the line-df model AS OF its admission
  * (pinned against an independent in-test Scala oracle), skip
  * re-delivered committed epochs, and replay over torn (uncommitted)
  * state dirs without double-merging the model. */
class LineDedupStreamSpec extends SparkSpec {

  private def emptyState = {
    import spark.implicits._
    Seq.empty[(String, Long)].toDF("h", "df")
  }

  private val OutCols = Seq("doc_id", "n_lines", "n_kept", "text_kept")

  private def rows(root: String) =
    spark.read.parquet(s"$root/out")
      .select(OutCols.map(col): _*)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq

  private lazy val docs = T(spark, sfDir, "documents")
    .select("doc_id", "text").orderBy("doc_id").collect()

  private def df(xs: Seq[org.apache.spark.sql.Row]) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(xs, 2), docs.head.schema)

  /** Scala-side line segmentation mirroring d47's 8-word windows. */
  private def linesOf(text: String): Seq[String] =
    text.split(" ", -1).toSeq.grouped(8).map(_.mkString(" ")).toSeq

  test("one batch from an empty model == batch d47, row for row") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_linestream").toString + "/state"
    val m = new StreamOps.LineDedupMaintainer(emptyState, root)
    m.apply(df(docs.toSeq), 0L)
    val expected = Dedup.d47LineDedup.fn(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(rows(root) == expected,
      "a single streamed batch over an empty model must equal batch d47")
    // re-delivery through a FRESH instance (restart): committed skip
    new StreamOps.LineDedupMaintainer(emptyState, root)
      .apply(df(docs.toSeq), 0L)
    assert(rows(root) == expected)
  }

  test("multi-batch through FRESH instances: as-of model, torn-state replay") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_linestream2").toString + "/state"
    val parts = docs.grouped((docs.length + 2) / 3).toSeq
    assert(parts.size == 3)

    val seenDf = scala.collection.mutable.Map.empty[String, Long]
    parts.zipWithIndex.foreach { case (p, i) =>
      p.foreach { r =>
        linesOf(r.getString(1)).distinct.foreach { ln =>
          seenDf(ln) = seenDf.getOrElse(ln, 0L) + 1L
        }
      }
      if (i == 2) {
        // torn df snapshot for THIS epoch from a simulated crash — must
        // be ignored (no _SUCCESS) and overwritten by the replay
        val d = new java.io.File(s"$root/df/e=$i")
        assert(d.mkdirs())
        java.nio.file.Files.write(d.toPath.resolve("part-junk.parquet"),
          Array[Byte](7, 7, 7))
        // a torn output dir (no _SUCCESS) is not a commit: the epoch
        // must still apply and overwrite it
        val o = new java.io.File(s"$root/out/epoch=$i")
        assert(o.mkdirs())
        java.nio.file.Files.write(o.toPath.resolve("part-junk.parquet"),
          Array[Byte](7, 7, 7))
      }
      new StreamOps.LineDedupMaintainer(emptyState, root)
        .apply(df(p.toSeq), i.toLong)
      val got = spark.read.parquet(s"$root/out")
        .select(OutCols.map(col): _*)
        .filter(col("doc_id").isin(p.map(_.getLong(0)): _*))
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
      assert(got.size == p.length, s"batch $i must commit one row per doc")
      p.foreach { r =>
        val ls = linesOf(r.getString(1))
        val kept = ls.filter(ln => seenDf(ln) <= Dedup.LineDfMax)
        val (nl, nk, txt) = got(r.getLong(0))
        assert(nl == ls.size && nk == kept.size && txt == kept.mkString(" "),
          s"doc ${r.getLong(0)} batch $i: rewrite must reflect the " +
            s"as-of-admission model (expected ${kept.size}/${ls.size} kept)")
      }
    }
    val dfDirs = new java.io.File(s"$root/df").listFiles
      .filter(f => f.isDirectory && f.getName.startsWith("e=")).map(_.getName)
    assert(dfDirs.toSeq == Seq("e=2"), dfDirs.toSeq.toString)
  }
}
