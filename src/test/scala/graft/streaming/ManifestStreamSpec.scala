package graft.streaming

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.operators.{Dedup, Pipeline, T}

/** ManifestMaintainer (x126's streaming twin): a single batch holding
  * everything batch-x126 calls "the batch" must produce EXACTLY x126's
  * manifest rows (same index, same merged state, same scoring tail —
  * the shared-kernel contract); a multi-batch stream must score each
  * batch against the quantile state AS OF its admission (pinned
  * against an independent in-test cumulative-histogram oracle) while
  * keeping admission verdicts equal to the one-shot run; and — the
  * filesystem-truth tier — a FRESH instance per batch must resume
  * exactly, a committed epoch must be skipped on re-delivery, and a
  * crash that left torn (uncommitted) state dirs must replay without
  * double-merging the quantile state. */
class ManifestStreamSpec extends SparkSpec {

  private val ManifestCols =
    Seq("doc_id", "source", "split", "q_ppm", "admitted", "weight_ppm",
      "train_weight_ppm")

  private def rows(root: String) =
    spark.read.parquet(s"$root/manifest")
      .select(ManifestCols.map(col): _*)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq

  private def freshRoot(tag: String) = java.nio.file.Files
    .createTempDirectory(s"graft_manifest_$tag").toString + "/state"

  private def maintainer(root: String) = {
    val (hotPath, setsT, bandsT) = Dedup.d37CorpusIndex(spark, sfDir)
    new StreamOps.ManifestMaintainer(
      spark.table(setsT), spark.table(bandsT).hint("merge"),
      spark.read.parquet(hotPath),
      spark.read.parquet(Pipeline.x126CellState(spark, sfDir)), root)
  }

  private lazy val batchDocs = T(spark, sfDir, "documents")
    .filter(col("doc_id") % 5 === 0)
    .select("doc_id", "text", "source", "n_chars")
    .orderBy("doc_id")
    .collect()

  private def df(xs: Seq[org.apache.spark.sql.Row]) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(xs, 2),
      batchDocs.head.schema)

  test("one batch == the batch x126 manifest, row for row") {
    val root = freshRoot("oneshot")
    val m = maintainer(root)
    m.apply(df(batchDocs.toSeq), 0L)
    val expected = Pipeline.x126IncrementalManifest.fn(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(rows(root) == expected,
      "a single streamed batch must reproduce batch x126 exactly")
    // re-delivered epoch — and through a FRESH instance (restart):
    // the committed-manifest watermark must skip it, nothing rewritten
    maintainer(root).apply(df(batchDocs.toSeq), 0L)
    assert(rows(root) == expected)
  }

  /** Independent oracle: cumulative (source, n_chars) histogram in
    * plain Scala — floor(cum * 1e6 / n) per cell, per source. */
  private def qppm(corpus: Seq[(String, Long)]): Map[(String, Long), Long] =
    corpus.groupBy(_._1).flatMap { case (src, xs) =>
      val n = xs.size.toLong
      var cum = 0L
      xs.groupBy(_._2).view.mapValues(_.size.toLong).toSeq.sortBy(_._1)
        .map { case (c, cnt) => cum += cnt; (src, c) -> (cum * 1000000L / n) }
    }

  private def checkBatch(root: String, p: Seq[org.apache.spark.sql.Row],
      i: Int, seen: Seq[(String, Long)],
      oneShot: Map[Long, (String, String, Long, Long)]): Unit = {
    val q = qppm(seen)
    val got = spark.read.parquet(s"$root/manifest")
      .select(ManifestCols.map(col): _*)
      .filter(col("doc_id").isin(p.map(_.getLong(0)): _*))
      .collect()
    assert(got.length == p.length, s"batch $i must commit one row per doc")
    got.foreach { r =>
      val id = r.getLong(0)
      val (src, split, admitted, weight) = oneShot(id)
      assert(r.getString(1) == src && r.getString(2) == split,
        s"doc $id: source/split must match the one-shot manifest")
      assert(r.getLong(4) == admitted && r.getLong(5) == weight,
        s"doc $id: contiguous-range batches must keep one-shot verdicts")
      val nChars = p.find(_.getLong(0) == id).get.getLong(3)
      assert(r.getLong(3) == q((src, nChars)),
        s"doc $id: q_ppm must reflect the state AS OF batch $i")
    }
  }

  test("multi-batch through FRESH instances: as-of quantiles, one-shot verdicts, torn-state replay") {
    val root = freshRoot("multi")
    val parts = batchDocs.grouped((batchDocs.length + 2) / 3).toSeq
    assert(parts.size == 3)
    val history = T(spark, sfDir, "documents")
      .filter(col("doc_id") % 5 =!= 0)
      .select("source", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val oneShot = Pipeline.x126IncrementalManifest.fn(spark, sfDir)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getString(2), r.getLong(4), r.getLong(5)))).toMap

    var seen = history.toSeq
    parts.zipWithIndex.foreach { case (p, i) =>
      if (i == 2) {
        // simulate a crash mid-epoch BEFORE this attempt: torn
        // (uncommitted) state dirs for this very epoch must be ignored
        // and overwritten, never read or double-merged
        for (name <- Seq("cells", "sets", "bands")) {
          val d = new java.io.File(s"$root/$name/e=$i")
          assert(d.mkdirs())
          java.nio.file.Files.write(d.toPath.resolve("part-junk.parquet"),
            Array[Byte](9, 9, 9))
        }
        // a torn manifest dir (no _SUCCESS) is not a commit: the epoch
        // must still apply and overwrite it
        val m = new java.io.File(s"$root/manifest/epoch=$i")
        assert(m.mkdirs())
        java.nio.file.Files.write(m.toPath.resolve("part-junk.parquet"),
          Array[Byte](9, 9, 9))
      }
      // a FRESH maintainer per batch: every epoch is also a restart
      maintainer(root).apply(df(p.toSeq), i.toLong)
      seen = seen ++ p.map(r => (r.getString(2), r.getLong(3)))
      checkBatch(root, p.toSeq, i, seen, oneShot)
    }
    // exactly one cell snapshot survives the pruning
    val cellDirs = new java.io.File(s"$root/cells").listFiles
      .filter(f => f.isDirectory && f.getName.startsWith("e=")).map(_.getName)
    assert(cellDirs.toSeq == Seq("e=2"), cellDirs.toSeq.toString)
  }
}
