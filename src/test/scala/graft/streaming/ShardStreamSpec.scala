package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** ShardMaintainer (x117's streaming twin): continuous content-shard
  * maintenance must (1) converge to exactly the layout a one-shot batch
  * export of everything streamed would write, and (2) never touch shard
  * files outside a batch's shard footprint — the per-batch-cost-∝-delta
  * contract, pinned at the FILE level. */
class ShardStreamSpec extends SparkSpec {

  private def md5s(dir: java.io.File): Map[String, String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    walk(dir).map { f =>
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      val dg = java.security.MessageDigest.getInstance("MD5").digest(bytes)
      f.getAbsolutePath -> dg.map(b => f"$b%02x").mkString
    }.toMap
  }

  test("streaming shard maintenance: converges to the batch export; untouched files byte-identical") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().sortBy(_._1)
    assert(docs.length >= 9, "fixture too small to split into 3 batches")
    val (b1, rest) = docs.splitAt(docs.length / 3)
    val (b2, b3full) = rest.splitAt(docs.length / 3)
    // shrink batch 3 to a handful of docs so it has a SMALL shard
    // footprint and the untouched-file check is non-vacuous
    val b3 = b3full.take(3)
    val streamed = b1 ++ b2 ++ b3

    val out = java.nio.file.Files.createTempDirectory("graft_shardstream").toString
    val stream = MemoryStream[(Long, String)]
    val sink = new StreamOps.ShardMaintainer(out)
    val q = stream.toDS().toDF("doc_id", "text")
      .writeStream.foreachBatch(sink).outputMode("append").start()
    try {
      stream.addData(b1.toSeq); q.processAllAvailable()
      stream.addData(b2.toSeq); q.processAllAvailable()
      val before = md5s(new java.io.File(out))
      // shards batch 3 will touch (the same rule the sink applies)
      val touched = spark.createDataset(b3.toSeq).toDF("doc_id", "text")
        .select(expr(s"${graft.operators.H.s("text")} div ${graft.operators.Pipeline.HashShardW}").as("hshard"))
        .distinct().collect().map(_.getLong(0)).toSet
      stream.addData(b3.toSeq); q.processAllAvailable()
      val after = md5s(new java.io.File(out))

      // (2) every file in an UNtouched shard dir is byte-identical
      def shardOf(path: String): Option[Long] =
        "hshard=([0-9]+)".r.findFirstMatchIn(path).map(_.group(1).toLong)
      val untouchedBefore = before.filter { case (p, _) =>
        shardOf(p).exists(s => !touched.contains(s)) }
      assert(untouchedBefore.nonEmpty,
        "batch 3 must leave SOME shards untouched or the check is vacuous")
      for ((p, h) <- untouchedBefore)
        assert(after.get(p).contains(h),
          s"untouched shard file rewritten or removed: $p")
      assert(touched.nonEmpty)

      // (1) final layout row-equals the one-shot batch export
      val got = spark.read.parquet(out)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .collect().sorted.toSeq
      assert(got === streamed.sortBy(_._1).toSeq,
        "streamed shard layout must hold exactly the streamed documents")

      // re-delivered epoch is a no-op (at-least-once guard)
      sink.apply(spark.createDataset(b3.toSeq).toDF("doc_id", "text"), 2L)
      val replayed = md5s(new java.io.File(out))
      assert(replayed === after, "a re-delivered batchId must not rewrite anything")
    } finally q.stop()
  }

  test("restart: a FRESH maintainer over an existing layout merges, never truncates") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().sortBy(_._1)
    val (b1, rest) = docs.splitAt(docs.length / 2)
    val b2 = rest.take(3) // small footprint → untouched-file check non-vacuous
    def df(xs: Seq[(Long, String)]) =
      spark.createDataset(xs).toDF("doc_id", "text")
    val out = java.nio.file.Files.createTempDirectory("graft_shardrestart").toString

    // first life: seed batch 0, merge batch 1
    val a = new StreamOps.ShardMaintainer(out)
    a.apply(df(b1.toSeq), 0L)
    a.apply(df(b2.toSeq), 1L)
    val after1 = md5s(new java.io.File(out))
    val rows1 = spark.read.parquet(out)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().sorted.toSeq
    assert(rows1 === (b1 ++ b2).sortBy(_._1).toSeq)

    // restart #1: fresh instance, foreachBatch re-delivers the last epoch.
    // The persisted watermark must skip it — NOTHING rewritten. (Pre-fix:
    // the in-memory seeded=false flag made this path STATIC-overwrite the
    // whole layout with only batch 1's three docs.)
    val b = new StreamOps.ShardMaintainer(out)
    b.apply(df(b2.toSeq), 1L)
    assert(md5s(new java.io.File(out)) === after1,
      "a re-delivered epoch after restart must not rewrite anything")

    // restart #2: the epoch died BETWEEN the shard write and its ledger
    // commit (simulated by removing epoch 1's commit). The re-run must
    // converge: same rows, untouched shards byte-identical.
    assert(new java.io.File(out, "_epochs/e=1/_SUCCESS").delete())
    val touched = df(b2.toSeq)
      .select(expr(s"${graft.operators.H.s("text")} div ${graft.operators.Pipeline.HashShardW}")
        .as("hshard")).distinct().collect().map(_.getLong(0)).toSet
    val c = new StreamOps.ShardMaintainer(out)
    c.apply(df(b2.toSeq), 1L)
    val rows2 = spark.read.parquet(out)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().sorted.toSeq
    assert(rows2 === rows1, "replayed merge must be idempotent, not double-append")
    def shardOf(path: String): Option[Long] =
      "hshard=([0-9]+)".r.findFirstMatchIn(path).map(_.group(1).toLong)
    val untouched1 = after1.filter { case (p, _) =>
      shardOf(p).exists(s => !touched.contains(s)) }
    assert(untouched1.nonEmpty, "batch 2 must leave some shards untouched")
    val after2 = md5s(new java.io.File(out))
    for ((p, h) <- untouched1)
      assert(after2.get(p).contains(h),
        s"replayed merge rewrote an untouched shard file: $p")

    // restart #3: a NEW batch through yet another fresh instance must
    // merge into the existing layout (the truncation regression pin)
    val b3 = rest.slice(3, 6)
    val d = new StreamOps.ShardMaintainer(out)
    d.apply(df(b3.toSeq), 2L)
    val rows3 = spark.read.parquet(out)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().sorted.toSeq
    assert(rows3 === (b1 ++ b2 ++ b3).sortBy(_._1).toSeq,
      "a new batch after restart must extend the layout, not replace it")
  }

  test("a torn watermark marker degrades to replay, never wedges the stream") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().sortBy(_._1)
    val (b1, rest) = docs.splitAt(docs.length / 2)
    val b2 = rest.take(3)
    def df(xs: Seq[(Long, String)]) =
      spark.createDataset(xs).toDF("doc_id", "text")
    val out = java.nio.file.Files.createTempDirectory("graft_shardtorn").toString
    val a = new StreamOps.ShardMaintainer(out)
    a.apply(df(b1.toSeq), 0L)
    a.apply(df(b2.toSeq), 1L)
    val rows1 = spark.read.parquet(out)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().sorted.toSeq

    // a crash before the ledger commit leaves epoch 1's directory
    // without _SUCCESS, empty or holding a partial file — simulate both
    val e1 = new java.io.File(out, "_epochs/e=1")
    for (junk <- Seq(None, Some("part-junk"))) {
      e1.listFiles().foreach(f => assert(f.delete()))
      junk.foreach(n => java.nio.file.Files.write(
        new java.io.File(e1, n).toPath, Array[Byte](9, 9, 9)))
      val fresh = new StreamOps.ShardMaintainer(out)
      fresh.apply(df(b2.toSeq), 1L) // must replay idempotently, not throw
      val rows = spark.read.parquet(out)
        .select(col("doc_id"), col("text")).as[(Long, String)].collect().sorted.toSeq
      assert(rows === rows1,
        s"torn commit $junk: replay must converge to the same layout")
      // and the replay committed epoch 1
      assert(new java.io.File(e1, "_SUCCESS").exists())
    }
  }
}
