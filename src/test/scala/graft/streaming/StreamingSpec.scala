package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.proto._
import graft.conv.GraftConfig
import graft.SparkSpec

/** Streaming specs over MemoryStream: proto-payload decode, watermarked
  * tumbling windows, session windows, and the foreachBatch proto sink. */
class StreamingSpec extends SparkSpec {

  private val reg = Schemas.registry
  private val md = Schemas.msg("MyProto")

  test("streaming proto payload decode + windowless aggregation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Array[Byte]]
    val msgs = (1 to 10).map(i => DynamicMessage(md, Map(1 -> s"u${i % 2}", 2 -> i)))
    stream.addData(msgs.map(m => ProtoWire.encode(m, reg)))

    val decoded = graft.Protarrow.fromProtoBinary(stream.toDS(), md, GraftConfig(), reg)
    val agg = decoded.groupBy("name").agg(sum("id").as("total"))
    val q = agg.writeStream.format("memory").queryName("proto_agg")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val out = spark.table("proto_agg").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(out === Map("u0" -> 30L, "u1" -> 25L))
    } finally q.stop()

    // timestamps the hybrid calendar handles specially (year 1, the
    // 1582-10-05..14 cutover gap) stay exact through the decode; compared
    // as epoch micros, so no java.sql.Timestamp sits in between
    val exMd = Schemas.msg("ExampleMessage")
    val tsField = exMd.byName("timestamp_value").number
    val instants = Seq("0001-01-01T00:00:00Z", "1582-10-07T12:00:00.123456Z")
      .map(java.time.Instant.parse)
    val tsStream = MemoryStream[Array[Byte]]
    tsStream.addData(instants.map(i => ProtoWire.encode(DynamicMessage(exMd, Map(
      tsField -> DynamicMessage(WellKnown.timestamp,
        Map(1 -> i.getEpochSecond, 2 -> i.getNano)))), reg)))
    val tq = graft.Protarrow.fromProtoBinary(tsStream.toDS(), exMd, GraftConfig(), reg)
      .select(unix_micros(col("timestamp_value")))
      .writeStream.format("memory").queryName("proto_ts").start()
    try {
      tq.processAllAvailable()
      assert(spark.table("proto_ts").collect().map(_.getLong(0)).toSet ===
        instants.map(i => i.getEpochSecond * 1000000L + i.getNano / 1000).toSet)
    } finally tq.stop()
  }

  test("watermarked tumbling windows over an event stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Timestamp, String, Double)]
    val base = Timestamp.valueOf("2024-01-01 00:10:00").getTime
    stream.addData((0 until 8).map(i =>
      (new Timestamp(base + i * 20 * 60 * 1000L), s"k${i % 2}", i.toDouble)))

    val events = stream.toDS().toDF("ts", "key", "value")
    val q = StreamOps.windowedCounts(events, "ts", "key")
      .writeStream.format("memory").queryName("win_counts")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("win_counts")
        .select(col("window.start"), col("key"), col("n")).collect()
      assert(rows.nonEmpty)
      // 8 events at 20-min spacing from 00:10 → hours 00,01,02 covered
      val totalN = rows.map(_.getLong(2)).sum
      assert(totalN === 8L)
    } finally q.stop()
  }

  test("sliding windows: streamed counts equal the batch explode+aggregate form") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Timestamp, String, Double)]
    val base = Timestamp.valueOf("2024-01-01 00:10:00").getTime
    val data = (0 until 12).map(i =>
      (new Timestamp(base + i * 20 * 60 * 1000L), s"k${i % 2}", i.toDouble))
    stream.addData(data)

    val events = stream.toDS().toDF("ts", "key", "value")
    val q = StreamOps.slidingCounts(events, "ts", "key")
      .writeStream.format("memory").queryName("slide_counts")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("slide_counts")
        .select(col("window.start").cast("long"), col("key"), col("n")).collect()
        .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
      // batch q71 shape on the same rows: slot = floor(epochSec/900),
      // window w covers slots w..w+3 → event in windows slot-3..slot
      val slide = 900L
      val batch = data
        .flatMap { case (ts, k, _) =>
          val slot = ts.getTime / 1000 / slide
          (0L until 4L).map(off => ((slot - off) * slide, k))
        }
        .groupBy(identity).map { case (wk, g) => wk -> g.size.toLong }
      assert(streamed === batch,
        "streaming window(ts, 1h, 15m) must partition events exactly like the batch explode")
      // every event appears in exactly 4 windows
      assert(streamed.values.sum === data.length * 4L)
    } finally q.stop()
  }

  test("session windows (30-min gap)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Timestamp, String)]
    val base = Timestamp.valueOf("2024-01-01 09:00:00").getTime
    // key a: two bursts separated by 2h → 2 sessions; key b: one burst
    stream.addData(Seq(0L, 5L, 10L, 130L, 135L).map(m =>
      (new Timestamp(base + m * 60000L), "a")) ++
      Seq(1L, 2L).map(m => (new Timestamp(base + m * 60000L), "b")))

    val events = stream.toDS().toDF("ts", "key")
    val q = StreamOps.sessionCounts(events, "ts", "key")
      .writeStream.format("memory").queryName("sessions")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("sessions").select("key", "n_events").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
      assert(rows === Seq(("a", 2L), ("a", 3L), ("b", 2L)))
    } finally q.stop()
  }

  test("flatMapGroupsWithState streaming dedup: first occurrence only, across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(String, Timestamp, String)]
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def ev(h: String, m: Long, p: String) = (h, new Timestamp(base + m * 60000L), p)

    val events = stream.toDS().withWatermark("_2", "1 hour")
      .as[(String, Timestamp, String)]
    val q = StreamOps.dedupFirstSeen(events)
      .toDF("h", "ts", "payload")
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      // batch 1: h1 twice (in-batch dup), h2 once
      stream.addData(Seq(ev("h1", 0, "a"), ev("h1", 1, "a-dup"), ev("h2", 2, "b")))
      q.processAllAvailable()
      // batch 2: h1 again (cross-batch dup — state must remember), h3 new
      stream.addData(Seq(ev("h1", 3, "a-dup2"), ev("h3", 4, "c")))
      q.processAllAvailable()
      val out = spark.table("dedup_stream").collect()
        .map(r => r.getString(0) -> r.getString(2)).toMap
      assert(out === Map("h1" -> "a", "h2" -> "b", "h3" -> "c"))
    } finally q.stop()
  }

  test("built-in dropDuplicatesWithinWatermark matches the custom dedup on in-order arrivals") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(String, Timestamp, String)]
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def ev(h: String, m: Long, p: String) = (h, new Timestamp(base + m * 60000L), p)
    val events = stream.toDS().toDF("h", "ts", "payload").withWatermark("ts", "1 hour")
    val q = StreamOps.dedupWithinWatermark(events, "h")
      .writeStream.format("memory").queryName("builtin_dedup")
      .outputMode("append").start()
    try {
      // same fixture as the flatMapGroupsWithState test: in-batch dup,
      // then a cross-batch dup the built-in's state must remember
      stream.addData(Seq(ev("h1", 0, "a"), ev("h1", 1, "a-dup"), ev("h2", 2, "b")))
      q.processAllAvailable()
      stream.addData(Seq(ev("h1", 3, "a-dup2"), ev("h3", 4, "c")))
      q.processAllAvailable()
      val out = spark.table("builtin_dedup").collect()
        .map(r => r.getString(0) -> r.getString(2)).toMap
      assert(out === Map("h1" -> "a", "h2" -> "b", "h3" -> "c"),
        "first arrival per key, duplicates suppressed across batches")
    } finally q.stop()
  }

  test("MinHashAgg merges correctly across micro-batches (streaming aggregation)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the same (doc, shingle-hash) rows split across two micro-batches must
    // aggregate to the signature of the union — elementwise min is the
    // mergeable form d32's batch expression pipeline computes in one pass
    val stream = MemoryStream[(Long, Long)]
    val batch1 = Seq((1L, 100L), (1L, 907L), (2L, 44L))
    val batch2 = Seq((1L, 3L), (2L, 501L), (2L, 9L))
    val mh = graft.functions.MinHashAgg.udafOf(12)
    val q = stream.toDS().toDF("doc_id", "h")
      .groupBy("doc_id").agg(mh(col("h")).as("sig"))
      .writeStream.format("memory").queryName("mh_stream")
      .outputMode("complete").start()
    try {
      stream.addData(batch1)
      q.processAllAvailable()
      stream.addData(batch2)
      q.processAllAvailable()
      val streamed = spark.table("mh_stream").collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val batch = (batch1 ++ batch2).toDF("doc_id", "h")
        .groupBy("doc_id").agg(mh(col("h")).as("sig")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(streamed === batch)
    } finally q.stop()
  }

  test("end-to-end proto Kafka shape: wire bytes → decode → watermark window → proto sink") {
    // the reference's production pipeline (docs/faq.md:20-25): micro-batch
    // wire-format ExampleMessage payloads in, windowed aggregates re-encoded
    // as wire-format protos out — bytes-in == bytes-out modulo windowing
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val exMd = Schemas.msg("ExampleMessage")
    def fno(n: String) = exMd.fields.find(_.name == n).get.number
    val (fTs, fKey, fVal) = (fno("timestamp_value"), fno("string_value"), fno("int64_value"))
    val base = java.time.Instant.parse("2024-03-01T10:00:00Z").getEpochSecond

    // events across hours 10 and 11 for keys u0/u1 (int64 payload so the
    // windowed sum is exact under any aggregation order)
    val events = (0 until 12).map { i =>
      (base + i * 600L, s"u${i % 2}", (i + 1).toLong)
    }
    def wireOf(sec: Long, key: String, v: Long): Array[Byte] =
      ProtoWire.encode(DynamicMessage(exMd, Map(
        fTs -> DynamicMessage(WellKnown.timestamp, Map(1 -> sec, 2 -> 0)),
        fKey -> key, fVal -> v)), Schemas.registry)

    val aggMd = PMessageDesc("graft.WindowCount", Seq(
      PField("ws", 1, PType.PMessage(WellKnown.TimestampName)),
      PField("key", 2, PType.PString),
      PField("n", 3, PType.PInt64),
      PField("sum_value", 4, PType.PInt64)))
    val collected = scala.collection.mutable.Buffer[(Long, String, Long, Long)]()

    val stream = MemoryStream[Array[Byte]]
    val decoded = graft.Protarrow.fromProtoBinary(stream.toDS(), exMd, GraftConfig(), reg)
      .select(col("timestamp_value").as("ts"), col("string_value").as("key"),
        col("int64_value").as("value"))
    val windowed = StreamOps.windowedCounts(decoded, "ts", "key")
      .select(col("window.start").as("ws"), col("key"), col("n"),
        col("sum_value").cast("long").as("sum_value"))
    val q = StreamOps.protoSink(windowed, aggMd, GraftConfig(), reg) { ds =>
      collected ++= ds.collect().map { b =>
        val m = ProtoWire.decode(b, aggMd, reg)
        val ws = m.get(1).get.asInstanceOf[DynamicMessage]
        (ws.get(1).map(_.asInstanceOf[Long]).getOrElse(0L),
          m.get(2).map(_.asInstanceOf[String]).getOrElse(""),
          m.get(3).map(_.asInstanceOf[Long]).getOrElse(0L),
          m.get(4).map(_.asInstanceOf[Long]).getOrElse(0L))
      }
    }.outputMode("append").start()
    try {
      stream.addData(events.map { case (s, k, v) => wireOf(s, k, v) })
      q.processAllAvailable()
      // two flush cycles push the watermark a day past hours 10-11 so their
      // windows finalize and emit (append mode emits only closed windows)
      stream.addData(Seq(wireOf(base + 86400L, "flush", 0L)))
      q.processAllAvailable()
      stream.addData(Seq(wireOf(base + 90000L, "flush", 0L)))
      q.processAllAvailable()

      val expected = events
        .groupBy { case (s, k, _) => (s / 3600 * 3600, k) }
        .map { case ((ws, k), es) =>
          (ws, k, es.size.toLong, es.map(_._3).sum) }.toSet
      assert(collected.toSet === expected,
        "windowed aggregates decoded from the sink's wire bytes must equal " +
          "the plain-Scala aggregation of the input messages")
    } finally q.stop()
  }

  test("streaming MinHash-LSH near-dup matches the batch d28 pair set cross-batch") {
    // the same corpus fed as two micro-batches must yield exactly the
    // batch tier's verified pairs (same kernel, same permutations, same
    // bands, same Jaccard arithmetic — bit-equal doubles). At sf0.001 no
    // shingle is hot (DedupSpec proves capped == uncapped), so the batch
    // cap is a no-op and the two tiers are value-comparable.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.operators.T(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val (half1, half2) = docs.splitAt(docs.length / 2)
    val ts = Timestamp.valueOf("2024-01-01 00:00:00")

    val stream = MemoryStream[(Long, Timestamp, String)]
    val pairs = StreamOps.nearDupPairs(stream.toDS())
    val q = pairs.toDF("a_id", "b_id", "jaccard")
      .writeStream.format("memory").queryName("neardup_stream")
      .outputMode("append").start()
    try {
      stream.addData(half1.map { case (id, t) => (id, ts, t) })
      q.processAllAvailable()
      stream.addData(half2.map { case (id, t) => (id, ts, t) })
      q.processAllAvailable()
      val streamed = spark.table("neardup_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val batch = graft.operators.Dedup.d28MinhashLsh.fn(spark, sfDir).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(5)).toMap
      assert(batch.nonEmpty, "sf0.001 must contain near-dup pairs")
      assert(streamed.keySet === batch.keySet,
        "streaming pairs must equal the batch tier's verified pairs")
      streamed.foreach { case (p, j) =>
        assert(j == batch(p), s"$p jaccard must be bit-equal") // == not ≈
      }
    } finally q.stop()
  }

  test("streaming per-source quota admits min(arrived, quota) across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // batch 1: srcA×4, srcB×1; batch 2: srcA×3, srcB×3 — with quota 5,
    // srcA admits 4 then 1 more, srcB admits 1 then 3 (under quota)
    val b1 = (1L to 4L).map(i => ("srcA", i, s"a$i")) :+ (("srcB", 100L, "b100"))
    val b2 = (5L to 7L).map(i => ("srcA", i, s"a$i")) ++
      (101L to 103L).map(i => ("srcB", i, s"b$i"))
    val stream = MemoryStream[(String, Long, String)]
    val q = StreamOps.sourceQuota(stream.toDS(), quota = 5)
      .toDF("source", "doc_id", "text")
      .writeStream.format("memory").queryName("quota_stream")
      .outputMode("append").start()
    try {
      stream.addData(b1)
      q.processAllAvailable()
      val after1 = spark.table("quota_stream").collect()
        .groupBy(_.getString(0)).view.mapValues(_.length).toMap
      assert(after1 == Map("srcA" -> 4, "srcB" -> 1))
      stream.addData(b2)
      q.processAllAvailable()
      val rows = spark.table("quota_stream").collect()
      val after2 = rows.groupBy(_.getString(0)).view.mapValues(_.length).toMap
      assert(after2 == Map("srcA" -> 5, "srcB" -> 4),
        "srcA capped at quota, srcB admits everything while under it")
      // admissions are monotone: batch-1 admissions all survive
      val admittedA = rows.filter(_.getString(0) == "srcA").map(_.getLong(1)).toSet
      assert((1L to 4L).toSet.subsetOf(admittedA))
    } finally q.stop()
  }

  test("streaming contamination filter agrees with batch x92 per document") {
    // the stateless ingest gate must keep exactly the docs batch x92
    // scores at or under the threshold (shared kernel → same shingles,
    // same fractions); threshold is the observed median so both the kept
    // and dropped sets are provably non-empty
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val (train, evalSet) =
      graft.operators.SplitFixture.trainAndEvalShingles(spark, sfDir)
    val x92 = graft.operators.Pipeline.x92Decontamination.fn(spark, sfDir)
      .collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(3)) None else Some(r.getDouble(3))))
      .toMap
    val scores = x92.values.flatten.toSeq.sorted
    val thr = scores(scores.length / 2)
    val expectedKept = train.map(_._1)
      .filter(id => x92(id).forall(_ <= thr)).toSet

    val stream = MemoryStream[(Long, String)]
    val kept = StreamOps.contaminationFilter(stream.toDS(), evalSet, thr)
    val q = kept.toDF("doc_id", "text")
      .writeStream.format("memory").queryName("decon_stream")
      .outputMode("append").start()
    try {
      val (h1, h2) = train.splitAt(train.length / 2)
      stream.addData(h1.toSeq)
      q.processAllAvailable()
      stream.addData(h2.toSeq)
      q.processAllAvailable()
      val streamed = spark.table("decon_stream").collect()
        .map(_.getLong(0)).toSet
      assert(streamed == expectedKept)
      assert(streamed.nonEmpty && streamed.size < train.length,
        "positive control: threshold must both keep and drop")
    } finally q.stop()
  }

  test("streaming near-dup detection horizon: pairs within stateTimeout, pruned beyond") {
    // the pruning-horizon contract: an entry must survive watermark
    // advances long enough to pair with on-time docs within stateTimeout
    // of it (pruning at the raw watermark missed those), and must be gone
    // once the watermark passes its event time by stateTimeout
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = Timestamp.valueOf("2024-01-01 10:00:00").getTime
    def at(m: Long) = new Timestamp(base + m * 60000L)
    val docText = (1 to 30).map(i => s"w$i").mkString(" ")
    val nearDup = ("w0" +: (2 to 30).map(i => s"w$i")).mkString(" ") // 1 word differs
    def noise(tag: String) = (1 to 30).map(i => s"$tag$i").mkString(" ")

    val stream = MemoryStream[(Long, Timestamp, String)]
    val q = StreamOps.nearDupPairs(stream.toDS())
      .toDF("a_id", "b_id", "jaccard")
      .writeStream.format("memory").queryName("neardup_horizon")
      .outputMode("append").start()
    try {
      stream.addData(Seq((1L, at(0), docText)))            // A @ 10:00
      q.processAllAvailable()
      stream.addData(Seq((90L, at(90), noise("x"))))       // watermark → ~10:30
      q.processAllAvailable()
      stream.addData(Seq((2L, at(60), nearDup)))           // B @ 11:00, on time
      q.processAllAvailable()
      val afterB = spark.table("neardup_horizon").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(afterB === Set((1L, 2L)),
        "A must survive a watermark advance within the horizon and pair with B")

      stream.addData(Seq((91L, at(210), noise("y"))))      // watermark → ~12:30 > A+2h
      q.processAllAvailable()
      // C and D @ 14:00 are dups of A's text — D is the positive control
      // proving the pairing path ran in the batch where A's absence is
      // asserted (without it the negative assert could pass vacuously)
      stream.addData(Seq((3L, at(240), docText), (4L, at(241), docText)))
      q.processAllAvailable()
      val afterC = spark.table("neardup_horizon").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(afterC.contains((3L, 4L)),
        "the batch's own pairs must still emit (positive control)")
      assert(!afterC.contains((1L, 3L)) && !afterC.contains((1L, 4L)),
        "A must be pruned once the watermark passes its event time by stateTimeout")
    } finally q.stop()
  }

  test("streaming corpus curation: token_quality gate + first-seen content dedup") {
    // the ingestion-time front-end of x90: quality-filter documents as they
    // arrive, then drop exact re-occurrences by content hash — what a
    // training-data pipeline runs before the corpus store. Composition of
    // the native token_quality predicate and dedupFirstSeen, cross-batch.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def doc(m: Long, text: String) = (new Timestamp(base + m * 60000L), text)
    val good1 = Array.fill(30)("w").mkString(" ")   // 30 tokens, no stops
    val good2 = (1 to 40).map(i => s"t$i").mkString(" ")
    val short = "too short"                          // fails min tokens
    val stoppy = (Array.fill(10)("the") ++ Array.fill(20)("x")).mkString(" ") // ratio 1/3

    val stream = MemoryStream[(Timestamp, String)]
    val curated = StreamOps.dedupFirstSeen(
      stream.toDS().toDF("ts", "text")
        .filter(graft.functions.TokenQuality(col("text"), 20, 120, 0.25))
        .select(md5(col("text").cast("binary")).as("h"), col("ts"), col("text"))
        .withWatermark("ts", "1 hour")
        .as[(String, Timestamp, String)])
    val q = curated.toDF("h", "ts", "text")
      .writeStream.format("memory").queryName("curated")
      .outputMode("append").start()
    try {
      stream.addData(Seq(doc(0, good1), doc(1, short), doc(2, good1), doc(3, good2)))
      q.processAllAvailable()
      // cross-batch: good1 again (dup), stoppy (quality-rejected), good2 dup
      stream.addData(Seq(doc(4, good1), doc(5, stoppy), doc(6, good2)))
      q.processAllAvailable()
      val out = spark.table("curated").collect().map(_.getString(2)).toSeq
      assert(out.sorted === Seq(good1, good2).sorted,
        "exactly one copy of each quality doc must survive; " +
          "short/stoppy rejected by the gate, re-occurrences by the dedup")
    } finally q.stop()
  }

  test("streaming chunking matches batch t32's chunk set cross-batch") {
    // stateless map-only chunking at ingest: stream the sf documents in
    // two micro-batches through chunkStream (append mode, no watermark);
    // the accumulated chunk rows must equal batch t32's exactly
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val batch = graft.operators.TextOps.t32ChunkOverlap.fn(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSet
    val docs = graft.operators.T(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val (h1, h2) = docs.splitAt(docs.length / 2)
    val stream = MemoryStream[(Long, String)]
    val chunked = StreamOps.chunkStream(stream.toDS().toDF("doc_id", "text"))
    val q = chunked.writeStream.format("memory").queryName("chunks_stream")
      .outputMode("append").start()
    try {
      stream.addData(h1.toSeq)
      q.processAllAvailable()
      stream.addData(h2.toSeq)
      q.processAllAvailable()
      val streamed = spark.table("chunks_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .toSet
      assert(streamed === batch,
        "streamed chunk set must equal the batch t32 output")
    } finally q.stop()
  }

  test("streaming cell assignment matches batch x96's cell partition cross-batch") {
    // the cross-batch extension of cluster-scoped semantic dedup: train
    // centroids batch-side at x96's data-adaptive K, then stream the same
    // embeddings in two micro-batches through assignCellsStream; the
    // complete-mode per-cell counts must equal the batch assignment's —
    // proving an ingest pipeline can keep per-cell state (candidate sets,
    // counts) keyed by exactly the cells the batch x96 pass would use
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ops = graft.operators.Similarity
    val sfEmb = graft.operators.T(spark, sfDir, "embeddings")
    val k = ops.semK(sfEmb.count())
    val res = ops.lloydRun(spark, sfDir, k)
    val batchCells = ops.assignCells(
      sfEmb.selectExpr("vec_id", "cast(embedding as array<double>) as v")
        .withColumn("nrm", graft.operators.Cosine.norm(col("v"))),
      res.assignCent)
      .groupBy("cell").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

    val vecs = sfEmb.selectExpr("vec_id", "cast(embedding as array<double>) as v")
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    val (h1, h2) = vecs.splitAt(vecs.length / 2)
    val stream = MemoryStream[(Long, Seq[Double])]
    val assigned = StreamOps.assignCellsStream(
      stream.toDS().toDF("vec_id", "v"), res.assignCent)
    val q = assigned.groupBy("cell").count()
      .writeStream.format("memory").queryName("cells_stream")
      .outputMode("complete").start()
    try {
      stream.addData(h1.toSeq)
      q.processAllAvailable()
      stream.addData(h2.toSeq)
      q.processAllAvailable()
      val streamed = spark.table("cells_stream").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(streamed === batchCells,
        "streamed cell partition must equal the batch x96 assignment")
    } finally q.stop()
  }

  test("stream-stream attribution join matches the batch theta join") {
    // q65's streaming twin: the sf events (ns ts truncated to µs — the
    // stream carries TimestampType) arrive in two event-time-ordered
    // micro-batches; the accumulated per-anchor counts and 1e-6-quantized
    // value sums must equal a batch theta join over the identical rows.
    // The split point exercises cross-batch matching: anchors from batch
    // 1 must still be in state when their batch-2 points arrive (the
    // 30-min watermark delay exceeds the 10-min window, so nothing
    // needed is evicted early)
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ev = graft.operators.T(spark, sfDir, "events")
      .selectExpr("event_id", "timestamp_micros(ts div 1000) as ts",
        "event_type", "value")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getString(2), r.getDouble(3)))
      .sortBy(_._2.getTime)
    val evDf = ev.toSeq.toDF("event_id", "ts", "event_type", "value")
    val a = evDf.filter($"event_type" === "purchase")
      .select($"event_id".as("a_id"), $"ts".as("a_ts"))
    val p = evDf.select($"event_id".as("p_id"), $"ts".as("p_ts"), $"value")
    def agg(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long)] = df
      .groupBy("a_id")
      .agg(count(lit(1)).as("n"),
        sum(floor($"value" * 1e6).cast("long")).as("sv"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val expected = agg(a.join(p,
      $"p_ts" >= $"a_ts" &&
        $"p_ts" <= $"a_ts" + expr("interval 600 seconds") &&
        $"p_id" =!= $"a_id").select("a_id", "p_id", "value"))

    val stream = MemoryStream[(Long, Timestamp, String, Double)]
    val joined = StreamOps.attributionJoin(
      stream.toDS().toDF("event_id", "ts", "event_type", "value"))
    val q = joined.writeStream.format("memory").queryName("attrib")
      .outputMode("append").start()
    try {
      val (h1, h2) = ev.splitAt(ev.length / 2)
      stream.addData(h1.toSeq)
      q.processAllAvailable()
      stream.addData(h2.toSeq)
      q.processAllAvailable()
      val streamed = agg(spark.table("attrib"))
      assert(streamed === expected)
      assert(expected.size > 10, "fixture must populate multiple windows")
    } finally q.stop()
  }

  test("foreachBatch proto sink re-encodes each micro-batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(String, Int)]
    stream.addData(Seq(("x", 1), ("y", 2)))
    val collected = scala.collection.mutable.Buffer[DynamicMessage]()
    val q = StreamOps.protoSink(
      stream.toDS().toDF("name", "id"), md, GraftConfig(), reg) { ds =>
      collected ++= ds.collect().map(b => ProtoWire.decode(b, md, reg))
    }.start()
    try {
      q.processAllAvailable()
      assert(collected.toSet === Set(
        DynamicMessage(md, Map(1 -> "x", 2 -> 1)),
        DynamicMessage(md, Map(1 -> "y", 2 -> 2))))
    } finally q.stop()
  }

  test("streaming ingest admission equals batch d37 across micro-batches") {
    // the foreachBatch twin runs the SAME incrementalAdmit kernel per
    // micro-batch against the accumulated index; with arrival in doc_id
    // order (arrival order IS admission order — the batch tier models
    // arrival by doc_id) the union of per-batch verdicts must be
    // row-identical to one batch d37 run
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.Row
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val batchExpected = graft.operators.Dedup.d37IncrementalDedup
      .fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) null else r.getLong(3))).toSet
    val (hotPath, setsT, bandsT) =
      graft.operators.Dedup.d37CorpusIndex(spark, sfDir)
    val docs = graft.operators.T(spark, sfDir, "documents")
      .filter(col("doc_id") % 5 === 0)
      .select("doc_id", "text").as[(Long, String)]
      .collect().sortBy(_._1)
    val verdicts = scala.collection.mutable.ArrayBuffer.empty[Row]
    val handler = new StreamOps.IngestAdmission(
      spark.table(setsT), spark.table(bandsT),
      spark.read.parquet(hotPath),
      v => verdicts ++= v.collect())
    val stream = MemoryStream[(Long, String)]
    val q = stream.toDS().toDF("doc_id", "text")
      .writeStream.foreachBatch(handler).start()
    try {
      val (h1, h2) = docs.splitAt(docs.length / 2)
      stream.addData(h1.toSeq)
      q.processAllAvailable()
      stream.addData(h2.toSeq)
      q.processAllAvailable()
      val streamed = verdicts
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) null else r.getLong(3))).toSet
      assert(streamed === batchExpected)
      // positive controls: the equality must cover real rejects, and at
      // least one must straddle the micro-batch boundary (an h2 doc
      // rejected against an h1 arrival or the corpus)
      assert(batchExpected.exists(_._2 == 0L), "fixture must reject")
      val h2Ids = h2.map(_._1).toSet
      assert(streamed.exists(v => h2Ids(v._1) && v._2 == 0L),
        "a second-micro-batch doc must reject against earlier state")
    } finally q.stop()
  }

  test("windowed first-event dedup: streamed rows equal the batch q73 form") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Timestamp, Long, String)]
    val base = Timestamp.valueOf("2024-01-01 00:00:30").getTime
    // (event_id, offset-sec, user, type): bursts inside one 10-min window
    // plus singletons and a next-window re-fire; second micro-batch adds a
    // duplicate into a window the first batch already opened
    val all = Seq(
      (1L, 0L, 10L, "click"), (2L, 60L, 10L, "click"), (3L, 120L, 10L, "click"),
      (4L, 700L, 10L, "click"), (5L, 30L, 10L, "view"), (6L, 45L, 20L, "click"),
      (7L, 650L, 20L, "click"), (8L, 655L, 20L, "click"), (9L, 90L, 10L, "click"))
      .map { case (id, sec, u, t) => (id, new Timestamp(base + sec * 1000L), u, t) }

    val events = stream.toDS().toDF("event_id", "ts", "user_id", "event_type")
    val q = StreamOps.windowedFirstEvent(events)
      .writeStream.format("memory").queryName("win_dedup")
      .outputMode("complete").start()
    try {
      stream.addData(all.take(8))
      q.processAllAvailable()
      stream.addData(all.drop(8)) // id 9 joins the (10, click) burst window
      q.processAllAvailable()
      val streamed = spark.table("win_dedup")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("window.start").cast("long"), col("n_dups")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
          r.getLong(4))).toSet
      // batch q73 semantics recomputed in plain Scala on the same rows
      val expected = all
        .groupBy { case (_, ts, u, t) => (u, t, ts.getTime / 1000 / 600) }
        .map { case ((u, t, w), g) =>
          val first = g.minBy { case (id, ts, _, _) => (ts.getTime, id) }
          (first._1, u, t, w * 600, g.size - 1L)
        }.toSet
      assert(streamed === expected,
        "streaming windowed min_by dedup must equal the batch row_number form")
      // the cross-batch duplicate (id 9) must have been suppressed, and its
      // window's n_dups must count it
      assert(!streamed.exists(_._1 == 9L))
      assert(streamed.exists(r => r._1 == 1L && r._5 == 3L),
        "the (10, click) first window must count 3 suppressed duplicates incl. the cross-batch one")
    } finally q.stop()
  }
  test("streaming SCD2: closed versions equal the batch q80 collapse, across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Timestamp, Long, String)]
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    // (user, offset-sec, event_id, props): user 1 changes a->b->b->c (the
    // b run collapses); user 2 never changes (one open version, nothing
    // emitted); the second micro-batch closes user 1's version opened in
    // the first AND delivers an intra-batch disorder (e6 before e5 in
    // arrival, repaired by the sort)
    val h1 = Seq((1L, 0L, 1L, "a"), (1L, 60L, 2L, "b"), (1L, 120L, 3L, "b"),
      (2L, 10L, 4L, "x"))
    val h2 = Seq((1L, 300L, 6L, "c"), (1L, 240L, 5L, "b"))
    def mk(s: Seq[(Long, Long, Long, String)]) =
      s.map { case (u, sec, id, pr) => (u, new Timestamp(base + sec * 1000L), id, pr) }
    val q = StreamOps.scd2Stream(stream.toDS())
      .toDF("user_id", "props", "valid_from", "valid_to")
      .writeStream.format("memory").queryName("scd2")
      .outputMode("append").start()
    try {
      stream.addData(mk(h1)); q.processAllAvailable()
      stream.addData(mk(h2)); q.processAllAvailable()
      val streamed = spark.table("scd2").as[(Long, String, Long, Long)]
        .collect().toSet
      // batch q80 collapse on the same rows, in plain Scala: keep first
      // row + value changes; valid_to = next change's time; open versions
      // (null valid_to) are the batch tier's job and must NOT be emitted
      val expected = mk(h1 ++ h2).groupBy(_._1).flatMap { case (u, g) =>
        val runs = g.sortBy(r => (r._2.getTime, r._3))
          .foldLeft(Vector.empty[(String, Long)]) { case (acc, (_, ts, _, pr)) =>
            if (acc.nonEmpty && acc.last._1 == pr) acc
            else acc :+ (pr, ts.getTime) }
        runs.zip(runs.drop(1)).map { case ((pr, from), (_, to)) => (u, pr, from, to) }
      }.toSet
      assert(streamed === expected)
      // positive controls: the b-run collapse and the cross-batch close
      assert(expected === Set(
        (1L, "a", base, base + 60000L),
        (1L, "b", base + 60000L, base + 300000L)))
    } finally q.stop()
  }
  test("streaming gap detection: emitted gaps equal the batch q79 lag form") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Timestamp, Long)]
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    // user 1: events at 0h, 1h (no gap), 4h (3h gap); the second batch
    // adds 9h — a gap that straddles the micro-batch boundary (prev = 4h
    // carried in state). user 2: a single event, nothing to emit.
    val h1 = Seq((1L, 0L, 1L), (1L, 3600L, 2L), (1L, 14400L, 3L), (2L, 60L, 4L))
    val h2 = Seq((1L, 32400L, 5L))
    def mk(s: Seq[(Long, Long, Long)]) =
      s.map { case (u, sec, id) => (u, new Timestamp(base + sec * 1000L), id) }
    val q = StreamOps.gapStream(stream.toDS())
      .toDF("user_id", "gap_start", "gap_end", "gap_s")
      .writeStream.format("memory").queryName("gaps")
      .outputMode("append").start()
    try {
      stream.addData(mk(h1)); q.processAllAvailable()
      stream.addData(mk(h2)); q.processAllAvailable()
      val streamed = spark.table("gaps").as[(Long, Long, Long, Long)]
        .collect().toSet
      // the batch q79 lag semantics in plain Scala on the same rows
      val expected = mk(h1 ++ h2).groupBy(_._1).flatMap { case (u, g) =>
        val ts = g.sortBy(r => (r._2.getTime, r._3)).map(_._2.getTime)
        ts.zip(ts.drop(1)).collect { case (a, b) if b - a > 7200000L =>
          (u, a, b, (b - a) / 1000L) }
      }.toSet
      assert(streamed === expected)
      // positive control: the cross-batch gap (4h -> 9h) must be present
      assert(streamed.contains((1L, base + 14400000L, base + 32400000L, 18000L)))
    } finally q.stop()
  }
  test("streaming CMS: micro-batch cell merges equal the one-shot batch sketch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[String]
    val h1 = Seq("a", "b", "a", "c", "a", "b")
    val h2 = Seq("b", "d", "a", "d", "d")
    val acc = new StreamOps.CmsAccumulator(4, 8)
    val q = stream.toDS().toDF("w")
      .writeStream.foreachBatch(acc).outputMode("append").start()
    try {
      stream.addData(h1); q.processAllAvailable()
      stream.addData(h2); q.processAllAvailable()
      val streamed = acc.current.collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
      val batch = graft.operators.TextOps.cmsCells(
        (h1 ++ h2).toDF("w"), 4, 8).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed === batch,
        "accumulated cells must be bit-identical to the one-shot sketch")
      // positive control: both batches contributed (a's count spans them)
      assert(batch.nonEmpty && streamed.map(_._3).sum == batch.map(_._3).sum)
    } finally q.stop()
  }
  test("streaming SCD2 survives a stop/restart: state recovers from the checkpoint") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Timestamp, Long, String)]
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val ckpt = java.nio.file.Files.createTempDirectory("scd2_ckpt").toString
    def mk(s: Seq[(Long, Long, Long, String)]) =
      s.map { case (u, sec, id, pr) => (u, new Timestamp(base + sec * 1000L), id, pr) }
    val out = StreamOps.scd2Stream(stream.toDS())
      .toDF("user_id", "props", "valid_from", "valid_to")
    // foreachBatch sink: the memory sink cannot recover from a
    // checkpoint; foreachBatch can, and is the production shape anyway
    val closed = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long, Long)]
    val sink = (b: org.apache.spark.sql.DataFrame, _: Long) => closed.synchronized {
      closed ++= b.as[(Long, String, Long, Long)].collect(); ()
    }
    // run 1: opens user 1's "a" version, closes nothing yet
    val q1 = out.writeStream.foreachBatch(sink)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      stream.addData(mk(Seq((1L, 0L, 1L, "a")))); q1.processAllAvailable()
      assert(closed.isEmpty, "nothing closed before the restart")
    } finally q1.stop()
    // run 2: SAME checkpoint, new query — the change must close the
    // version opened BEFORE the restart, proving the flatMapGroupsWithState
    // state came back from the checkpoint, not from the JVM
    stream.addData(mk(Seq((1L, 60L, 2L, "b"))))
    val q2 = out.writeStream.foreachBatch(sink)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      q2.processAllAvailable()
      assert(closed.toSet === Set((1L, "a", base, base + 60000L)),
        "the pre-restart open version must close with the post-restart change")
    } finally q2.stop()
  }
}
