package perfbench

import java.util.concurrent.Executors
import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import graft.Protarrow
import graft.conv.{Codecs, GraftConfig, SchemaConversion}
import graft.proto.{DynamicMessage, ProtoWire, Schemas}

/** wire_roundtrip: the Kafka/lakehouse shape. A batch of full-shape
  * ExampleMessage wire payloads is cached over nproc partitions; one
  * client alternates an ingest op (`fromProtoBinary` to the noop sink)
  * with an export op (`toProtoBinary` of the cached typed frame to the
  * noop sink), one of each per pass, in a closed loop. */
final class WireRoundtrip(a: PerfMain.Args) {
  import PerfMain._

  private val batchMsgs = 2000
  // messages are generated in independently seeded chunks, so the inputs
  // do not depend on how many threads generate them
  private val chunkMsgs = 250
  private val WarmupPasses = 10
  private val md = Schemas.msg("ExampleMessage")
  private val reg = Schemas.registry
  private val cfg = GraftConfig()

  private var spark: SparkSession = _
  private var messages: Vector[DynamicMessage] = Vector.empty
  private var bytes: Vector[Array[Byte]] = Vector.empty
  private var byteCount = 0L
  private var wireDs: Dataset[Array[Byte]] = _
  private var typed: DataFrame = _

  private var attempted = 0L
  private var failedOps = 0L
  private val errors = ArrayBuffer[String]()

  /** The batch's messages and their wire bytes, generated in parallel. */
  private def generate(): (Vector[DynamicMessage], Vector[Array[Byte]]) = {
    val pool = Executors.newFixedThreadPool(nproc)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val chunks = (0 until batchMsgs / chunkMsgs).map { c =>
        Future {
          val msgs = new MsgGen(a.seed * 0x9E3779B97F4A7C15L + c)
            .batch(md, chunkMsgs)
          (msgs, msgs.map(m => ProtoWire.encode(m, reg)))
        }
      }
      val done = Await.result(Future.sequence(chunks), Duration.Inf)
      (done.flatMap(_._1).toVector, done.flatMap(_._2).toVector)
    } finally pool.shutdown()
  }

  private def release(): Unit = {
    Seq(wireDs, typed).foreach(_.unpersist(blocking = true))
    wireDs = null; typed = null
  }

  /** Session start, input generation and caching. */
  private def setup(): Double = {
    val t0 = System.nanoTime()
    spark = session()
    val (ms, bs) = generate()
    messages = ms
    bytes = bs
    byteCount = bytes.map(_.length.toLong).sum
    wireDs = spark.createDataset(spark.sparkContext.parallelize(bytes, nproc))(Encoders.BINARY).cache()
    typed = Protarrow.fromProtoBinary(wireDs, md, cfg, reg).cache()
    Seq(wireDs, typed).foreach(_.count())
    seconds(t0)
  }

  private def ingest(): Unit = noop(Protarrow.fromProtoBinary(wireDs, md, cfg, reg))

  private def export(): Unit = noop(Protarrow.toProtoBinary(typed, md, cfg, reg).toDF())

  final class Loop {
    val passS = ArrayBuffer[Double]()
    val ingestS = ArrayBuffer[Double]()
    val exportS = ArrayBuffer[Double]()
    var ingestBytes = 0L
    var exportBytes = 0L
  }

  private def timedOp(kind: String, tr: Option[Trace])(f: => Unit): Double = {
    attempted += 1
    val t0 = System.nanoTime()
    try tr.fold(f)(_.span(s"op.$kind")(f)) catch { case NonFatal(e) =>
      failedOps += 1
      if (errors.size < 5) errors += s"$kind: ${e.getClass.getSimpleName}: ${e.getMessage}"
    }
    seconds(t0)
  }

  /** One pass: an ingest op, then an export op. */
  private def pass(l: Loop, tr: Option[Trace]): Unit = {
    val p0 = System.nanoTime()
    l.ingestS += timedOp("ingest", tr)(ingest())
    l.ingestBytes += byteCount
    l.exportS += timedOp("export", tr)(export())
    l.exportBytes += byteCount
    l.passS += seconds(p0)
  }

  /** Closed loop: whole passes until `secs` have elapsed. */
  private def loop(secs: Double): Loop = {
    val l = new Loop
    val deadline = System.nanoTime() + (secs * 1e9).toLong
    while (l.passS.isEmpty || System.nanoTime() < deadline) pass(l, None)
    l
  }

  /** Untraced and traced passes, alternating until `secs` have elapsed, so
    * that both see the same warm-up state and host conditions. */
  private def pairedLoop(secs: Double, tr: Trace): (Loop, Loop) = {
    val (u, t) = (new Loop, new Loop)
    val deadline = System.nanoTime() + (secs * 1e9).toLong
    while (t.passS.isEmpty || System.nanoTime() < deadline) {
      pass(u, None)
      tr.attach()
      tr.span("run.traced_pass")(pass(t, Some(tr)))
      tr.detach()
    }
    (u, t)
  }

  /** Output check, outside every timed region: the exported bytes of the
    * cached typed frame (itself built by the ingest path) decode to the
    * generated messages, in order. */
  private def check(): Boolean = try {
    val back = Protarrow.toProtoBinary(typed, md, cfg, reg).collect()
    back.length == batchMsgs &&
      back.iterator.map(b => ProtoWire.decode(b, md, reg)).sameElements(messages)
  } catch { case NonFatal(e) =>
    errors += s"check: ${e.getClass.getSimpleName}: ${e.getMessage}"; false
  }

  /** Input self-check: the same seed must give the same bytes. */
  private def deterministic(): Boolean = {
    val again = generate()._2
    again.length == bytes.length && again.indices.forall(j => java.util.Arrays.equals(again(j), bytes(j)))
  }

  private def loopMetrics(l: Loop): Map[String, Any] = Map(
    "mix_s" -> median(l.passS.toSeq),
    "passes" -> l.passS.size,
    "pass_s" -> l.passS.toSeq,
    "ingest_s" -> l.ingestS.toSeq,
    "export_s" -> l.exportS.toSeq,
    "ingest_mb_s" -> l.ingestBytes / 1e6 / l.ingestS.sum,
    "export_mb_s" -> l.exportBytes / 1e6 / l.exportS.sum,
    "ingest_p50_s" -> median(l.ingestS.toSeq),
    "export_p50_s" -> median(l.exportS.toSeq),
    "ingest_n" -> l.ingestS.size,
    "export_n" -> l.exportS.size)

  /** Direct calls into each layer's public functions over this run's
    * messages, each call a span. */
  private def layerProbes(tr: Trace): Map[String, Any] = {
    val msgs = messages
    def probe(name: String)(f: => Unit): Double = tr.span(s"layer.$name") {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
    }
    var sink = 0L
    val compileMs = median((1 to 5).map(_ => probe("conv.compile") {
      val s = SchemaConversion.messageTypeToSchema(md, cfg, reg)
      Codecs.rowWriter(md, cfg, reg); Codecs.internalRowWriter(md, cfg, reg)
      Codecs.internalRowReader(md, s, cfg, reg); sink += s.size
    }))
    val schema = SchemaConversion.messageTypeToSchema(md, cfg, reg)
    val rowWriter = Codecs.rowWriter(md, cfg, reg)
    val internalWriter = Codecs.internalRowWriter(md, cfg, reg)
    val internalReader = Codecs.internalRowReader(md, schema, cfg, reg)
    val rows = msgs.map(internalWriter)
    val decodeMs = probe("proto.wire.decode") { bytes.foreach(b => sink += ProtoWire.decode(b, md, reg).values.size) }
    val encodeMs = probe("proto.wire.encode") { msgs.foreach(m => sink += ProtoWire.encode(m, reg).length) }
    val rowWriterMs = probe("conv.row_writer") { msgs.foreach(m => sink += rowWriter(m).length) }
    val internalWriterMs = probe("conv.internal_writer") { msgs.foreach(m => sink += internalWriter(m).numFields) }
    val internalReaderMs = probe("conv.internal_reader") { rows.foreach(r => sink += internalReader(r).values.size) }
    // the driver-side facade pair over the batch: messages → LocalRelation
    // frame (GraftBridge.localDataFrame) and back through executeCollect
    val toDfMs = probe("facade.messages_to_dataframe") {
      noop(Protarrow.messagesToDataFrame(spark, msgs, md, cfg, reg))
    }
    val frame = Protarrow.messagesToDataFrame(spark, msgs, md, cfg, reg).cache()
    frame.count()
    var back: Seq[DynamicMessage] = Nil
    val fromDfMs = probe("facade.dataframe_to_messages") {
      back = Protarrow.dataFrameToMessages(frame, md, cfg, reg)
    }
    frame.unpersist(blocking = true)
    attempted += 1
    if (back != msgs) {
      failedOps += 1
      errors += "dataFrameToMessages(messagesToDataFrame(batch)) != batch"
    }
    if (sink == 42L) println("")
    Map(
      "proto.wire.decode_ms" -> decodeMs,
      "proto.wire.decode_mb_s" -> byteCount / 1e3 / decodeMs,
      "proto.wire.encode_ms" -> encodeMs,
      "proto.wire.encode_mb_s" -> byteCount / 1e3 / encodeMs,
      "conv.row_writer_ms" -> rowWriterMs,
      "conv.internal_writer_ms" -> internalWriterMs,
      "conv.internal_reader_ms" -> internalReaderMs,
      "conv.compile_ms" -> compileMs,
      "conv.msgs" -> msgs.size.toLong,
      "conv.wire_bytes" -> byteCount,
      "facade.messages_to_dataframe_ms" -> toDfMs,
      "facade.dataframe_to_messages_ms" -> fromDfMs,
      "facade.msgs" -> msgs.size.toLong)
  }

  def run(): Map[String, Any] = {
    val setups = (1 to a.setupReps).map { r =>
      if (r > 1) { release(); spark.stop() }
      setup()
    }
    // untimed warm-up: pass times keep falling for about 10 passes while
    // the JIT compiles the codec paths
    (1 to WarmupPasses).foreach { _ => ingest(); export() }
    val sameBytes = deterministic()
    if (!sameBytes) errors += "generator self-check: same seed gave different bytes"

    var layer: Map[String, Any] = Map.empty
    val untraced = if (!a.trace) loop(a.seconds) else {
      val tr = new Trace(spark)
      val (u, t) = pairedLoop(2 * a.seconds, tr)
      val cs = tr.counters()
      val probes = layerProbes(tr)
      val spans = tr.allSpans()
      val self = tr.selfMs(spans)
      tr.writeSpans(spansPath(a), spans)
      val overhead = median(t.passS.toSeq) - median(u.passS.toSeq)
      val um = loopMetrics(u)
      layer = probes ++ sparkMetrics(cs, t.passS.sum * 1e3) ++
        Seq("ingest_mb_s", "ingest_p50_s", "export_mb_s", "export_p50_s").map(k => k -> um(k)) ++
        Map(
          "driver.op_self_ms" -> (self.getOrElse("op.ingest", 0.0) + self.getOrElse("op.export", 0.0)),
          "trace.overhead_s" -> overhead,
          "trace.overhead_frac" -> overhead / median(u.passS.toSeq))
      u
    }
    val outputOk = check()
    val input = Map(
      "msgs" -> batchMsgs,
      "mean_msg_bytes" -> byteCount.toDouble / batchMsgs,
      "batch_bytes" -> byteCount,
      "deterministic" -> sameBytes)
    // measured after the harness drops its own inputs (the cached frames,
    // the messages and their bytes): what is left is the session's state
    release()
    messages = Vector.empty
    bytes = Vector.empty
    val heapMb = retainedHeapMb()
    // a failed check fails every op of the untraced loop
    val failed = failedOps + (if (outputOk) 0L else 2L * untraced.passS.size)
    Map(
      "workload" -> a.workload,
      "attempted" -> attempted,
      "failed" -> math.min(failed, attempted),
      "correct" -> (failed == 0 && sameBytes),
      "errors" -> errors.toSeq,
      "setup_s" -> median(setups),
      "setup_runs_s" -> setups,
      "mix_s" -> median(untraced.passS.toSeq),
      "retained_heap_mb" -> heapMb,
      "input" -> input,
      "untraced" -> loopMetrics(untraced),
      "layer" -> layer,
      "provenance" -> provenance(spark, a))
  }
}
