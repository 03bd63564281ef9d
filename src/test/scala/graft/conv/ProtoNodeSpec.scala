package graft.conv

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicReference
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Encoders, GraftBridge, classic}
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, length, udf}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalacheck.Gen
import graft.proto._
import graft.{Protarrow, SparkSpec}

/** The ingest and export plan nodes ([[ProtoNodes]]): what EXPLAIN shows,
  * what their SQLMetrics count, the decode on a stream, the reused output
  * row, which column a multi-column source decodes, and the session state
  * the nodes leave. */
class ProtoNodeSpec extends SparkSpec {

  private val reg = Schemas.registry
  private val md = Schemas.msg("ExampleMessage")
  private val C = IngestMode.CorruptColumn
  private val cfg = GraftConfig()

  private lazy val msgs: Vector[DynamicMessage] =
    TestGen.sample(Gen.listOfN(12, TestGen.genMessage(md)), 41L).toVector
  /** `msgs` as the rows of the DynamicMessage codec give them back. */
  private lazy val expected: Vector[DynamicMessage] = Protarrow.dataFrameToMessages(
    Protarrow.messagesToDataFrame(spark, msgs, md, cfg, reg), md, cfg, reg).toVector
  private def wire(ms: Seq[DynamicMessage]) =
    spark.createDataset(ms.map(ProtoWire.encode(_, reg)))(Encoders.BINARY)

  /** Proto-JSON lines of random messages, each followed by a truncated
    * copy and a copy with a key that names no field. */
  private lazy val jsonLines: Vector[String] = msgs.flatMap { m =>
    val l = ProtoJson.toJson(m, reg)
    Seq(l, l.take(l.length / 2), "{\"nope\": 1" + (if (l == "{}") "}" else ", " + l.drop(1)))
  }
  private def jsonl(lines: Seq[String]): String = {
    val f = Files.createTempFile("graft_nodes", ".jsonl")
    Files.write(f, lines.asJava)
    f.toString
  }

  private def explain(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  /** Every node of an executed plan, through adaptive plans and stages. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p.flatMap {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case other => Seq(other)
  }

  /** Runs `action` and returns its result with the executed plan a
    * QueryExecutionListener saw. */
  private def executed[T](action: => T): (T, SparkPlan) = {
    val seen = new AtomicReference[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.set(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = action
      GraftBridge.awaitListenerBus(spark)
      (out, seen.get())
    } finally spark.listenerManager.unregister(listener)
  }

  private def decodeMetrics(p: SparkPlan): Map[String, Long] =
    nodes(p).collectFirst { case d: ProtoDecodeExec => d.metrics.map { case (k, m) => k -> m.value } }.get

  test("EXPLAIN shows the nodes and their metrics, with no RDD scan or object hop") {
    val decoded = Protarrow.fromProtoBinary(wire(msgs), md, cfg, reg)
    val jsonScan = Protarrow.readProtoJsonl(spark, jsonl(msgs.map(ProtoJson.toJson(_, reg))), md, cfg, reg,
      IngestMode.Permissive)
    val encoded = Protarrow.toProtoBinary(decoded, md, cfg, reg)
    for ((df, shown) <- Seq(decoded -> Seq("ProtoDecode", s"wire ${md.fullName}"),
        jsonScan -> Seq("ProtoDecode", s"jsonl ${md.fullName}", "numRejected"),
        encoded.toDF() -> Seq("ProtoEncode", "ProtoDecode", "outputBytes", "encodeTime"))) {
      val plan = explain(df)
      for (s <- shown ++ Seq("numOutputRows")) assert(plan.contains(s), plan)
      for (s <- Seq("Scan ExistingRDD", "DeserializeToObject", "SerializeFromObject"))
        assert(!plan.contains(s), plan)
    }
    assert(explain(decoded).contains("inputBytes") && explain(decoded).contains("decodeTime"))
  }

  test("numRejected and numDropped count the wire mutants and the JSON lines a scan rejects") {
    val mutants = spark.createDataset(TestGen.wireMutants(md))(Encoders.BINARY).repartition(3)
    val lines = jsonl(jsonLines)
    for ((scan, total) <- Seq(
        ((m: IngestMode) => Protarrow.fromProtoBinary(mutants, md, cfg, reg, m), TestGen.wireMutants(md).size),
        ((m: IngestMode) => Protarrow.readProtoJsonl(spark, lines, md, cfg, reg, m), jsonLines.size))) {
      val (rows, perm) = executed(scan(IngestMode.Permissive).collect())
      val rejects = rows.count(r => !r.isNullAt(r.fieldIndex(C)))
      assert(rows.length === total)
      assert(rejects > 0 && rejects < total)
      assert(decodeMetrics(perm)("numRejected") === rejects)
      assert(decodeMetrics(perm)("numOutputRows") === total)
      val (kept, drop) = executed(scan(IngestMode.DropMalformed).collect().length)
      assert(kept === total - rejects)
      assert(decodeMetrics(drop)("numDropped") === rejects)
      assert(decodeMetrics(drop)("numOutputRows") === kept)
      assert(decodeMetrics(drop)("inputBytes") > 0)
    }
    val (out, enc) = executed(Protarrow.toProtoBinary(
      Protarrow.fromProtoBinary(wire(msgs), md, cfg, reg), md, cfg, reg).collect())
    val m = nodes(enc).collectFirst { case e: ProtoEncodeExec => e.metrics }.get
    assert(m("numOutputRows").value === msgs.size)
    assert(m("outputBytes").value === out.map(_.length.toLong).sum)
  }

  test("decodeTime and encodeTime time the codec, not a slow operator pipelined with it") {
    val sleepMs = 20
    val slow = udf((x: Long) => { Thread.sleep(sleepMs); x })
    val slowNs = msgs.size * sleepMs * 1000000L
    val decoded = Protarrow.fromProtoBinary(wire(msgs), md, cfg, reg)
    val (_, dec) = executed(decoded.select(slow(col("int64_value"))).collect())
    assert(decodeMetrics(dec)("decodeTime") > 0)
    assert(decodeMetrics(dec)("decodeTime") < slowNs / 10)
    val encoded = Protarrow.toProtoBinary(decoded, md, cfg, reg).toDF()
    val (_, enc) = executed(encoded.select(slow(length(col("value")).cast("long"))).collect())
    val encodeTime = nodes(enc).collectFirst { case e: ProtoEncodeExec => e.metrics("encodeTime").value }.get
    assert(encodeTime > 0 && encodeTime < slowNs / 10)
  }

  test("a stream decodes through the node, DROPMALFORMED and null payloads included") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Array[Byte]]
    val good = msgs.take(3).map(ProtoWire.encode(_, reg))
    stream.addData(good ++ Seq(Array[Byte](0x0b, 0x0c), null))
    val decoded = Protarrow.fromProtoBinary(stream.toDS(), md, cfg, reg, IngestMode.DropMalformed)
    val q = decoded.writeStream.format("memory").queryName("proto_nodes_drop").start()
    try {
      q.processAllAvailable()
      val back = Protarrow.dataFrameToMessages(spark.table("proto_nodes_drop"), md, cfg, reg)
      assert(back.toSet === expected.take(3).toSet)
    } finally q.stop()
    val failing = MemoryStream[Array[Byte]]
    failing.addData(good :+ null)
    val fq = Protarrow.fromProtoBinary(failing.toDS(), md, cfg, reg)
      .writeStream.format("memory").queryName("proto_nodes_failfast").start()
    try {
      val e = intercept[Exception](fq.processAllAvailable())
      assert(e.getMessage.contains("null payload"))
    } finally fq.stop()
  }

  test("the reused output row: sort, cache and collect give independent rows") {
    val decoded = Protarrow.fromProtoBinary(wire(msgs), md, cfg, reg)
    assert(Protarrow.dataFrameToMessages(decoded, md, cfg, reg) === expected)
    val byKey = (df: DataFrame) => df.sort(col("int64_value"), col("string_value"))
    assert(Protarrow.dataFrameToMessages(byKey(decoded), md, cfg, reg) === Protarrow.dataFrameToMessages(
      byKey(Protarrow.messagesToDataFrame(spark, msgs, md, cfg, reg)), md, cfg, reg))
    val cached = decoded.cache()
    try {
      assert(cached.count() === msgs.size)
      assert(Protarrow.dataFrameToMessages(cached, md, cfg, reg) === expected)
    } finally { cached.unpersist(blocking = true); () }
    val rows = decoded.collect()
    assert(rows.map(_.getAs[Long]("int64_value")).toSeq ===
      msgs.map(_.getOrDefault(md.byName("int64_value")).asInstanceOf[Long]))
  }

  test("the source column is the one Encoders.BINARY reads, whatever its name") {
    import spark.implicits._
    val bytes = msgs.map(ProtoWire.encode(_, reg))
    val ds = bytes.toDF("payload").as[Array[Byte]]
    assert(Protarrow.dataFrameToMessages(Protarrow.fromProtoBinary(ds, md, cfg, reg), md, cfg, reg) === expected)
    // a Dataset[Array[Byte]] has one column: Spark refuses the deserializer of a wider one
    intercept[org.apache.spark.sql.AnalysisException](
      bytes.map(b => (b, b)).toDF("payload", "junk").as[Array[Byte]])
  }

  test("the strategy is added to the session once, and no conf changes") {
    val confBefore = spark.conf.getAll
    Protarrow.fromProtoBinary(wire(msgs), md, cfg, reg).count()
    Protarrow.fromProtoBinary(wire(msgs), md, cfg, reg).count()
    Protarrow.toProtoBinary(Protarrow.fromProtoBinary(wire(msgs), md, cfg, reg), md, cfg, reg).count()
    val strategies = spark.asInstanceOf[classic.SparkSession].experimental.extraStrategies
    assert(strategies.count(_ eq ProtoNodes) === 1)
    assert(spark.conf.getAll === confBefore)
  }

  test("a decoded frame joins with itself") {
    val decoded = Protarrow.fromProtoBinary(wire(msgs), md, cfg, reg)
    val joined = decoded.as("a").join(decoded.as("b"), col("a.int64_value") === col("b.int64_value"))
    assert(joined.count() >= msgs.size)
  }

  test("a proto-JSON key that names no field is malformed; both spellings of a field parse") {
    def parse(json: String) = ProtoJson.parse(json, md, reg)
    for (bad <- Seq("""{"int32_value": 1, "nope": 2}""", """{"nope": {}}""",
        """{"int32_value": 1, "int32Value": 2}""", """{"date_value": {"year": 2024, "era": 1}}"""))
      intercept[IllegalArgumentException](parse(bad))
    val f = md.byName("int32_value").number
    assert(parse("""{"int32_value": 3}""").get(f) === Some(3))
    assert(parse("""{"int32Value": 3}""").get(f) === Some(3))
  }
}
