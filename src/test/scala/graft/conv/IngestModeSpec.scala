package graft.conv

import org.apache.spark.sql.functions.col
import graft.{Protarrow, SparkSpec}
import graft.operators.Fixtures
import graft.proto._

/** The corrupt-record tolerance contract ([[IngestMode]]) on both ingest
  * scans: FAILFAST raises (the reference's behavior — its fixture loader
  * hard-raises via json_format.Parse, tests/test_conversion.py:99-105),
  * PERMISSIVE quarantines the raw record in `_corrupt_record` with every
  * other field NULL, DROPMALFORMED silently skips — `spark.read.json`
  * mode semantics on the proto paths. */
class IngestModeSpec extends SparkSpec {

  private val md = Schemas.msg("ExampleMessage")
  private val reg = Schemas.registry
  private def corrupt = Fixtures.materializeCorrupt("ExampleMessage")
  private def clean = Fixtures.materialize("ExampleMessage")
  private val C = IngestMode.CorruptColumn

  test("FAILFAST (default): one bad line kills the scan with a clear error") {
    val e = intercept[org.apache.spark.SparkException] {
      Protarrow.readProtoJsonl(spark, corrupt, md, GraftConfig(), reg).count()
    }
    assert(e.getMessage != null)
  }

  test("FAILFAST on a clean file behaves exactly as before (no schema change)") {
    val df = Protarrow.readProtoJsonl(spark, clean, md, GraftConfig(), reg)
    assert(!df.columns.contains(C))
    assert(df.count() === 20)
  }

  test("PERMISSIVE: all rows kept; rejects carry the raw line, nulls elsewhere") {
    val df = Protarrow.readProtoJsonl(spark, corrupt, md, GraftConfig(), reg,
      IngestMode.Permissive)
    assert(df.columns.last === C)
    assert(df.count() === 23)
    val rejects = df.filter(df(C).isNotNull)
    assert(rejects.count() === 3)
    // the quarantined payload is the raw input line, byte-for-byte
    val lines = rejects.select(C).collect().map(_.getString(0)).toSet
    assert(lines === Fixtures.CorruptLines.toSet)
    // every proto field of a reject row is NULL
    val r = rejects.drop(C).collect()
    assert(r.forall(row => (0 until row.length).forall(row.isNullAt)))
    // good rows: corrupt column NULL, data intact (count matches clean scan)
    assert(df.filter(df(C).isNull).count() === 20)
  }

  test("PERMISSIVE on a clean file: corrupt column present, all NULL") {
    val df = Protarrow.readProtoJsonl(spark, clean, md, GraftConfig(), reg,
      IngestMode.Permissive)
    assert(df.filter(df(C).isNotNull).count() === 0)
    assert(df.count() === 20)
  }

  test("DROPMALFORMED: bad lines skipped, schema unchanged, good rows identical") {
    val df = Protarrow.readProtoJsonl(spark, corrupt, md, GraftConfig(), reg,
      IngestMode.DropMalformed)
    assert(!df.columns.contains(C))
    assert(df.count() === 20)
    // the surviving rows decode to the same messages as the clean scan
    val a = Protarrow.dataFrameToMessages(
      Protarrow.readProtoJsonl(spark, clean, md, GraftConfig(), reg),
      md, GraftConfig(), reg)
    val b = Protarrow.dataFrameToMessages(df, md, GraftConfig(), reg)
    assert(a.toSet === b.toSet)
  }

  test("wire scan: PERMISSIVE quarantines undecodable payloads as BINARY") {
    import spark.implicits._
    val good = Protarrow.toProtoBinary(
      Protarrow.readProtoJsonl(spark, clean, md, GraftConfig(), reg),
      md, GraftConfig(), reg).collect()
    val garbage: Array[Byte] = Array(0x0b, 0x0c, 0x07, 0x7f).map(_.toByte)
    val mixed = spark.createDataset(good.toSeq :+ garbage)(
      org.apache.spark.sql.Encoders.BINARY)
    val df = Protarrow.fromProtoBinary(mixed, md, GraftConfig(), reg,
      IngestMode.Permissive)
    assert(df.schema(C).dataType === org.apache.spark.sql.types.BinaryType)
    assert(df.count() === 21)
    val rejects = df.filter(df(C).isNotNull).select(C).collect()
    assert(rejects.length === 1)
    assert(rejects.head.getAs[Array[Byte]](0).toSeq === garbage.toSeq)
    // and DROPMALFORMED drops just that payload
    assert(Protarrow.fromProtoBinary(mixed, md, GraftConfig(), reg,
      IngestMode.DropMalformed).count() === 20)
  }

  test("wire scan: a decodable payload with an out-of-range Timestamp/Date is malformed") {
    import spark.implicits._
    def wire(field: String, v: DynamicMessage) =
      ProtoWire.encode(DynamicMessage(md, Map(md.byName(field).number -> v)), reg)
    val bad = Seq(
      wire("date_value", DynamicMessage(WellKnown.date, Map(1 -> 2024, 2 -> 13, 3 -> 1))),
      wire("timestamp_value", DynamicMessage(WellKnown.timestamp, Map(1 -> Long.MaxValue))),
      // Duration/TimeOfDay ticks past Long at the default nanos unit
      wire("duration_value", DynamicMessage(WellKnown.duration, Map(1 -> 9223372037L))),
      wire("duration_value", DynamicMessage(WellKnown.duration, Map(1 -> -9223372037L))),
      wire("time_of_day_value", DynamicMessage(WellKnown.timeOfDay, Map(1 -> Int.MaxValue))))
    val good = wire("date_value", DynamicMessage(WellKnown.date, Map(1 -> 2024, 2 -> 12, 3 -> 1)))
    val ds = spark.createDataset(bad :+ good)(org.apache.spark.sql.Encoders.BINARY)
    val rejects = Protarrow.fromProtoBinary(ds, md, GraftConfig(), reg, IngestMode.Permissive)
      .filter(col(C).isNotNull).select(C).collect().map(_.getAs[Array[Byte]](0).toSeq)
    assert(rejects.toSet === bad.map(_.toSeq).toSet)
    assert(Protarrow.fromProtoBinary(ds, md, GraftConfig(), reg,
      IngestMode.DropMalformed).count() === 1)
    val e = intercept[org.apache.spark.SparkException] {
      Protarrow.fromProtoBinary(ds, md, GraftConfig(), reg).collect()
    }
    assert(e.getMessage.contains("out of range"))
  }

  test("wire scan: a null payload (a Kafka tombstone) is malformed in every mode") {
    val good = ProtoWire.encode(DynamicMessage(md, Map(md.byName("int32_value").number -> 7)), reg)
    val ds = spark.createDataset(Seq(good, null))(org.apache.spark.sql.Encoders.BINARY)
    val e = intercept[org.apache.spark.SparkException] {
      Protarrow.fromProtoBinary(ds, md, GraftConfig(), reg).collect()
    }
    assert(e.getMessage.contains("IllegalArgumentException") && e.getMessage.contains("null payload"))
    val dropped = Protarrow.fromProtoBinary(ds, md, GraftConfig(), reg, IngestMode.DropMalformed)
    assert(dropped.select("int32_value").collect().map(_.getInt(0)).toSeq === Seq(7))
    // PERMISSIVE keeps the tombstone as a row of nulls with an empty raw
    // payload, so the IS NOT NULL filter finds it
    val perm = Protarrow.fromProtoBinary(ds, md, GraftConfig(), reg, IngestMode.Permissive)
    assert(perm.count() === 2)
    val quarantined = perm.filter(col(C).isNotNull).collect()
    assert(quarantined.length === 1)
    assert((0 until quarantined.head.length - 1).forall(quarantined.head.isNullAt))
    assert(quarantined.head.getAs[Array[Byte]](C).isEmpty)
  }
}
