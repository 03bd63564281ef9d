package graft.conv

import java.time.{Instant, LocalDate}
import org.apache.spark.sql.Row
import org.scalacheck.Gen
import graft.proto._
import graft.{Protarrow, SparkSpec}

/** The Row-based decode APIs (rowsToMessages, MessageExtractor.apply) go
  * through Codecs.rowReader: Spark's external→internal converter, then the
  * catalyst reader. Rows collected from a frame must decode to what
  * dataFrameToMessages reads from the same frame, for java.sql and
  * java.time temporal cells alike, including instants the hybrid calendar
  * of java.sql.Timestamp handles specially: year 1, the 1582-10-05..14
  * cutover gap, and the Date sentinel (year 0). */
class RowAdapterSpec extends SparkSpec {

  private val reg = Schemas.registry
  private val md = Schemas.msg("ExampleMessage")
  private val cfg = GraftConfig()
  private def fno(n: String) = md.byName(n).number
  private def ts(i: Instant) =
    DynamicMessage(WellKnown.timestamp, Map(1 -> i.getEpochSecond, 2 -> i.getNano))

  private val year1 = Instant.parse("0001-01-01T00:00:00Z")
  private val inGap = Instant.parse("1582-10-07T12:00:00.123456Z")
  private val special = Seq(
    DynamicMessage(md, Map(fno("timestamp_value") -> ts(year1),
      fno("date_value") -> DynamicMessage(WellKnown.date, Map(1 -> 1, 2 -> 1, 3 -> 1)))),
    DynamicMessage(md, Map(fno("timestamp_value") -> ts(inGap),
      fno("timestamp_values") -> Vector(ts(inGap), ts(year1)))),
    DynamicMessage(md, Map(fno("date_value") -> DynamicMessage.empty(WellKnown.date))))
  private val msgs =
    TestGen.sample(Gen.listOfN(4, TestGen.genMessage(md)), 5L) ++ special
  private val gapRow = msgs.size - 2

  private def frame = Protarrow.messagesToDataFrame(spark, msgs, md, cfg, reg)

  private def decodeBoth(rows: Seq[Row], schema: org.apache.spark.sql.types.StructType)
      : (Seq[DynamicMessage], Seq[DynamicMessage]) = {
    val ex = new Protarrow.MessageExtractor(schema, md, cfg, reg)
    (Protarrow.rowsToMessages(rows, schema, md, cfg, reg), rows.map(ex.apply))
  }

  test("java.sql cells (session default) decode like dataFrameToMessages") {
    val df = frame
    val expected = Protarrow.dataFrameToMessages(df, md, cfg, reg)
    val rows = df.collect().toSeq
    val tsCol = df.schema.fieldIndex("timestamp_value")
    assert(rows.head.get(tsCol).isInstanceOf[java.sql.Timestamp])
    val (viaRows, viaExtractor) = decodeBoth(rows, df.schema)
    assert(viaExtractor === viaRows)
    msgs.indices.filter(_ != gapRow).foreach { i =>
      assert(viaRows(i) === expected(i), s"row $i")
    }
    // java.sql.Timestamp follows the hybrid calendar, which has no
    // 1582-10-05..14: collect() itself hands out the instant as 1582-10-15,
    // and the adapter decodes the cell it is given. java.time cells (next
    // tests) keep the gap instant exact.
    val shifted = ts(Instant.parse("1582-10-15T12:00:00.123456Z"))
    assert(expected(gapRow).get(fno("timestamp_value")) === Some(ts(inGap)))
    assert(viaRows(gapRow).get(fno("timestamp_value")) === Some(shifted))
    assert(viaRows(gapRow).get(fno("timestamp_values")) === Some(Vector(shifted, ts(year1))))
  }

  test("java.time cells (datetime.java8API) decode like dataFrameToMessages") {
    val key = "spark.sql.datetime.java8API.enabled"
    spark.conf.set(key, "true")
    try {
      val df = frame
      val rows = df.collect().toSeq
      assert(rows.head.get(df.schema.fieldIndex("timestamp_value")).isInstanceOf[Instant])
      val expected = Protarrow.dataFrameToMessages(df, md, cfg, reg)
      val (viaRows, viaExtractor) = decodeBoth(rows, df.schema)
      assert(viaRows === expected)
      assert(viaExtractor === expected)
    } finally spark.conf.unset(key)
  }

  test("hand-built Instant/LocalDate rows decode like the frame's columns") {
    val cols = Seq("timestamp_value", "date_value")
    val sub = Protarrow.messagesToDataFrame(spark, special, md, cfg, reg)
      .select(cols.head, cols.tail: _*)
    val rows = Seq(
      Row(year1, LocalDate.of(1, 1, 1)),
      Row(inGap, null),
      Row(null, LocalDate.ofEpochDay(SchemaConversion.DateSentinelEpochDay)))
    val expected = Protarrow.dataFrameToMessages(sub, md, cfg, reg)
    val kept = cols.map(fno).toSet
    assert(expected === special.map(m =>
      DynamicMessage(md, m.values.filter { case (n, _) => kept(n) })))
    val (viaRows, viaExtractor) = decodeBoth(rows, sub.schema)
    assert(viaRows === expected)
    assert(viaExtractor === expected)
  }
}
