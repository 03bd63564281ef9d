package graft.conv

import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.functions.{col, struct}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import graft.proto._
import graft.{Protarrow, SparkSpec}

/** Equivalence oracle for the direct wire ↔ InternalRow codec: over the
  * 35-config matrix and explicit edge cases, [[TestGen.wireDecoder]] gives
  * the row `Codecs.internalRowWriter(ProtoWire.decode(b))` gives, and
  * [[TestGen.wireEncoder]] the bytes `ProtoWire.encode(Codecs.internalRowReader(row))`
  * gives; both reject the same payloads, with IllegalArgumentException
  * only. */
class WireRowsSpec extends SparkSpec {

  import TestGen.sample

  private val reg = Schemas.registry
  private val em = Schemas.msg("ExampleMessage")
  private def num(name: String): Int = em.byName(name).number

  /** A catalyst value as plain data: structs and arrays as lists, maps as
    * (size, Map), binary as lists, floating point as raw bits (so -0.0 and
    * 0.0 differ). */
  private def norm(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (r: InternalRow, st: StructType) =>
      st.fields.indices.map { i =>
        norm(if (r.isNullAt(i)) null else r.get(i, st(i).dataType), st(i).dataType)
      }.toList
    case (a: ArrayData, ArrayType(et, _)) =>
      (0 until a.numElements()).map(i => norm(if (a.isNullAt(i)) null else a.get(i, et), et)).toList
    case (m: MapData, MapType(kt, vt, _)) =>
      val ks = norm(m.keyArray(), ArrayType(kt)).asInstanceOf[List[Any]]
      val vs = norm(m.valueArray(), ArrayType(vt)).asInstanceOf[List[Any]]
      (m.numElements(), ks.zip(vs).toMap)
    case (b: Array[Byte], _) => b.toList
    case (d: Double, _) => ("double", java.lang.Double.doubleToRawLongBits(d))
    case (f: Float, _) => ("float", java.lang.Float.floatToRawIntBits(f))
    case (other, _) => other
  }

  /** Both decode paths over `bytes`: their normalized rows, or the
    * exception each raised. */
  private def decodeBoth(md: PMessageDesc, cfg: GraftConfig, bytes: Array[Byte]): (Try[Any], Try[Any]) = {
    val schema = SchemaConversion.messageTypeToSchema(md, cfg, reg)
    val direct = Try(norm(TestGen.wireDecoder(md, cfg, reg)(bytes), schema))
    val viaMessage = Try(norm(Codecs.internalRowWriter(md, cfg, reg)(
      ProtoWire.decode(bytes, md, reg)), schema))
    (direct, viaMessage)
  }

  /** Both paths accept `bytes` with equal rows, or both reject it with
    * IllegalArgumentException; returns whether they accepted. */
  private def sameDecode(md: PMessageDesc, cfg: GraftConfig, bytes: Array[Byte],
      clue: String = ""): Boolean =
    decodeBoth(md, cfg, bytes) match {
      case (Success(a), Success(b)) => assert(a === b, clue); true
      case (Failure(_: IllegalArgumentException), Failure(_: IllegalArgumentException)) => false
      case other => fail(s"$clue: paths disagree: $other")
    }

  private def directRow(md: PMessageDesc, bytes: Array[Byte],
      cfg: GraftConfig = GraftConfig()): InternalRow =
    TestGen.wireDecoder(md, cfg, reg)(bytes)

  private def encodeBoth(md: PMessageDesc, schema: StructType, cfg: GraftConfig,
      row: InternalRow): (Array[Byte], Array[Byte]) =
    (TestGen.wireEncoder(md, schema, cfg, reg)(row),
      ProtoWire.encode(Codecs.internalRowReader(md, schema, cfg, reg)(row), reg))

  /** The encoder writes the old path's bytes from a generic row and from
    * its UnsafeRow copy. */
  private def sameEncode(md: PMessageDesc, schema: StructType, cfg: GraftConfig,
      row: InternalRow, clue: String = ""): Unit =
    Seq(row, UnsafeProjection.create(schema).apply(row).copy()).foreach { r =>
      val (direct, viaMessage) = encodeBoth(md, schema, cfg, r)
      assert(direct.toSeq === viaMessage.toSeq, s"$clue (${r.getClass.getSimpleName})")
    }

  private def wire(fill: ProtoWire.Writer => Unit): Array[Byte] = {
    val w = new ProtoWire.Writer()
    fill(w)
    w.toByteArray
  }

  private def exampleRow(values: Map[Int, Any], cfg: GraftConfig = GraftConfig()): GenericInternalRow =
    Codecs.internalRowWriter(em, cfg, reg)(DynamicMessage(em, values))
      .asInstanceOf[GenericInternalRow]

  private def ordinal(name: String): Int = em.fields.indexWhere(_.name == name)

  private val exampleSchema = SchemaConversion.messageTypeToSchema(em, GraftConfig(), reg)

  // ---------------------------------------------------------------- matrix

  for ((cfg, i) <- RoundTripSpec.configs.zipWithIndex)
    test(s"decode and encode equal the DynamicMessage path [config ${i + 1}/35]") {
      for ((name, n) <- Seq("ExampleMessage" -> 4, "NestedExampleMessage" -> 2,
          "SuperNestedExampleMessage" -> 1)) {
        val md = Schemas.msg(name)
        val schema = SchemaConversion.messageTypeToSchema(md, cfg, reg)
        sample(Gen.listOfN(n, TestGen.genMessage(md)), 31L + i).zipWithIndex.foreach { case (m, r) =>
          val bytes = ProtoWire.encode(m, reg)
          assert(sameDecode(md, cfg, bytes, s"$name row $r"), s"$name row $r rejected")
          sameEncode(md, schema, cfg, Codecs.internalRowWriter(md, cfg, reg)(m), s"$name row $r")
        }
      }
    }

  test("wire fuzz mutants: both paths reject the same payloads, only with IllegalArgumentException") {
    val payloads = TestGen.wireMutants(em)
    for (cfg <- RoundTripSpec.configs) {
      val accepted = payloads.zipWithIndex.count { case (b, i) => sameDecode(em, cfg, b, s"payload $i") }
      assert(accepted > 0 && accepted < payloads.size)
    }
  }

  // ---------------------------------------------------------------- decode

  test("concatenated partials merge field-wise, well-known types included") {
    val md = Schemas.msg("NestedExampleMessage")
    def ts(values: Map[Int, Any]) = DynamicMessage(WellKnown.timestamp, values)
    val a = DynamicMessage(md, Map(1 -> DynamicMessage(em, Map(
      num("int32_value") -> 3, num("timestamp_value") -> ts(Map(1 -> 5L))))))
    val b = DynamicMessage(md, Map(1 -> DynamicMessage(em, Map(
      num("string_value") -> "x", num("timestamp_value") -> ts(Map(2 -> 7000))))))
    val bytes = ProtoWire.encode(a, reg) ++ ProtoWire.encode(b, reg)
    assert(sameDecode(md, GraftConfig(), bytes))
    val inner = directRow(md, bytes).getStruct(0, em.fields.length)
    assert(inner.getInt(ordinal("int32_value")) === 3)
    assert(inner.getUTF8String(ordinal("string_value")).toString === "x")
    assert(inner.getLong(ordinal("timestamp_value")) === 5000007L)
    // an out-of-range first occurrence that a later one overrides is not a
    // reject: the value converts once, after the merge
    val huge = DynamicMessage(em, Map(num("timestamp_value") -> ts(Map(1 -> Long.MaxValue))))
    val fixed = DynamicMessage(em, Map(num("timestamp_value") -> ts(Map(1 -> 9L))))
    assert(sameDecode(em, GraftConfig(), ProtoWire.encode(huge, reg) ++ ProtoWire.encode(fixed, reg)))
    val tsMap = num("timestamp_int32_map")
    val overwritten = DynamicMessage(em, Map(tsMap -> Map(1 -> ts(Map(1 -> Long.MaxValue)))))
    val kept = DynamicMessage(em, Map(tsMap -> Map(1 -> ts(Map(1 -> 9L)))))
    assert(sameDecode(em, GraftConfig(), ProtoWire.encode(overwritten, reg) ++ ProtoWire.encode(kept, reg)))
    assert(!sameDecode(em, GraftConfig(), ProtoWire.encode(overwritten, reg)))
  }

  test("unknown fields and wrong wire types are skipped") {
    val clean = wire { w => w.tag(num("int64_value"), ProtoWire.Varint); w.varint(42L) }
    val noisy = wire { w =>
      w.tag(1000, ProtoWire.Varint); w.varint(1L)
      w.tag(num("int32_value"), ProtoWire.Fixed32); w.fixed32(7) // declared varint
      w.tag(1001, ProtoWire.Fixed64); w.fixed64(2L)
      w.tag(num("int64_value"), ProtoWire.Varint); w.varint(42L)
      w.tag(num("string_value"), ProtoWire.Varint); w.varint(3L) // declared Len
      w.tag(1002, ProtoWire.Len); w.bytes(Array[Byte](1, 2, 3))
      w.tag(1003, ProtoWire.Fixed32); w.fixed32(4)
    }
    assert(sameDecode(em, GraftConfig(), noisy))
    assert(norm(directRow(em, noisy), exampleSchema) === norm(directRow(em, clean), exampleSchema))
  }

  test("map entries: mismatched key or value wire types are skipped, message values merge") {
    val m = num("int32_int32_map")
    def entry(fill: ProtoWire.Writer => Unit) = wire { w => w.tag(m, ProtoWire.Len); w.bytes(wire(fill)) }
    val badKey = entry { w => w.tag(1, ProtoWire.Len); w.bytes(Array[Byte](5)); w.tag(2, 0); w.varint(7L) }
    val badValue = entry { w => w.tag(1, 0); w.varint(5L); w.tag(2, ProtoWire.Fixed32); w.fixed32(1) }
    for (b <- Seq(badKey, badValue)) assert(sameDecode(em, GraftConfig(), b))
    val cells = directRow(em, badKey ++ badValue).getMap(ordinal("int32_int32_map"))
    assert(cells.keyArray().toIntArray().toSeq === Seq(0, 5))
    assert(cells.valueArray().toIntArray().toSeq === Seq(7, 0))
    val self = Schemas.recursiveSelf
    val md = PMessageDesc("mm", Seq(PField("m", 1, PType.PMessage(self.fullName),
      mapKV = Some((PType.PInt32, PType.PMessage(self.fullName))))))
    val twice = wire { w =>
      w.tag(1, ProtoWire.Len)
      w.bytes(wire { e =>
        e.tag(1, 0); e.varint(1L)
        e.tag(2, ProtoWire.Len); e.bytes(wire { v => v.tag(2, 0); v.varint(5L) })
        e.tag(2, ProtoWire.Len); e.bytes(wire { v => v.tag(1, ProtoWire.Len); v.varint(0L) })
      })
    }
    val cfg = GraftConfig(skipRecursiveMessages = true)
    assert(sameDecode(md, cfg, twice))
    val value = directRow(md, twice, cfg).getMap(0).valueArray().getStruct(0, 2)
    assert(value.getInt(1) === 5 && !value.isNullAt(0), "both occurrences merged")
  }

  test("repeated scalars: packed and unpacked occurrences concatenate") {
    val f = num("int32_values")
    val bytes = wire { w =>
      w.tag(f, 0); w.varint(1L)
      w.tag(f, ProtoWire.Len); w.bytes(wire { p => p.varint(2L); p.varint(-3L) })
      w.tag(f, 0); w.varint(4L)
      w.tag(num("double_values"), ProtoWire.Fixed64); w.fixed64(java.lang.Double.doubleToLongBits(0.5))
      w.tag(num("double_values"), ProtoWire.Len)
      w.bytes(wire(_.fixed64(java.lang.Double.doubleToLongBits(1.5))))
    }
    assert(sameDecode(em, GraftConfig(), bytes))
    val row = directRow(em, bytes)
    assert(row.getArray(ordinal("int32_values")).toIntArray().toSeq === Seq(1, 2, -3, 4))
    assert(row.getArray(ordinal("double_values")).toDoubleArray().toSeq === Seq(0.5, 1.5))
  }

  test("nesting depth 100 is accepted and 101 rejected") {
    val md = Schemas.recursiveSelf
    val cfg = GraftConfig(skipRecursiveMessages = true)
    def deep(n: Int): DynamicMessage =
      if (n == 0) DynamicMessage(md, Map(2 -> -1))
      else DynamicMessage(md, Map(1 -> deep(n - 1), 2 -> n))
    assert(sameDecode(md, cfg, ProtoWire.encode(deep(100), reg)))
    assert(!sameDecode(md, cfg, ProtoWire.encode(deep(101), reg)))
  }

  test("duplicate map keys: the first position, the last value") {
    val m = num("int32_int32_map")
    val bytes = wire { w =>
      for ((k, v) <- Seq(1 -> 10, 2 -> 20, 1 -> 30)) {
        w.tag(m, ProtoWire.Len)
        w.bytes(wire { e => e.tag(1, 0); e.varint(k.toLong); e.tag(2, 0); e.varint(v.toLong) })
      }
    }
    for (cfg <- Seq(GraftConfig(), GraftConfig(mapAsList = true)))
      assert(sameDecode(em, cfg, bytes))
    val cell = directRow(em, bytes).getMap(ordinal("int32_int32_map"))
    assert(cell.keyArray().toIntArray().toSeq === Seq(1, 2))
    assert(cell.valueArray().toIntArray().toSeq === Seq(30, 20))
  }

  test("a 200,000-entry map with every key twice: the DynamicMessage path's map") {
    val m = num("int32_int32_map")
    val w = new ProtoWire.Writer(1 << 22)
    for (round <- 0 until 2; k <- 0 until 200000) {
      w.tag(m, ProtoWire.Len)
      val mark = w.beginLen()
      w.tag(1, 0); w.varint((k * 7919).toLong)
      w.tag(2, 0); w.varint((k + round).toLong)
      w.endLen(mark)
    }
    val bytes = w.toByteArray
    assert(sameDecode(em, GraftConfig(), bytes))
    val cell = directRow(em, bytes).getMap(ordinal("int32_int32_map"))
    assert(cell.numElements() === 200000)
    assert(cell.keyArray().getInt(3) === 3 * 7919 && cell.valueArray().getInt(3) === 4)
  }

  test("a decoder reuses its row: copies stay independent of later records") {
    val msgs = sample(Gen.listOfN(6, TestGen.genMessage(em)), 21L)
    val bytes = msgs.map(ProtoWire.encode(_, reg))
    val decode = TestGen.wireDecoder(em, GraftConfig(), reg)
    val copies = bytes.map(b => decode(b).copy())
    assert(decode(bytes.head) eq decode(bytes.last), "one row, overwritten per record")
    copies.zip(bytes).foreach { case (c, b) =>
      assert(norm(c, exampleSchema) === norm(directRow(em, b), exampleSchema))
    }
    // a partition's rows copied out of the scan keep their own values
    val ds = spark.createDataset(bytes)(Encoders.BINARY).coalesce(1)
    val rows = Protarrow.fromProtoBinary(ds, em, GraftConfig(), reg).queryExecution.toRdd
      .map(_.copy()).collect()
    assert(rows.map(norm(_, exampleSchema)).toSeq === bytes.map(b => norm(directRow(em, b), exampleSchema)))
  }

  test("maps above four entries: equal as maps both ways") {
    val big = DynamicMessage(em, Map(
      num("int32_int32_map") -> (1 to 9).map(k => k -> k * 10).toMap,
      num("string_string_map") -> (1 to 7).map(k => s"k$k" -> s"v$k").toMap))
    val bytes = ProtoWire.encode(big, reg)
    assert(sameDecode(em, GraftConfig(), bytes))
    val row = Codecs.internalRowWriter(em, GraftConfig(), reg)(big)
    val (direct, viaMessage) = encodeBoth(em, exampleSchema, GraftConfig(), row)
    assert(ProtoWire.decode(direct, em, reg) === ProtoWire.decode(viaMessage, em, reg))
    assert(ProtoWire.decode(direct, em, reg) === big)
  }

  test("-0.0 and NaN plain doubles: the DynamicMessage path's omit/emit choice") {
    def double(f: String, v: Double) = wire { w =>
      w.tag(num(f), ProtoWire.Fixed64); w.fixed64(java.lang.Double.doubleToRawLongBits(v))
    }
    for (f <- Seq("double_value", "optional_double_value"); v <- Seq(-0.0, Double.NaN)) {
      assert(sameDecode(em, GraftConfig(), double(f, v)), s"$f $v")
      val row = exampleRow(Map.empty)
      row.update(ordinal(f), v)
      sameEncode(em, exampleSchema, GraftConfig(), row, s"$f $v")
    }
    val wrapped = wire { w =>
      w.tag(num("wrapped_double_value"), ProtoWire.Len)
      w.bytes(wire { v => v.tag(1, ProtoWire.Fixed64); v.fixed64(java.lang.Double.doubleToRawLongBits(-0.0)) })
    }
    assert(sameDecode(em, GraftConfig(), wrapped))
    val row = exampleRow(Map.empty)
    row.update(ordinal("wrapped_double_value"), -0.0)
    sameEncode(em, exampleSchema, GraftConfig(), row, "wrapped -0.0")
    // a plain -0.0 is absent, so it decodes as +0.0
    assert(java.lang.Double.doubleToRawLongBits(
      directRow(em, double("double_value", -0.0)).getDouble(ordinal("double_value"))) === 0L)
  }

  test("strings: invalid UTF-8 decodes and encodes as the String round trip does") {
    val samples = Seq(Array(0xC3), Array(0xED, 0xA0, 0x80), Array(0xC0, 0x80),
      Array(0xF4, 0x90, 0x80, 0x80), Array(0xFF, 0x41), Array(0xC3, 0xA9),
      Array(0xF0, 0x9F, 0x98, 0x80)).map(_.map(_.toByte))
    for (s <- samples) {
      val bytes = wire { w => w.tag(num("string_value"), ProtoWire.Len); w.bytes(s) }
      assert(sameDecode(em, GraftConfig(), bytes), s.toSeq)
      val row = exampleRow(Map.empty)
      row.update(ordinal("string_value"), UTF8String.fromBytes(s))
      sameEncode(em, exampleSchema, GraftConfig(), row, s.toSeq.toString)
    }
  }

  // ---------------------------------------------------------------- encode

  test("a null repeated element raises IllegalArgumentException on both paths") {
    val row = exampleRow(Map.empty)
    row.update(ordinal("int32_values"), new GenericArrayData(Array[Any](1, null)))
    intercept[IllegalArgumentException] {
      TestGen.wireEncoder(em, exampleSchema, GraftConfig(), reg)(row)
    }
    intercept[IllegalArgumentException](Codecs.internalRowReader(em, exampleSchema, GraftConfig(), reg)(row))
  }

  test("a frame missing columns, nested struct fields included, encodes as the old path") {
    val md = Schemas.msg("NestedExampleMessage")
    val msgs = sample(Gen.listOfN(6, TestGen.genMessage(md)), 5L)
    val kept = Seq("int32_value", "string_value", "timestamp_value", "int32_string_map",
      "wrapped_bytes_value", "example_enum_values")
    val df = Protarrow.messagesToDataFrame(spark, msgs, md, GraftConfig(), reg)
      .select(struct(kept.map(n => col(s"example_message.$n")): _*).as("example_message"),
        col("example_message_int32_map"))
    val rows = df.queryExecution.toRdd.map(_.copy()).collect()
    rows.zipWithIndex.foreach { case (r, i) => sameEncode(md, df.schema, GraftConfig(), r, s"row $i") }
    val viaMessage = Protarrow.dataFrameToMessages(df, md, GraftConfig(), reg)
    val direct = Protarrow.toProtoBinary(df, md, GraftConfig(), reg).collect()
      .map(ProtoWire.decode(_, md, reg))
    assert(direct.toSeq === viaMessage)
  }

  test("toProtoBinary: TimeOfDay ticks past a Long of nanoseconds raise, not wrap, on both paths") {
    val cfg = GraftConfig(timeOfDayUnit = GraftConfig.TimeUnit.Seconds)
    val df = Protarrow.messagesToDataFrame(spark, Seq(DynamicMessage(em, Map.empty)), em, cfg, reg)
      .withColumn("time_of_day_value", org.apache.spark.sql.functions.lit(10000000000L))
    Seq[() => Any](() => Protarrow.toProtoBinary(df, em, cfg, reg).collect(),
      () => Protarrow.dataFrameToMessages(df, em, cfg, reg)).foreach { run =>
      val e = intercept[Exception](run())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).exists(c =>
        c.isInstanceOf[IllegalArgumentException] && c.getMessage.contains("out of range: ticks=")), e)
    }
  }

  test("toProtoBinary: one reused Writer per partition, every row its own bytes") {
    val msgs = sample(Gen.listOfN(12, TestGen.genMessage(em)), 9L)
    val df = Protarrow.messagesToDataFrame(spark, msgs, em, GraftConfig(), reg).repartition(3)
    val expected = Protarrow.dataFrameToMessages(df, em, GraftConfig(), reg)
      .map(ProtoWire.encode(_, reg).toSeq)
    val got = Protarrow.toProtoBinary(df, em, GraftConfig(), reg).collect().map(_.toSeq)
    assert(got.sortBy(_.toString) === expected.sortBy(_.toString))
    val back = Protarrow.fromProtoBinary(spark.createDataset(got.map(_.toArray).toSeq)(Encoders.BINARY),
      em, GraftConfig(), reg)
    assert(Protarrow.dataFrameToMessages(back, em, GraftConfig(), reg).toSet === msgs
      .map(Truncation.truncate(_, GraftConfig())).toSet)
  }
}
