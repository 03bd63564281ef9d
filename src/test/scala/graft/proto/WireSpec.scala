package graft.proto

import scala.io.Source
import org.scalatest.funsuite.AnyFunSuite

/** Wire-format codec round trips over the golden fixtures (the codec is
  * the engine's protobuf-java replacement, SURVEY.md §7.0). */
class WireSpec extends AnyFunSuite {

  private val reg = Schemas.registry

  private def fixture(name: String): Seq[DynamicMessage] = {
    val md = Schemas.msg(name)
    val in = getClass.getResourceAsStream(s"/protarrow/$name.jsonl")
    Source.fromInputStream(in, "UTF-8").getLines().filter(_.nonEmpty)
      .map(l => ProtoJson.parse(l, md, reg)).toVector
  }

  for (name <- Seq("ExampleMessage", "NestedExampleMessage",
    "RecursiveSelfReferentialMessage", "RecursiveNestedMessageLevel1",
    "RecursiveSelfReferentialRepeatedMessage", "RecursiveSelfReferentialMapMessage")) {
    test(s"$name: wire round trip") {
      val md = Schemas.msg(name)
      fixture(name).zipWithIndex.foreach { case (m, i) =>
        val bytes = ProtoWire.encode(m, reg)
        val back = ProtoWire.decode(bytes, md, reg)
        assert(back === m, s"row $i")
      }
    }
  }

  test("zigzag") {
    for (v <- Seq(0, -1, 1, Int.MinValue, Int.MaxValue))
      assert(ProtoWire.unzigzag32(ProtoWire.zigzag32(v)) === v)
    for (v <- Seq(0L, -1L, 1L, Long.MinValue, Long.MaxValue))
      assert(ProtoWire.unzigzag64(ProtoWire.zigzag64(v)) === v)
  }

  test("unknown fields are skipped") {
    val myProto = Schemas.msg("MyProto")
    val m = DynamicMessage(myProto, Map(1 -> "x", 2 -> 3, 3 -> Vector(1, 2)))
    val bytes = ProtoWire.encode(m, reg)
    // decode against a narrower descriptor: only field 2 known
    val narrow = PMessageDesc("narrow", Seq(PField("id", 2, PType.PInt32)))
    val back = ProtoWire.decode(bytes, narrow, reg)
    assert(back === DynamicMessage(narrow, Map(2 -> 3)))
  }

  test("malformed input raises a clear error, never a silent misparse") {
    // a Kafka-shaped ingestion path sees corrupt records; they must fail
    // loudly. Pre-fix behavior: truncated bytes fields were silently
    // ZERO-PADDED (Arrays.copyOfRange pads past the end) and an oversized
    // nested length prefix let the child parse the parent's bytes.
    val myProto = Schemas.msg("MyProto")
    val m = DynamicMessage(myProto, Map(1 -> "hello world", 2 -> 7, 3 -> Vector(1, 2)))
    val bytes = ProtoWire.encode(m, reg)
    // every strict prefix either decodes to a PREFIX of the fields (clean
    // field boundary) or raises IllegalArgumentException — never fabricates
    for (cut <- 1 until bytes.length) {
      val truncated = java.util.Arrays.copyOfRange(bytes, 0, cut)
      try {
        val back = ProtoWire.decode(truncated, myProto, reg)
        back.values.foreach { case (num, v) =>
          assert(m.values(num) === v,
            s"cut=$cut field $num: fabricated value $v")
        }
      } catch { case _: IllegalArgumentException => /* loud failure: fine */ }
    }
    // oversized nested length prefix: field 1 wire type Len, length 100,
    // only 3 payload bytes present → must raise, not read beyond
    val bad = Array[Byte](0x0A, 100, 'a', 'b', 'c')
    intercept[IllegalArgumentException] {
      ProtoWire.decode(bad, myProto, reg)
    }
    // negative length prefix (varint 2^64-1 → toInt -1) must raise too
    val neg = Array[Byte](0x0A) ++ Array.fill(9)(0xFF.toByte) ++ Array[Byte](1)
    intercept[IllegalArgumentException] {
      ProtoWire.decode(neg, myProto, reg)
    }
    // length = Int.MaxValue: pos + n overflows int — the bounds check must
    // not wrap (fabricated-empty-message-then-AIOOBE pre-fix)
    val big = Array[Byte](0x0A, 0xFF.toByte, 0xFF.toByte, 0xFF.toByte,
      0xFF.toByte, 0x07)
    intercept[IllegalArgumentException] {
      ProtoWire.decode(big, myProto, reg)
    }
    // 64-bit length 2^32+5: toInt would truncate to 5 and silently parse
    // 5 bytes as the field — must raise on the prefix itself
    val wide = Array[Byte](0x0A, 0x85.toByte, 0x80.toByte, 0x80.toByte,
      0x80.toByte, 0x10, 'a', 'b', 'c', 'd', 'e')
    intercept[IllegalArgumentException] {
      ProtoWire.decode(wide, myProto, reg)
    }
  }

  test("repeated occurrences of a singular message field MERGE (concatenation idiom)") {
    // concatenating two encoded partials is the standard proto merge
    // idiom; the parse result must be their merge, not last-wins
    val md = Schemas.recursiveSelf
    val a = DynamicMessage(md, Map(1 -> DynamicMessage(md, Map(2 -> 5))))
    val b = DynamicMessage(md,
      Map(1 -> DynamicMessage(md, Map(1 -> DynamicMessage(md, Map(2 -> 1))))))
    val merged = ProtoWire.decode(
      ProtoWire.encode(a, reg) ++ ProtoWire.encode(b, reg), md, reg)
    assert(merged === DynamicMessage(md, Map(1 -> DynamicMessage(md,
      Map(2 -> 5, 1 -> DynamicMessage(md, Map(2 -> 1)))))),
      "nested singular messages must merge field-wise across occurrences")
  }

  test("wire-type mismatch on a known field is skipped as unknown, not misparsed") {
    // protobuf-java parity: old data encoded field 2 as a varint; the
    // current descriptor says string. The payload is not the declared
    // field — treat as unknown, don't read the varint as a length prefix.
    val myProto = Schemas.msg("MyProto")
    val bytes = ProtoWire.encode(
      DynamicMessage(myProto, Map(1 -> "keep", 2 -> 300)), reg)
    val evolved = PMessageDesc("evolved", Seq(
      PField("name", 1, PType.PString),
      PField("id", 2, PType.PString))) // was int32, now string
    val back = ProtoWire.decode(bytes, evolved, reg)
    assert(back === DynamicMessage(evolved, Map(1 -> "keep")),
      "the mismatched field must be absent, the rest intact")
  }

  test("map entries serialize both fields, defaults included (protobuf-java parity)") {
    val md = PMessageDesc("m", Seq(
      PField("im", 1, PType.PInt32, mapKV = Some((PType.PInt32, PType.PInt32)))))
    val bytes = ProtoWire.encode(DynamicMessage(md, Map(1 -> Map(0 -> 0))), reg)
    // tag(1,Len)=0x0A, len=4, then tag(1,Varint)=0x08 key 0, tag(2,Varint)=0x10 value 0
    assert(bytes.toSeq === Seq[Byte](0x0A, 4, 0x08, 0, 0x10, 0),
      "default key and value must both be on the wire, like protobuf-java")
    assert(ProtoWire.decode(bytes, md, reg) === DynamicMessage(md, Map(1 -> Map(0 -> 0))))
  }

  // map<int32, int32> = 1; an entry is tag 0x0A, its length, its fields
  private val intMap = PMessageDesc("m", Seq(
    PField("im", 1, PType.PInt32, mapKV = Some((PType.PInt32, PType.PInt32)))))
  private def entry(fields: Int*): Array[Byte] =
    (Seq(0x0A, fields.length) ++ fields).map(_.toByte).toArray

  test("map entry: a key with the wrong wire type is skipped as unknown") {
    // key field 1 sent length-delimited ("AB"): read as a varint it would
    // take the length byte as the key and parse the payload as tags
    val bad = entry(0x0A, 2, 'A', 'B', 0x10, 7)
    val clean = entry(0x10, 7)
    assert(ProtoWire.decode(bad, intMap, reg) === ProtoWire.decode(clean, intMap, reg))
    assert(ProtoWire.decode(bad, intMap, reg) === DynamicMessage(intMap, Map(1 -> Map(0 -> 7))))
  }

  test("map entry: a value with the wrong wire type is skipped as unknown") {
    // value field 2 sent as fixed32 instead of a varint
    val bad = entry(0x08, 5, 0x15, 1, 2, 3, 4)
    val clean = entry(0x08, 5)
    assert(ProtoWire.decode(bad, intMap, reg) === ProtoWire.decode(clean, intMap, reg))
    assert(ProtoWire.decode(bad, intMap, reg) === DynamicMessage(intMap, Map(1 -> Map(5 -> 0))))
  }

  test("map entry: a message value that occurs twice in one entry is merged") {
    val self = Schemas.recursiveSelf
    val md = PMessageDesc("mm", Seq(PField("m", 1, PType.PMessage(self.fullName),
      mapKV = Some((PType.PInt32, PType.PMessage(self.fullName))))))
    // key 1; value {depth: 5}; value again {next: {}}
    val bytes = entry(0x08, 1, 0x12, 2, 0x10, 5, 0x12, 2, 0x0A, 0)
    val merged = DynamicMessage(self, Map(2 -> 5, 1 -> DynamicMessage.empty(self)))
    assert(ProtoWire.decode(bytes, md, reg) === DynamicMessage(md, Map(1 -> Map(1 -> merged))))
  }

  test("proto3 JSON timestamps accept RFC 3339 offsets, normalized to UTC") {
    val md = Schemas.msg("ExampleMessage")
    val f = md.byName("timestamp_value")
    val withOffset = ProtoJson.parse(
      s"""{"${f.name}": "2023-01-01T08:00:00+08:00"}""", md, reg)
    val utc = ProtoJson.parse(
      s"""{"${f.name}": "2023-01-01T00:00:00Z"}""", md, reg)
    assert(withOffset === utc, "+08:00 form must normalize to the same instant")
  }

  test("decode nesting is capped: crafted deep recursion raises, not StackOverflow") {
    val md = Schemas.recursiveSelf
    def deep(n: Int): DynamicMessage =
      if (n == 0) DynamicMessage(md, Map(2 -> n))
      else DynamicMessage(md, Map(1 -> deep(n - 1), 2 -> n))
    val ok = deep(50)
    assert(ProtoWire.decode(ProtoWire.encode(ok, reg), md, reg) === ok)
    intercept[IllegalArgumentException] {
      ProtoWire.decode(ProtoWire.encode(deep(150), reg), md, reg)
    }
  }

  // ---- varint fast paths: both decoders, at the edges of the 10-byte window

  private val v64 = PMessageDesc("v64", Seq(PField("x", 1, PType.PInt64)))
  private def decoders(bytes: Array[Byte]): Seq[() => Any] = Seq(
    () => ProtoWire.decode(bytes, v64, reg),
    () => graft.conv.WireRows.decoder(v64, graft.conv.GraftConfig(), reg)(bytes))

  test("varint: a 10-byte varint ending exactly at the buffer end decodes") {
    val bytes = Array[Byte](0x08) ++ Array.fill(9)(0xFF.toByte) ++ Array[Byte](0x01)
    assert(ProtoWire.decode(bytes, v64, reg) === DynamicMessage(v64, Map(1 -> -1L)))
    assert(graft.conv.WireRows.decoder(v64, graft.conv.GraftConfig(), reg)(bytes).getLong(0) === -1L)
    val r = new ProtoWire.Reader(bytes, 1, bytes.length)
    assert(r.varint() === -1L && !r.hasMore)
  }

  test("varint: 11 bytes with at least 10 remaining raise IllegalArgumentException") {
    for (trailing <- Seq(0, 1, 20)) {
      val bytes = Array[Byte](0x08) ++ Array.fill(10)(0xFF.toByte) ++ Array[Byte](0x01) ++
        Array.fill(trailing)(0x00.toByte)
      for (d <- decoders(bytes)) {
        val e = intercept[IllegalArgumentException](d())
        assert(e.getMessage.contains("malformed varint"), e.getMessage)
      }
    }
  }

  test("varint: a varint truncated inside the last 9 bytes raises IllegalArgumentException") {
    for (n <- 1 to 9) {
      val bytes = Array[Byte](0x08) ++ Array.fill(n)(0x80.toByte)
      for (d <- decoders(bytes)) intercept[IllegalArgumentException](d())
      val r = new ProtoWire.Reader(bytes, 1, bytes.length)
      intercept[IllegalArgumentException](r.varint())
      intercept[IllegalArgumentException](new ProtoWire.Reader(bytes, 1, bytes.length).skip(ProtoWire.Varint))
    }
  }

  test("varint: every length round-trips through the writer and both reader paths") {
    val values = (0 to 63).flatMap(b => Seq(1L << b, (1L << b) - 1, -(1L << b))) ++ Seq(Long.MinValue, Long.MaxValue)
    for (v <- values) {
      val w = new ProtoWire.Writer()
      w.varint(v)
      val exact = w.toByteArray
      val expected = Iterator.iterate(v)(_ >>> 7).takeWhile(_ != 0).size.max(1)
      assert(exact.length === expected, s"$v")
      for (slack <- Seq(0, 12)) {
        val r = new ProtoWire.Reader(exact ++ Array.fill(slack)(0x7F.toByte), 0, exact.length + slack)
        assert(r.varint() === v, s"$v slack $slack")
        assert(r.pos === exact.length)
      }
    }
  }

  test("json writer round trips") {
    val md = Schemas.msg("ExampleMessage")
    fixture("ExampleMessage").foreach { m =>
      val back = ProtoJson.parse(ProtoJson.toJson(m, reg), md, reg)
      assert(back === m)
    }
  }
}
