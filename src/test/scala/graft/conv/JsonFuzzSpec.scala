package graft.conv

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.scalacheck.Gen
import graft.proto._
import graft.{Protarrow, SparkSpec}

/** Seeded mutation fuzz over the proto-JSON parser and the JSONL ingest
  * scan, plus the proto3 JSON mapping's rejects. Lines are
  * `ProtoJson.toJson` of RandomRoundTripSpec's random messages, mutated by
  * character flips, truncation, value-kind swaps (number, string, object,
  * array, bool, null) and deep nesting. The contract under test:
  * `ProtoJson.parse` returns a message or raises IllegalArgumentException,
  * and the scan quarantines (PERMISSIVE) or drops (DROPMALFORMED) exactly
  * the lines rejected on the driver; no task fails. */
class JsonFuzzSpec extends SparkSpec {

  import TestGen.sample

  private val reg = Schemas.registry
  private val md = Schemas.msg("ExampleMessage")
  private val mapper = new ObjectMapper()
  private val C = IngestMode.CorruptColumn

  private def parse(json: String): DynamicMessage = ProtoJson.parse(json, md, reg)

  private def flip(l: String): Gen[String] = for {
    k <- Gen.chooseNum(1, 4)
    hits <- Gen.listOfN(k, Gen.zip(Gen.chooseNum(0, l.length - 1), Gen.chooseNum(0x20, 0x7E)))
  } yield {
    val cs = l.toCharArray
    hits.foreach { case (i, c) => cs(i) = c.toChar }
    new String(cs)
  }

  private def truncate(l: String): Gen[String] = Gen.chooseNum(1, l.length - 1).map(l.take)

  private val kinds = Seq("12", "-1", "1.5", "1e400", "4294967297", "\"abc\"", "\"12\"", "\"NaN\"",
    "\"-Infinity\"", "\"2020-01-01T00:00:00Z\"", "\"1.5s\"", "{}", "{\"a\": 1}", "[]", "[1, \"x\"]",
    "[null]", "true", "null")

  /** One field's value replaced by a value of another JSON kind. */
  private def swap(l: String): Gen[String] = {
    val names = mapper.readTree(l).fieldNames().asScala.toVector
    if (names.isEmpty) Gen.const(l)
    else for (name <- Gen.oneOf(names); v <- Gen.oneOf(kinds)) yield {
      val o = mapper.readTree(l).asInstanceOf[ObjectNode]
      o.replace(name, mapper.readTree(v))
      mapper.writeValueAsString(o)
    }
  }

  /** One field's value wrapped in up to 1,500 levels of arrays or objects. */
  private def nest(l: String): Gen[String] = {
    val names = mapper.readTree(l).fieldNames().asScala.toVector
    if (names.isEmpty) Gen.const(l)
    else for (name <- Gen.oneOf(names); depth <- Gen.oneOf(2, 90, 1500); arrays <- Gen.oneOf(true, false))
      yield {
        val o = mapper.readTree(l).asInstanceOf[ObjectNode]
        val v = mapper.writeValueAsString(o.get(name))
        val (open, close) = if (arrays) ("[", "]") else ("{\"x\": ", "}")
        val wrapped = open * depth + v + close * depth
        val rest = { o.remove(name); mapper.writeValueAsString(o) }
        s"""{"$name": $wrapped${if (rest == "{}") "}" else ", " + rest.drop(1)}"""
      }
  }

  private val lines: Vector[String] = {
    val base = sample(Gen.listOfN(16, TestGen.genMessage(md)), 11L)
      .map(ProtoJson.toJson(_, reg)).filter(_.length > 2).toVector
    val mutants = base.zipWithIndex.flatMap { case (l, i) =>
      Seq(flip(l), truncate(l), swap(l), swap(l), nest(l)).zipWithIndex.map { case (g, k) =>
        sample(g, 2000L + 5L * i + k)
      }
    }
    (base ++ mutants).filter(_.trim.nonEmpty)
  }

  /** Indices of the lines the driver-side parse and write reject; any other
    * Throwable escapes and fails the spec. */
  private lazy val rejected: Set[Int] = {
    val write = Codecs.internalRowWriter(md, GraftConfig(), reg)
    lines.indices.filter { i =>
      try { write(parse(lines(i))); false }
      catch { case _: IllegalArgumentException => true }
    }.toSet
  }

  private def jsonl: String = {
    val f = Files.createTempFile("graft_json_fuzz", ".jsonl")
    Files.write(f, lines.asJava)
    f.toString
  }

  test("mutated lines: parse succeeds or raises IllegalArgumentException") {
    assert(rejected.nonEmpty && rejected.size < lines.size)
    val base = lines.size / 6
    assert(!rejected.exists(_ < base), "unmutated lines parse")
    for (i <- lines.indices) Try(parse(lines(i))) match {
      case Success(_) | Failure(_: IllegalArgumentException) =>
      case Failure(e) => fail(s"line $i: ${e.getClass.getName}: ${e.getMessage}")
    }
  }

  test("PERMISSIVE quarantines exactly the lines the driver rejects") {
    val rows = Protarrow.readProtoJsonl(spark, jsonl, md, GraftConfig(), reg,
      IngestMode.Permissive).collect()
    assert(rows.length === lines.size)
    val quarantined = rows.filterNot(_.isNullAt(rows.head.fieldIndex(C))).map(_.getAs[String](C)).sorted
    assert(quarantined.toSeq === rejected.toSeq.map(lines).sorted)
  }

  test("DROPMALFORMED keeps the total minus the rejected lines") {
    val df = Protarrow.readProtoJsonl(spark, jsonl, md, GraftConfig(), reg, IngestMode.DropMalformed)
    assert(df.count() === lines.size - rejected.size)
  }

  // ---------------------------------------------------------------- mapping

  test("values the proto3 JSON mapping rejects raise IllegalArgumentException") {
    val bad = Seq(
      """{"double_value": "abc"}""", """{"double_value": true}""", """{"double_value": 1e400}""",
      """{"float_value": 1e39}""", """{"int32_value": 4294967297}""", """{"int32_value": 1.5}""",
      """{"int32_value": "1.0"}""", """{"uint32_value": "-5"}""", """{"uint32_value": 4294967296}""",
      """{"uint64_value": "-1"}""", """{"int64_value": "9223372036854775808"}""",
      """{"bool_value": "yes"}""", """{"bool_value": "true"}""", """{"bool_value": 1}""",
      """{"string_value": 12}""", """{"bytes_value": 12}""", """{"example_enum_value": "NOPE"}""",
      """{"example_enum_value": 1.5}""", """{"int32_int32_map": [1, 2]}""",
      """{"int32_int32_map": {"x": 1}}""", """{"bool_int32_map": {"1": "true"}}""",
      """{"int32_values": 3}""", """{"int32_values": [1, null]}""", """{"timestamp_value": "yesterday"}""",
      """{"timestamp_value": 5}""", """{"duration_value": "1.5"}""", """{"duration_value": "1.0000000001s"}""",
      """{"date_value": "2020-01-01"}""", """{"int32_value": 1, "int32_value": 2}""",
      """{"int32_value": 1} {}""", """{"int32_value": """, """not json""", """[1, 2]""", "")
    for (l <- bad) intercept[IllegalArgumentException](parse(l))
    intercept[IllegalArgumentException](ProtoJson.parse("""{"m": {"yes": 1}}""", boolKeys, reg))
  }

  private val boolKeys = PMessageDesc("bool_keys", Seq(
    PField("m", 1, PType.PInt32, mapKV = Some((PType.PBool, PType.PInt32)))))

  test("values the proto3 JSON mapping accepts") {
    def one(json: String, field: String): Any = parse(json).get(md.byName(field).number).orNull
    assert(one("""{"double_value": "NaN"}""", "double_value").asInstanceOf[Double].isNaN)
    assert(one("""{"double_value": "-Infinity"}""", "double_value") === Double.NegativeInfinity)
    assert(one("""{"double_value": "2.5"}""", "double_value") === 2.5)
    assert(one("""{"float_value": 1.5}""", "float_value") === 1.5f)
    assert(one("""{"int32_value": "-7"}""", "int32_value") === -7)
    assert(one("""{"int32_value": 1e1}""", "int32_value") === 10)
    assert(one("""{"int32_value": 3.0}""", "int32_value") === 3)
    assert(one("""{"uint32_value": 4294967295}""", "uint32_value") === 4294967295L)
    assert(one("""{"uint64_value": "18446744073709551615"}""", "uint64_value") === -1L)
    assert(one("""{"example_enum_value": "EXAMPLE_ENUM_2"}""", "example_enum_value") === 2)
    assert(one("""{"example_enum_value": 7}""", "example_enum_value") === 7)
    assert(one("""{"example_enum_value": "7"}""", "example_enum_value") === 7)
    assert(one("""{"bool_int32_map": {"-1": true}}""", "bool_int32_map") === Map(-1 -> true))
    assert(ProtoJson.parse("""{"m": {"true": 1, "false": 2}}""", boolKeys, reg).get(1) ===
      Some(Map(true -> 1, false -> 2)))
    assert(one("""{"int32_value": null}""", "int32_value") === null)
  }

  test("message nesting: 100 levels parse, 101 raise IllegalArgumentException") {
    val self = Schemas.recursiveSelf
    def deep(n: Int): DynamicMessage =
      if (n == 0) DynamicMessage(self, Map(2 -> -1))
      else DynamicMessage(self, Map(1 -> deep(n - 1), 2 -> n))
    assert(ProtoJson.parse(ProtoJson.toJson(deep(100), reg), self, reg) === deep(100))
    intercept[IllegalArgumentException](ProtoJson.parse(ProtoJson.toJson(deep(101), reg), self, reg))
  }
}
