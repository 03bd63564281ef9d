package graft.proto

import java.time.Instant
import com.fasterxml.jackson.core.{JsonParser, JsonProcessingException}
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode, TextNode}
import scala.jdk.CollectionConverters._

/** Proto3 JSON codec over the descriptor IR (the public proto3 JSON
  * mapping; the reference's fixtures are proto-JSON lines parsed with
  * `google.protobuf.json_format.Parse`, tests/test_conversion.py:99-105).
  *
  * Conventions handled (visible in the fixtures, FIXTURES.md §1):
  * int64/uint64/fixed64 as strings (numbers also accepted), bytes as
  * base64 (std or URL-safe), enums by name (or number), Timestamp as
  * RFC3339 strings, Duration as "1.5s" strings, Date/TimeOfDay as plain
  * objects, wrappers as bare values, Empty as {}, original field names
  * (camelCase also accepted on read; a key that names no field raises).
  */
object ProtoJson {

  // duplicate keys and trailing tokens are errors, as in json_format.Parse
  private val mapper = new ObjectMapper()
    .enable(JsonParser.Feature.STRICT_DUPLICATE_DETECTION)
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

  /** One proto-JSON object as a message of `md`. Anything the proto3 JSON
    * mapping rejects — malformed JSON, a value of the wrong JSON kind, an
    * integer out of its field's range or with a fraction, a key that names
    * no field, an unknown enum name, a bad Timestamp or Duration, nesting past
    * [[ProtoWire.MaxDecodeDepth]] — raises IllegalArgumentException, and
    * nothing else. */
  def parse(json: String, md: PMessageDesc, reg: ProtoRegistry): DynamicMessage = {
    val node = try mapper.readTree(json) catch {
      case e: JsonProcessingException =>
        throw new IllegalArgumentException(s"malformed JSON: ${e.getOriginalMessage}", e)
    }
    fromNode(node, md, reg, 0)
  }

  private def fromNode(node: JsonNode, md: PMessageDesc, reg: ProtoRegistry,
      depth: Int): DynamicMessage = {
    require(node != null && node.isObject, s"expected object for ${md.fullName}, got $node")
    ProtoWire.checkDepth(depth)
    var values = Map.empty[Int, Any]
    var known = 0
    md.fields.foreach { f =>
      val n = if (node.has(f.name)) node.get(f.name) else node.get(camel(f.name))
      if (n != null) known += 1
      if (n != null && !n.isNull) {
        val v =
          if (f.isMap) {
            if (!n.isObject) invalid(n, f.typ)
            n.properties().asScala.map { e =>
              parseMapKey(e.getKey, f.mapKey, reg) -> parseValue(e.getValue, f.mapValue, reg, depth)
            }.toMap
          } else if (f.repeated) {
            if (!n.isArray) invalid(n, f.typ)
            n.elements().asScala.map(e => parseValue(e, f.typ, reg, depth)).toVector
          } else parseValue(n, f.typ, reg, depth)
        values += (f.number -> v)
      }
    }
    // a key that names no field is an error, as in json_format.Parse
    // without ignore_unknown_fields; so is a field under both its names
    if (known != node.size) throw new IllegalArgumentException(
      s"unknown or repeated field of ${md.fullName} among ${node.fieldNames.asScala.mkString(", ")}")
    DynamicMessage(md, values)
  }

  private def camel(snake: String): String = {
    val parts = snake.split('_')
    parts.head + parts.tail.map(_.capitalize).mkString
  }

  private def invalid(n: Any, t: PType): Nothing =
    throw new IllegalArgumentException(s"invalid proto JSON value for $t: $n")

  /** Map keys are strings: integers in decimal, bools as true/false. */
  private def parseMapKey(key: String, t: PType, reg: ProtoRegistry): Any = t match {
    case PType.PString => key
    case PType.PBool => key match {
      case "true" => true
      case "false" => false
      case _ => invalid(key, t)
    }
    case _ => parseValue(TextNode.valueOf(key), t, reg, 0)
  }

  private def base64(s: String): Bytes = {
    val dec = if (s.contains('-') || s.contains('_'))
      java.util.Base64.getUrlDecoder else java.util.Base64.getDecoder
    Bytes.owned(dec.decode(s))
  }

  private val IntegerText = "[+-]?[0-9]+".r
  private val DecimalText = "[+-]?([0-9]+[.]?[0-9]*|[.][0-9]+)([eE][+-]?[0-9]+)?".r
  private val UInt64Max = BigInt(1) << 64

  /** An integer in [lo, hi]: a JSON number without a fraction, or a
    * decimal integer string. */
  private def integral(n: JsonNode, t: PType, lo: BigInt, hi: BigInt): BigInt = {
    val v: BigInt =
      if (n.isIntegralNumber) n.bigIntegerValue
      else if (n.isFloatingPointNumber && n.decimalValue.stripTrailingZeros.scale <= 0)
        n.decimalValue.toBigIntegerExact
      else if (n.isTextual && IntegerText.matches(n.textValue)) BigInt(n.textValue)
      else invalid(n, t)
    if (v < lo || v > hi) invalid(n, t)
    v
  }

  /** A finite JSON number, a decimal string, or "NaN"/"Infinity"/"-Infinity". */
  private def floating(n: JsonNode, t: PType): Double =
    if (n.isNumber) {
      val d = n.doubleValue
      val max = if (t == PType.PFloat) Float.MaxValue.toDouble else Double.MaxValue
      if (d.isInfinite || math.abs(d) > max) invalid(n, t)
      d
    } else if (n.isTextual) n.textValue match {
      case "NaN" => Double.NaN
      case "Infinity" => Double.PositiveInfinity
      case "-Infinity" => Double.NegativeInfinity
      case s if DecimalText.matches(s) => s.toDouble
      case _ => invalid(n, t)
    } else invalid(n, t)

  private def text(n: JsonNode, t: PType): String = if (n.isTextual) n.textValue else invalid(n, t)

  /** One value of type `t` in a message at nesting `depth`. */
  private def parseValue(n: JsonNode, t: PType, reg: ProtoRegistry, depth: Int): Any = t match {
    case PType.PDouble => floating(n, t)
    case PType.PFloat => floating(n, t).toFloat
    case PType.PInt32 | PType.PSInt32 | PType.PSFixed32 =>
      integral(n, t, Int.MinValue, Int.MaxValue).toInt
    case PType.PInt64 | PType.PSInt64 | PType.PSFixed64 =>
      integral(n, t, Long.MinValue, Long.MaxValue).toLong
    case PType.PUInt32 | PType.PFixed32 => integral(n, t, 0, 0xFFFFFFFFL).toLong
    case PType.PUInt64 | PType.PFixed64 => integral(n, t, 0, UInt64Max - 1).toLong // bit-preserving
    case PType.PBool => if (n.isBoolean) n.booleanValue else invalid(n, t)
    case PType.PString => text(n, t)
    case PType.PBytes => base64(text(n, t))
    case PType.PEnum(name) =>
      // a name, or any int32 number (proto3 enums are open)
      if (n.isTextual) reg.enum(name).nameToNumber.get(n.textValue) match {
        case Some(v) => v
        case None if IntegerText.matches(n.textValue) => integral(n, t, Int.MinValue, Int.MaxValue).toInt
        case None => invalid(n, t)
      } else integral(n, t, Int.MinValue, Int.MaxValue).toInt
    case PType.PMessage(WellKnown.TimestampName) =>
      // proto3 JSON accepts any RFC 3339 offset, not just 'Z'
      // (json_format normalizes "+08:00" etc. to UTC); Instant.parse is
      // ISO_INSTANT and would reject those
      val i = try java.time.OffsetDateTime.parse(text(n, t)).toInstant catch {
        case _: java.time.format.DateTimeParseException => invalid(n, t)
      }
      DynamicMessage(WellKnown.timestamp, Map(1 -> i.getEpochSecond, 2 -> i.getNano))
    case PType.PMessage(WellKnown.DurationName) =>
      val s = text(n, t)
      if (!s.endsWith("s") || !DecimalText.matches(s.dropRight(1))) invalid(n, t)
      val bd = new java.math.BigDecimal(s.dropRight(1))
      // seconds within ±10,000 years and at most nanosecond precision
      if (bd.abs.compareTo(java.math.BigDecimal.valueOf(315576000000L)) > 0 ||
        bd.stripTrailingZeros.scale > 9) invalid(n, t)
      val secs = bd.longValue() // truncation toward zero: proto sign rule
      val nanos = bd.subtract(java.math.BigDecimal.valueOf(secs)).movePointRight(9).intValueExact()
      DynamicMessage(WellKnown.duration, Map(1 -> secs, 2 -> nanos))
    case PType.PMessage(name) if WellKnown.isWrapper(name) =>
      DynamicMessage(reg.message(name),
        Map(1 -> parseValue(n, WellKnown.wrapperNames(name), reg, depth)))
    case PType.PMessage(name) => fromNode(n, reg.message(name), reg, depth + 1)
  }

  // ------------------------------------------------------------------ write

  def toJson(m: DynamicMessage, reg: ProtoRegistry): String =
    mapper.writeValueAsString(toNode(m, reg))

  def toNode(m: DynamicMessage, reg: ProtoRegistry): ObjectNode = {
    val node = mapper.createObjectNode()
    m.descriptor.fields.foreach { f =>
      m.get(f.number).foreach { v =>
        if (f.isMap) {
          val o = node.putObject(f.name)
          v.asInstanceOf[Map[Any, Any]].foreach { case (k, mv) =>
            writeValue(o, mapKeyString(k), mv, f.mapValue, reg)
          }
        } else if (f.repeated) {
          val a = node.putArray(f.name)
          v.asInstanceOf[Vector[Any]].foreach(e => appendValue(a, e, f.typ, reg))
        } else writeValue(node, f.name, v, f.typ, reg)
      }
    }
    node
  }

  private def mapKeyString(k: Any): String = k match {
    case l: Long => l.toString
    case other => other.toString
  }

  private def scalarNode(v: Any, t: PType, reg: ProtoRegistry): JsonNode = t match {
    case PType.PDouble => mapper.getNodeFactory.numberNode(v.asInstanceOf[Double])
    case PType.PFloat => mapper.getNodeFactory.numberNode(v.asInstanceOf[Float])
    case PType.PInt32 | PType.PSInt32 | PType.PSFixed32 =>
      mapper.getNodeFactory.numberNode(v.asInstanceOf[Int])
    case PType.PInt64 | PType.PSInt64 | PType.PSFixed64 =>
      mapper.getNodeFactory.textNode(v.toString)
    case PType.PUInt32 | PType.PFixed32 =>
      mapper.getNodeFactory.numberNode(v.asInstanceOf[Long])
    case PType.PUInt64 | PType.PFixed64 =>
      mapper.getNodeFactory.textNode(
        java.lang.Long.toUnsignedString(v.asInstanceOf[Long]))
    case PType.PBool => mapper.getNodeFactory.booleanNode(v.asInstanceOf[Boolean])
    case PType.PString => mapper.getNodeFactory.textNode(v.asInstanceOf[String])
    case PType.PBytes => mapper.getNodeFactory.textNode(
      java.util.Base64.getEncoder.encodeToString(v.asInstanceOf[Bytes].toArray))
    case PType.PEnum(name) =>
      val ed = reg.enum(name)
      val num = v.asInstanceOf[Int]
      ed.numberToName.get(num) match {
        case Some(nm) => mapper.getNodeFactory.textNode(nm)
        case None => mapper.getNodeFactory.numberNode(num)
      }
    case PType.PMessage(WellKnown.TimestampName) =>
      val m = v.asInstanceOf[DynamicMessage]
      val i = Instant.ofEpochSecond(
        m.getOrDefault(WellKnown.timestamp.byName("seconds")).asInstanceOf[Long],
        m.getOrDefault(WellKnown.timestamp.byName("nanos")).asInstanceOf[Int])
      mapper.getNodeFactory.textNode(i.toString)
    case PType.PMessage(WellKnown.DurationName) =>
      val m = v.asInstanceOf[DynamicMessage]
      val secs = m.getOrDefault(WellKnown.duration.byName("seconds")).asInstanceOf[Long]
      val nanos = m.getOrDefault(WellKnown.duration.byName("nanos")).asInstanceOf[Int]
      val bd = java.math.BigDecimal.valueOf(secs)
        .add(java.math.BigDecimal.valueOf(nanos.toLong, 9))
      mapper.getNodeFactory.textNode(bd.stripTrailingZeros().toPlainString + "s")
    case PType.PMessage(name) if WellKnown.isWrapper(name) =>
      val inner = v.asInstanceOf[DynamicMessage]
        .getOrDefault(reg.message(name).byName("value"))
      scalarNode(inner, WellKnown.wrapperNames(name), reg)
    case PType.PMessage(_) => toNode(v.asInstanceOf[DynamicMessage], reg)
  }

  private def writeValue(o: ObjectNode, name: String, v: Any, t: PType,
      reg: ProtoRegistry): Unit = { o.set(name, scalarNode(v, t, reg)); () }

  private def appendValue(a: ArrayNode, v: Any, t: PType, reg: ProtoRegistry): Unit = {
    a.add(scalarNode(v, t, reg)); ()
  }
}
