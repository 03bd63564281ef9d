package graft.conv

import java.nio.charset.StandardCharsets.UTF_8
import java.time.LocalDate
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.proto._
import graft.proto.PType._

/** Encode (messages → rows, SURVEY.md §2 A2) and decode (rows → messages,
  * A3/A5), as schema-compiled converter trees over catalyst's internal
  * representations (UTF8String, epoch micros/days, InternalRow,
  * ArrayData/MapData) — one tree, the shape of Spark's own
  * ProtobufSerializer/ProtobufDeserializer. Its enum and well-known-type
  * leaves are defined once, below, and shared with the direct wire codec
  * ([[WireRows]]) that the wire scans use. All dispatch
  * happens once per (descriptor, config) on the driver — mirroring the
  * reference's compile-once discipline (`_get_converter`
  * proto_to_arrow.py:386-414, `MessageExtractor.__init__`
  * message_extractor.py:144-154) — and the per-row closures are
  * Serializable so they run inside executors (mapPartitions) as well as on
  * collected rows. The external-`Row` APIs go through [[rowWriter]] /
  * [[rowReader]], which only compose this tree with Spark's
  * `CatalystTypeConverters`.
  */
object Codecs {

  // ---------------------------------------------------------------- leaves
  // Every enum and well-known-type conversion is defined once, here: the
  // DynamicMessage trees below and the direct wire codec ([[WireRows]])
  // both call these.

  /** Enum number → name; an unknown number takes the first declared name
    * (proto_to_arrow.py:236-264). */
  def enumName(ed: PEnumDesc, n: Int): String = ed.numberToName.getOrElse(n, ed.firstName)

  /** Enum name → number; an unknown name reads as 0
    * (arrow_to_proto.py:279-291). */
  def enumNumber(ed: PEnumDesc, name: String): Int = ed.nameToNumber.getOrElse(name, 0)

  /** Timestamp → epoch µs, floored to the configured unit (µs at finest):
    * Instant's normalisation of (secs, floored nanos), then the µs count if
    * Long holds it (the seconds it holds are inside Instant's bounds). Like
    * every leaf below, long arithmetic with no allocation per value. */
  def timestampMicros(secs: Long, nanos: Int, cfg: GraftConfig): Long = {
    val adj = nanos - nanos % math.max(cfg.timestampUnit.nanos, 1000L)
    try {
      val s = Math.addExact(secs, Math.floorDiv(adj, 1000000000L))
      val micros = Math.floorMod(adj, 1000000000L) / 1000L
      // below zero through s + 1, so that the range's first second holds
      if (s < 0 && micros > 0) Math.addExact(Math.multiplyExact(s + 1, 1000000L), micros - 1000000L)
      else Math.addExact(Math.multiplyExact(s, 1000000L), micros)
    } catch {
      case e: ArithmeticException => throw outOfRange(WellKnown.TimestampName, s"seconds=$secs nanos=$nanos", e)
    }
  }
  def timestampSeconds(micros: Long): Long = Math.floorDiv(micros, 1000000L)
  def timestampNanos(micros: Long): Int = (Math.floorMod(micros, 1000000L) * 1000L).toInt

  /** Date → epoch day; year 0 (unset) is the sentinel day
    * (docs/types.md:79-84). Otherwise `LocalDate.of`'s validation (year
    * within ±999,999,999, month, the month's days) and `toEpochDay`, if
    * Int holds it. */
  def dateDays(year: Int, month: Int, day: Int): Int =
    if (year == 0) SchemaConversion.DateSentinelEpochDay.toInt
    else {
      val leap = (year & 3) == 0 && (year % 100 != 0 || year % 400 == 0)
      val monthDays = if (month == 2) (if (leap) 29 else 28)
        else if (month == 4 || month == 6 || month == 9 || month == 11) 30 else 31
      val y = year.toLong
      val days = 365 * y + (if (y >= 0) (y + 3) / 4 - (y + 99) / 100 + (y + 399) / 400
        else y / 4 - y / 100 + y / 400) +
        (367 * month - 362) / 12 + day - 1 - (if (month <= 2) 0 else if (leap) 1 else 2) - 719528
      if (year < -999999999 || year > 999999999 || month < 1 || month > 12 || day < 1 ||
        day > monthDays || days != days.toInt)
        throw outOfRange(WellKnown.DateName, s"year=$year month=$month day=$day", null)
      days.toInt
    }

  /** Epoch day → its date; null for the sentinel (an unset Date). */
  def dateOf(days: Int): LocalDate =
    if (days == SchemaConversion.DateSentinelEpochDay) null else LocalDate.ofEpochDay(days.toLong)

  /** TimeOfDay → ticks of the configured unit. */
  def timeOfDayTicks(hours: Int, minutes: Int, seconds: Int, nanos: Int,
      cfg: GraftConfig): Long =
    try Math.addExact(Math.multiplyExact(hours * 3600L + minutes * 60L + seconds,
      1000000000L), nanos.toLong) / cfg.timeOfDayUnit.nanos
    catch { case e: ArithmeticException => throw outOfRange(WellKnown.TimeOfDayName,
      s"hours=$hours minutes=$minutes seconds=$seconds nanos=$nanos", e) }

  /** Ticks → the TimeOfDay's nanoseconds, which [[timeOfDayField]] splits
    * into its fields; ticks past a Long of nanoseconds raise. */
  def timeOfDayNanos(ticks: Long, cfg: GraftConfig): Long =
    try Math.multiplyExact(ticks, cfg.timeOfDayUnit.nanos)
    catch { case e: ArithmeticException =>
      throw outOfRange(WellKnown.TimeOfDayName, s"ticks=$ticks", e) }

  /** TimeOfDay field `number` (1 hours, 2 minutes, 3 seconds, 4 nanos) of
    * [[timeOfDayNanos]]'s `nanos`. */
  def timeOfDayField(nanos: Long, number: Int): Int = number match {
    case 1 => (nanos / 3600000000000L).toInt
    case 2 => ((nanos / 60000000000L) % 60).toInt
    case 3 => ((nanos / 1000000000L) % 60).toInt
    case _ => (nanos % 1000000000L).toInt
  }

  /** Duration → ticks of the configured unit. */
  def durationTicks(secs: Long, nanos: Int, cfg: GraftConfig): Long =
    try Math.addExact(Math.multiplyExact(secs, 1000000000L / cfg.durationUnit.nanos),
      nanos / cfg.durationUnit.nanos)
    catch { case e: ArithmeticException =>
      throw outOfRange(WellKnown.DurationName, s"seconds=$secs nanos=$nanos", e) }

  // ticks → Duration by floor decomposition: nanos always >= 0, like the
  // reference's Python // and % (arrow_to_proto.py:84-104)
  def durationSeconds(ticks: Long, cfg: GraftConfig): Long =
    Math.floorDiv(ticks, 1000000000L / cfg.durationUnit.nanos)
  def durationNanos(ticks: Long, cfg: GraftConfig): Int =
    (Math.floorMod(ticks, 1000000000L / cfg.durationUnit.nanos) * cfg.durationUnit.nanos).toInt

  /** A Timestamp, Date, TimeOfDay or Duration that its column cannot hold
    * (seconds past the µs range, month 13, ticks past Long) comes from the
    * input, not from an engine fault: it raises IllegalArgumentException,
    * which the ingest scans treat as a malformed record. */
  private def outOfRange(typeName: String, fields: String, cause: Throwable) =
    new IllegalArgumentException(s"$typeName out of range: $fields", cause)

  /** A message type already on the path from the root is a recursion,
    * pruned to struct<> (proto_to_arrow.py:341-345): the payload is
    * dropped, presence survives as an empty row. */
  def pruned(messageName: String, trace: Vector[String]): Boolean = trace.contains(messageName)

  // ---------------------------------------------------------------- encode

  /** Compiled writer: proto field value (canonical DynamicMessage repr) →
    * catalyst internal value. */
  type ValueWriter = Any => Any

  /** Scalar/WKT encoder for a single (non-repeated) value of type `t`.
    * `trace` mirrors schema derivation: a recursive message type under
    * skipRecursiveMessages writes the pruned empty struct. */
  def catalystValueWriter(t: PType, cfg: GraftConfig, reg: ProtoRegistry,
      trace: Vector[String] = Vector.empty): ValueWriter = t match {
    case PDouble | PFloat | PInt32 | PSInt32 | PSFixed32 | PInt64 | PSInt64 |
         PSFixed64 | PUInt32 | PFixed32 | PUInt64 | PFixed64 | PBool =>
      identity
    case PString => v => UTF8String.fromString(v.asInstanceOf[String])
    case PBytes => v => v.asInstanceOf[Bytes].toArray
    case PEnum(name) =>
      val ed = reg.enum(name)
      if (!cfg.enumType.nameBased) identity
      else if (cfg.enumType.binary) v => enumName(ed, v.asInstanceOf[Int]).getBytes(UTF_8)
      else v => UTF8String.fromString(enumName(ed, v.asInstanceOf[Int]))
    case PMessage(WellKnown.TimestampName) =>
      v => {
        val m = v.asInstanceOf[DynamicMessage]
        timestampMicros(m.getOrDefault(WellKnown.timestamp.fields(0)).asInstanceOf[Long],
          m.getOrDefault(WellKnown.timestamp.fields(1)).asInstanceOf[Int], cfg)
      }
    case PMessage(WellKnown.DateName) =>
      v => {
        def i(k: Int) = v.asInstanceOf[DynamicMessage]
          .getOrDefault(WellKnown.date.fields(k)).asInstanceOf[Int]
        dateDays(i(0), i(1), i(2))
      }
    case PMessage(WellKnown.TimeOfDayName) =>
      v => {
        def i(k: Int) = v.asInstanceOf[DynamicMessage]
          .getOrDefault(WellKnown.timeOfDay.fields(k)).asInstanceOf[Int]
        timeOfDayTicks(i(0), i(1), i(2), i(3), cfg)
      }
    case PMessage(WellKnown.DurationName) =>
      v => {
        val m = v.asInstanceOf[DynamicMessage]
        durationTicks(m.getOrDefault(WellKnown.duration.fields(0)).asInstanceOf[Long],
          m.getOrDefault(WellKnown.duration.fields(1)).asInstanceOf[Int], cfg)
      }
    case PMessage(name) if WellKnown.isWrapper(name) =>
      val inner = catalystValueWriter(WellKnown.wrapperNames(name), cfg, reg, trace)
      val field = reg.message(name).byName("value")
      v => inner(v.asInstanceOf[DynamicMessage].getOrDefault(field))
    case PMessage(WellKnown.EmptyName) => _ => InternalRow.empty
    case PMessage(name) if pruned(name, trace) => _ => InternalRow.empty
    case PMessage(name) =>
      val rw = catalystRowWriter(reg.message(name), cfg, reg, trace :+ name)
      v => rw(v.asInstanceOf[DynamicMessage])
  }

  /** One field of a message → the cell value (null for absent presence
    * fields; defaults for absent plain fields — proto_to_arrow.py:417-453,
    * 604-616). */
  def catalystFieldWriter(f: PField, cfg: GraftConfig, reg: ProtoRegistry,
      trace: Vector[String]): DynamicMessage => Any = {
    if (f.isMap) {
      val kw = catalystValueWriter(f.mapKey, cfg, reg, trace)
      val vw = catalystValueWriter(f.mapValue, cfg, reg, trace)
      if (cfg.mapAsList) { m =>
        new GenericArrayData(m.getOrDefault(f).asInstanceOf[Map[Any, Any]]
          .map { case (k, v) => InternalRow(kw(k), vw(v)) }.toArray[Any])
      } else { m =>
        val kvs = m.getOrDefault(f).asInstanceOf[Map[Any, Any]].toArray
        new ArrayBasedMapData(
          new GenericArrayData(kvs.map(kv => kw(kv._1))),
          new GenericArrayData(kvs.map(kv => vw(kv._2))))
      }
    } else if (f.repeated) {
      val vw = catalystValueWriter(f.typ, cfg, reg, trace)
      m => new GenericArrayData(
        m.getOrDefault(f).asInstanceOf[Vector[Any]].map(vw).toArray[Any])
    } else if (f.hasPresence) {
      val vw = catalystValueWriter(f.typ, cfg, reg, trace)
      m => m.get(f.number) match {
        case Some(v) => vw(v)
        case None => null
      }
    } else {
      val vw = catalystValueWriter(f.typ, cfg, reg, trace)
      m => vw(m.getOrDefault(f))
    }
  }

  private def catalystRowWriter(md: PMessageDesc, cfg: GraftConfig,
      reg: ProtoRegistry, trace: Vector[String]): DynamicMessage => InternalRow = {
    val writers = md.fields.map(f => catalystFieldWriter(f, cfg, reg, trace)).toArray
    m => new GenericInternalRow(writers.map(w => w(m)))
  }

  /** Compiled message → InternalRow writer (top-level entry). */
  def internalRowWriter(md: PMessageDesc, cfg: GraftConfig, reg: ProtoRegistry)
      : DynamicMessage => InternalRow =
    catalystRowWriter(md, cfg, reg, Vector(md.fullName))

  /** Message → external `Row` adapter for the Row-based APIs:
    * [[internalRowWriter]] then Spark's own internal→external converter,
    * which emits java.time cells (Instant / LocalDate — proleptic, exact
    * for every proto instant, the 1582 cutover gap included) whatever the
    * session's `datetime.java8API` setting. */
  def rowWriter(md: PMessageDesc, cfg: GraftConfig, reg: ProtoRegistry): DynamicMessage => Row = {
    val write = internalRowWriter(md, cfg, reg)
    val java8 = SQLConf.get.clone()
    java8.setConf(SQLConf.DATETIME_JAVA8API_ENABLED, true)
    val toRow = SQLConf.withExistingConf(java8)(
      CatalystTypeConverters.createToScalaConverter(SchemaConversion.messageTypeToSchema(md, cfg, reg)))
    m => toRow(write(m)).asInstanceOf[Row]
  }

  // ---------------------------------------------------------------- decode

  /** Scalar/WKT decoder: catalyst internal value of Spark type `dt` →
    * canonical proto value. */
  private[conv] def catalystValueReader(t: PType, dt: DataType, cfg: GraftConfig,
      reg: ProtoRegistry): Any => Any = t match {
    case PDouble | PFloat | PBool => identity
    case PInt32 | PSInt32 | PSFixed32 => v => v.asInstanceOf[Int]
    case PInt64 | PSInt64 | PSFixed64 => v => v.asInstanceOf[Long]
    case PUInt32 | PFixed32 | PUInt64 | PFixed64 => v => toLong(v)
    case PString => v => v.asInstanceOf[UTF8String].toString
    case PBytes => v => Bytes(v.asInstanceOf[Array[Byte]])
    case PEnum(name) =>
      val ed = reg.enum(name)
      if (!cfg.enumType.nameBased) v => v.asInstanceOf[Int]
      else if (cfg.enumType.binary)
        v => enumNumber(ed, new String(v.asInstanceOf[Array[Byte]], UTF_8))
      else v => enumNumber(ed, v.asInstanceOf[UTF8String].toString)
    case PMessage(WellKnown.TimestampName) if dt == TimestampType =>
      v => {
        val micros = v.asInstanceOf[Long]
        DynamicMessage(WellKnown.timestamp,
          Map(1 -> timestampSeconds(micros), 2 -> timestampNanos(micros)))
      }
    case PMessage(WellKnown.DateName) if dt == DateType =>
      v => {
        val ld = dateOf(v.asInstanceOf[Int])
        if (ld == null) DynamicMessage.empty(WellKnown.date) // sentinel → unset Date()
        else DynamicMessage(WellKnown.date,
          Map(1 -> ld.getYear, 2 -> ld.getMonthValue, 3 -> ld.getDayOfMonth))
      }
    case PMessage(WellKnown.TimeOfDayName) =>
      v => {
        val n = timeOfDayNanos(toLong(v), cfg)
        DynamicMessage(WellKnown.timeOfDay, Map(1 -> timeOfDayField(n, 1),
          2 -> timeOfDayField(n, 2), 3 -> timeOfDayField(n, 3), 4 -> timeOfDayField(n, 4)))
      }
    case PMessage(WellKnown.DurationName) =>
      v => {
        val ticks = toLong(v)
        DynamicMessage(WellKnown.duration,
          Map(1 -> durationSeconds(ticks, cfg), 2 -> durationNanos(ticks, cfg)))
      }
    case PMessage(name) if WellKnown.isWrapper(name) =>
      val wrapperDesc = reg.message(name)
      val inner = catalystValueReader(WellKnown.wrapperNames(name), dt, cfg, reg)
      v => DynamicMessage(wrapperDesc, Map(1 -> inner(v)))
    case PMessage(WellKnown.EmptyName) =>
      _ => DynamicMessage.empty(WellKnown.empty)
    // nested messages decode against the struct type actually in the data,
    // which may have fewer columns than the descriptor
    // (tests/test_coverage.py:345-369)
    case PMessage(name) if !WellKnown.isWellKnown(name) && dt.isInstanceOf[StructType] =>
      val rr = internalRowReader(reg.message(name), dt.asInstanceOf[StructType], cfg, reg)
      v => rr(v.asInstanceOf[InternalRow])
    case _ =>
      v => throw new IllegalArgumentException(s"cannot decode a $dt cell as $t: $v")
  }

  def toLong(v: Any): Long = v match {
    case l: Long => l
    case i: Int => i.toLong
    case other => throw new IllegalArgumentException(s"not integral: $other")
  }

  private def compileCatalystFieldReader(f: PField, idx: Int, dt: DataType,
      cfg: GraftConfig, reg: ProtoRegistry): InternalRow => Option[(Int, Any)] = {
    if (f.isMap) {
      val (kDt, vDt) = dt match {
        case ArrayType(StructType(fields), _) if cfg.mapAsList =>
          (fields(0).dataType, fields(1).dataType)
        case MapType(kt, vt, _) => (kt, vt)
        case other => (other, other)
      }
      val kr = catalystValueReader(f.mapKey, kDt, cfg, reg)
      val vr = catalystValueReader(f.mapValue, vDt, cfg, reg)
      // null map VALUE → entry with the proto default (mirrors the
      // reference's _merge_assign_map: a None message value materializes
      // the key with a default entry, arrow_to_proto.py:399-404)
      val defaultV: Any = f.mapValue match {
        case PMessage(name) => DynamicMessage.empty(reg.message(name))
        case t => PType.defaultOf(t)
      }
      def vOrDefault(v: Any): Any = if (v == null) defaultV else vr(v)
      if (cfg.mapAsList) { (row: InternalRow) =>
        if (row.isNullAt(idx)) None
        else {
          val entries = row.getArray(idx)
          val n = entries.numElements()
          var m = Map.empty[Any, Any]
          var i = 0
          while (i < n) {
            val e = entries.getStruct(i, 2)
            m += kr(e.get(0, kDt)) -> vOrDefault(e.get(1, vDt))
            i += 1
          }
          if (m.isEmpty) None else Some(f.number -> m)
        }
      } else { (row: InternalRow) =>
        if (row.isNullAt(idx)) None
        else {
          val md = row.getMap(idx)
          val ks = md.keyArray().toObjectArray(kDt)
          val vs = md.valueArray().toObjectArray(vDt)
          var m = Map.empty[Any, Any]
          var i = 0
          while (i < ks.length) { m += kr(ks(i)) -> vOrDefault(vs(i)); i += 1 }
          if (m.isEmpty) None else Some(f.number -> m)
        }
      }
    } else if (f.repeated) {
      val elemType = dt match {
        case ArrayType(et, _) => et
        case other => other
      }
      val vr = catalystValueReader(f.typ, elemType, cfg, reg)
      (row: InternalRow) =>
        if (row.isNullAt(idx)) None
        else {
          // a null ELEMENT raises loudly: proto repeated fields cannot
          // hold nulls, and silently dropping the element would shrink
          // the list and break positional correlation (the reference
          // errors on the same input — AppendAssigner converts the null
          // scalar and protobuf rejects the None append)
          val xs = row.getArray(idx).toObjectArray(elemType).map { v =>
            if (v == null) throw new IllegalArgumentException(
              s"null element in repeated field ${f.name}: proto repeated " +
                "fields cannot represent null")
            vr(v)
          }.toVector
          if (xs.isEmpty) None else Some(f.number -> xs)
        }
    } else {
      val vr = catalystValueReader(f.typ, dt, cfg, reg)
      (row: InternalRow) =>
        if (row.isNullAt(idx)) None // null → unset (presence) / default (plain)
        else Some(f.number -> vr(row.get(idx, dt)))
    }
  }

  /** Compiled InternalRow → message reader against a concrete row schema.
    * Columns missing from the schema are skipped (the reference's
    * tolerate-missing-columns semantics, arrow_to_proto.py:633-656);
    * null cells in non-presence positions read as proto defaults. */
  def internalRowReader(md: PMessageDesc, schema: StructType, cfg: GraftConfig,
      reg: ProtoRegistry): InternalRow => DynamicMessage = {
    val steps = md.fields.flatMap { f =>
      val idx = schema.fieldNames.indexOf(f.name)
      if (idx < 0) None // column absent: skip field
      else Some(compileCatalystFieldReader(f, idx, schema.fields(idx).dataType, cfg, reg))
    }.toArray
    row => {
      var values = Map.empty[Int, Any]
      steps.foreach { step =>
        step(row).foreach { case (num, v) => values += (num -> v) }
      }
      DynamicMessage(md, values)
    }
  }

  /** External `Row` → message adapter for the Row-based APIs: Spark's own
    * external→internal converter for `schema` (which accepts java.sql and
    * java.time temporal cells alike) then [[internalRowReader]]. */
  def rowReader(md: PMessageDesc, schema: StructType, cfg: GraftConfig,
      reg: ProtoRegistry): Row => DynamicMessage = {
    val toInternal = CatalystTypeConverters.createToCatalystConverter(schema)
    val read = internalRowReader(md, schema, cfg, reg)
    row => read(toInternal(row).asInstanceOf[InternalRow])
  }
}
