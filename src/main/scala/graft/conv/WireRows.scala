package graft.conv

import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, SpecializedGetters}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String
import graft.proto._
import graft.proto.PType._
import graft.proto.ProtoWire.{Len, Reader, Writer}

/** Direct wire ↔ InternalRow codec, the shape of Spark's own
  * ProtobufDeserializer/ProtobufSerializer: wire bytes decode straight into
  * catalyst rows and rows encode straight into wire bytes, with no
  * DynamicMessage in between. Both directions compile once per
  * (descriptor, config, row schema), like [[Codecs]], and give exactly what
  * the DynamicMessage path gives — `Codecs.internalRowWriter(
  * ProtoWire.decode(b))` and `ProtoWire.encode(Codecs.internalRowReader(row))`
  * — except where that path goes through a Scala `Map`: map cells keep
  * each key's first wire (or cell) position, where the old path follows
  * HashMap order above four entries, and every entry of a cell is
  * written, where the old path collapses a key repeated inside one
  * `mapAsList` cell (both decode to the same map). Scalar, enum and
  * well-known-type leaves are [[Codecs]]'s and the wire primitives are
  * [[ProtoWire]]'s.
  */
object WireRows {

  // ================================================================ decode

  /** Compiled wire → row decoder; its rows have the schema
    * `SchemaConversion.messageTypeToSchema(md, cfg, reg)`. Malformed input
    * (truncation, bad lengths, nesting past [[ProtoWire.MaxDecodeDepth]], a
    * well-known-type value its column cannot hold) raises
    * IllegalArgumentException, and nothing else. */
  def decoder(md: PMessageDesc, cfg: GraftConfig, reg: ProtoRegistry): Array[Byte] => InternalRow = {
    val top = new DecoderCompiler(cfg, reg).message(md, Vector(md.fullName))
    bytes => {
      val b = top.builder()
      top.merge(new Reader(bytes), b, 0)
      top.finish(b).asInstanceOf[InternalRow]
    }
  }

  /** One message type at one schema position. A decode fills a builder,
    * one slot per descriptor field in field (= column) order, and
    * [[finish]] turns the builder into the catalyst value once the
    * enclosing message has ended. A pruned (recursive) message still
    * parses its payload, so it rejects what the full decode rejects, but
    * finishes as the empty row without converting anything below it. */
  private final class MsgDec(md: PMessageDesc, leaf: Array[Any] => Any, pruned: Boolean)
      extends Serializable {
    private val size = md.fields.length
    private var fields: Array[FieldDec] = _
    // field number → slot (-1: unknown); the last field wins a duplicated
    // number, as in PMessageDesc.byNumber
    private var dense: Array[Int] = _
    private var sparse: Map[Int, Int] = _

    def init(fs: Seq[FieldDec]): this.type = {
      fields = fs.toArray
      val maxNum = if (md.fields.isEmpty) 0 else md.fields.map(_.number).max
      if (maxNum <= 4096) {
        dense = Array.fill(maxNum + 1)(-1)
        md.fields.zipWithIndex.foreach { case (f, s) => if (f.number >= 0) dense(f.number) = s }
      } else sparse = md.fields.zipWithIndex.map { case (f, s) => f.number -> s }.toMap
      this
    }

    private def slot(num: Int): Int =
      if (dense != null) { if (num >= 0 && num < dense.length) dense(num) else -1 }
      else sparse.getOrElse(num, -1)

    def builder(): Array[Any] = new Array[Any](size)

    /** Decodes one occurrence of the message into `b`: scalars last-win,
      * repeated and map fields append, message fields merge. */
    def merge(r: Reader, b: Array[Any], depth: Int): Unit = {
      ProtoWire.checkDepth(depth)
      while (r.hasMore) {
        val t = r.varint()
        val wt = (t & 7).toInt
        val s = slot((t >>> 3).toInt)
        if (s < 0) r.skip(wt) // unknown field
        else {
          val f = fields(s)
          if ((f.wireTypes & (1 << wt)) == 0) r.skip(wt) // wrong wire type → unknown
          else f.read(r, wt, b, s, depth)
        }
      }
    }

    def finish(b: Array[Any]): Any =
      if (pruned) InternalRow.empty
      else {
        var i = 0
        while (i < size) { b(i) = fields(i).finish(b(i)); i += 1 }
        leaf(b)
      }
  }

  /** One value of a field's type: its wire read and its catalyst finish. */
  private abstract class ValueDec extends Serializable {
    /** Reads one occurrence; a message value merges into `prev`. */
    def read(r: Reader, prev: Any, depth: Int): Any
    def finish(v: Any): Any
    /** The value an absent field reads as, before and after finishing. */
    def absent: Any
    def finishAbsent(): Any
  }

  /** Scalars read as their catalyst value (numbers, UTF8String, bytes) or,
    * for enums, as the number that `finish` converts. */
  private final class ScalarDec(readFn: Reader => Any, finishFn: Any => Any, val absent: Any)
      extends ValueDec {
    private val finishedAbsent = finishFn(absent)
    def read(r: Reader, prev: Any, depth: Int): Any = readFn(r)
    def finish(v: Any): Any = finishFn(v)
    def finishAbsent(): Any = finishedAbsent
  }

  private final class MessageDec(msg: MsgDec) extends ValueDec {
    def read(r: Reader, prev: Any, depth: Int): Any = {
      val sub = r.slice()
      val b = if (prev == null) msg.builder() else prev.asInstanceOf[Array[Any]]
      msg.merge(sub, b, depth + 1)
      b
    }
    def finish(v: Any): Any = msg.finish(v.asInstanceOf[Array[Any]])
    def absent: Any = null
    def finishAbsent(): Any = msg.finish(msg.builder())
  }

  /** One field: the wire types it accepts, how an occurrence updates its
    * slot, and how the slot becomes the cell. */
  private abstract class FieldDec(f: PField) extends Serializable {
    val wireTypes: Int = (0 until 8).filter(ProtoWire.wireTypeMatches(f, _)).map(1 << _).sum
    def read(r: Reader, wt: Int, b: Array[Any], s: Int, depth: Int): Unit
    def finish(v: Any): Any
  }

  private final class SingularDec(f: PField, value: ValueDec) extends FieldDec(f) {
    private val plain = !f.hasPresence
    def read(r: Reader, wt: Int, b: Array[Any], s: Int, depth: Int): Unit =
      b(s) = value.read(r, b(s), depth)
    // a plain field equal to its default (-0.0 included) is absent, as in
    // DynamicMessage; an absent presence field is null
    def finish(v: Any): Any =
      if (v == null) { if (plain) value.finishAbsent() else null }
      else if (plain && v == value.absent) value.finishAbsent()
      else value.finish(v)
  }

  private val emptyArray = new GenericArrayData(Array.empty[Any])

  private final class RepeatedDec(f: PField, value: ValueDec) extends FieldDec(f) {
    private val packable = ProtoWire.packable(f.typ)
    def read(r: Reader, wt: Int, b: Array[Any], s: Int, depth: Int): Unit = {
      var xs = b(s).asInstanceOf[mutable.ArrayBuffer[Any]]
      if (xs == null) { xs = mutable.ArrayBuffer.empty[Any]; b(s) = xs }
      if (wt == Len && packable) {
        val pr = r.slice()
        while (pr.hasMore) xs += value.read(pr, null, depth)
      } else xs += value.read(r, null, depth)
    }
    def finish(v: Any): Any =
      if (v == null) emptyArray
      else {
        val xs = v.asInstanceOf[mutable.ArrayBuffer[Any]]
        val out = new Array[Any](xs.length)
        var i = 0
        while (i < out.length) { out(i) = value.finish(xs(i)); i += 1 }
        new GenericArrayData(out)
      }
  }

  /** A map field. An entry field whose wire type does not match is
    * skipped, a message value occurring twice in one entry merges
    * (protobuf-java's MapEntryLite.parseEntry), and a repeated key keeps
    * its first position and takes the last value. */
  private final class MapDec(f: PField, key: ValueDec, value: ValueDec, asList: Boolean)
      extends FieldDec(f) {
    private val keyWt = ProtoWire.wireType(f.mapKey)
    private val valueWt = ProtoWire.wireType(f.mapValue)
    def read(r: Reader, wt: Int, b: Array[Any], s: Int, depth: Int): Unit = {
      val er = r.slice()
      var k: Any = key.absent
      var v: Any = null
      while (er.hasMore) {
        val t = er.varint()
        val ewt = (t & 7).toInt
        (t >>> 3).toInt match {
          case 1 if ewt == keyWt => k = key.read(er, null, depth)
          case 2 if ewt == valueWt => v = value.read(er, v, depth)
          case _ => er.skip(ewt)
        }
      }
      var m = b(s).asInstanceOf[java.util.LinkedHashMap[Any, Any]]
      if (m == null) { m = new java.util.LinkedHashMap[Any, Any](); b(s) = m }
      m.put(k, v)
    }
    def finish(v: Any): Any = {
      val m = v.asInstanceOf[java.util.LinkedHashMap[Any, Any]]
      val n = if (m == null) 0 else m.size
      val ks = new Array[Any](n)
      val vs = new Array[Any](n)
      if (m != null) {
        val it = m.entrySet.iterator
        var i = 0
        while (it.hasNext) {
          val e = it.next()
          ks(i) = key.finish(e.getKey)
          vs(i) = if (e.getValue == null) value.finishAbsent() else value.finish(e.getValue)
          i += 1
        }
      }
      if (asList) new GenericArrayData(Array.tabulate[Any](n)(i => InternalRow(ks(i), vs(i))))
      else new ArrayBasedMapData(new GenericArrayData(ks), new GenericArrayData(vs))
    }
  }

  /** A string's bytes as UTF8String. Bytes that are not valid UTF-8 take
    * the String decoder's replacement characters, as on the DynamicMessage
    * path. */
  private def utf8(b: Array[Byte]): UTF8String = {
    val u = UTF8String.fromBytes(b)
    if (u.isValid) u else UTF8String.fromString(new String(b, UTF_8))
  }

  private final class DecoderCompiler(cfg: GraftConfig, reg: ProtoRegistry) extends Serializable {
    // pruned message types by name: they may be cyclic, so each is
    // registered before its fields compile
    private val prunedDecs = mutable.Map.empty[String, MsgDec]

    def message(md: PMessageDesc, trace: Vector[String]): MsgDec =
      decoderOf(md, new GenericInternalRow(_), trace)

    private def decoderOf(md: PMessageDesc, leaf: Array[Any] => Any,
        trace: Vector[String]): MsgDec =
      new MsgDec(md, leaf, pruned = false).init(md.fields.map(field(_, messageValue(_, trace))))

    private def prunedDec(name: String): MsgDec = prunedDecs.getOrElse(name, {
      val md = reg.message(name)
      val dec = new MsgDec(md, null, pruned = true)
      prunedDecs(name) = dec
      dec.init(md.fields.map(field(_, n => new MessageDec(prunedDec(n)))))
    })

    /** Well-known types finish through their [[Codecs]] leaf once the
      * enclosing message ends, so repeated occurrences merge first. */
    private def messageValue(name: String, trace: Vector[String]): ValueDec = new MessageDec(name match {
      case WellKnown.TimestampName => decoderOf(WellKnown.timestamp,
        b => Codecs.timestampMicros(b(0).asInstanceOf[Long], b(1).asInstanceOf[Int], cfg), trace)
      case WellKnown.DateName => decoderOf(WellKnown.date,
        b => Codecs.dateDays(b(0).asInstanceOf[Int], b(1).asInstanceOf[Int], b(2).asInstanceOf[Int]),
        trace)
      case WellKnown.TimeOfDayName => decoderOf(WellKnown.timeOfDay,
        b => Codecs.timeOfDayTicks(b(0).asInstanceOf[Int], b(1).asInstanceOf[Int],
          b(2).asInstanceOf[Int], b(3).asInstanceOf[Int], cfg), trace)
      case WellKnown.DurationName => decoderOf(WellKnown.duration,
        b => Codecs.durationTicks(b(0).asInstanceOf[Long], b(1).asInstanceOf[Int], cfg), trace)
      case n if WellKnown.isWrapper(n) => decoderOf(reg.message(n), _(0), trace)
      case WellKnown.EmptyName => decoderOf(WellKnown.empty, _ => InternalRow.empty, trace)
      case n if Codecs.pruned(n, trace) => prunedDec(n)
      case n => message(reg.message(n), trace :+ n)
    })

    private def value(t: PType, messageValue: String => ValueDec): ValueDec = t match {
      case PString => new ScalarDec(r => utf8(r.bytes()), identity, UTF8String.EMPTY_UTF8)
      case PBytes => new ScalarDec(_.bytes(), identity, Array.emptyByteArray)
      case PMessage(name) => messageValue(name)
      case _ => new ScalarDec(ProtoWire.readScalar(_, t, reg, 0),
        Codecs.catalystValueWriter(t, cfg, reg), PType.defaultOf(t))
    }

    private def field(f: PField, messageValue: String => ValueDec): FieldDec =
      if (f.isMap) new MapDec(f, value(f.mapKey, messageValue), value(f.mapValue, messageValue),
        cfg.mapAsList)
      else if (f.repeated) new RepeatedDec(f, value(f.typ, messageValue))
      else new SingularDec(f, value(f.typ, messageValue))
  }

  // ================================================================ encode

  /** Compiled row → wire encoder against the rows' actual `schema`
    * (columns missing from it are skipped; nulls read as absent, or as the
    * default for a map value). Each call encodes one row into `w`, which
    * the caller owns and reuses across rows, and returns an exact-length
    * copy. A null element of a repeated field raises
    * IllegalArgumentException. */
  def encoder(md: PMessageDesc, schema: StructType, cfg: GraftConfig,
      reg: ProtoRegistry): (InternalRow, Writer) => Array[Byte] = {
    val top = new EncoderCompiler(cfg, reg).message(md, schema)
    (row, w) => {
      w.reset()
      top.write(row, w)
      w.toByteArray
    }
  }

  /** The fields of one message present in one struct, in ascending field
    * number (the canonical order ProtoWire.encode writes). */
  private final class MsgEnc(fields: Array[FieldEnc]) extends Serializable {
    def write(row: InternalRow, w: Writer): Unit = {
      var i = 0
      while (i < fields.length) { fields(i).write(row, w); i += 1 }
    }
  }

  /** One non-null value of a field's type at `(g, i)`, preceded by `tag`
    * unless it is negative (a packed element). With `omitDefault` (a plain
    * singular field) a value equal to the proto default writes nothing. */
  private abstract class ValueEnc extends Serializable {
    def put(g: SpecializedGetters, i: Int, w: Writer, tag: Long, omitDefault: Boolean): Unit
  }

  private final class ScalarEnc(get: (SpecializedGetters, Int) => Any, toProto: Any => Any,
      default: Any, writeFn: (Writer, Any) => Unit) extends ValueEnc {
    def put(g: SpecializedGetters, i: Int, w: Writer, tag: Long, omitDefault: Boolean): Unit = {
      val v = toProto(get(g, i))
      if (!(omitDefault && v == default)) {
        if (tag >= 0) w.varint(tag)
        writeFn(w, v)
      }
    }
  }

  private final class StringEnc(get: (SpecializedGetters, Int) => Any) extends ValueEnc {
    def put(g: SpecializedGetters, i: Int, w: Writer, tag: Long, omitDefault: Boolean): Unit = {
      val u = get(g, i).asInstanceOf[UTF8String]
      val n = u.numBytes
      if (!(omitDefault && n == 0)) {
        if (tag >= 0) w.varint(tag)
        if (u.isValid) {
          w.varint(n.toLong)
          u.writeToMemory(w.claim(n), Platform.BYTE_ARRAY_OFFSET + w.size)
          w.advance(n)
        } else w.bytes(u.toString.getBytes(UTF_8)) // as the String round trip writes it
      }
    }
  }

  private final class BytesEnc(get: (SpecializedGetters, Int) => Any) extends ValueEnc {
    def put(g: SpecializedGetters, i: Int, w: Writer, tag: Long, omitDefault: Boolean): Unit = {
      val b = get(g, i).asInstanceOf[Array[Byte]]
      if (!(omitDefault && b.length == 0)) {
        if (tag >= 0) w.varint(tag)
        w.bytes(b)
      }
    }
  }

  /** A message value; `body` writes its fields. */
  private final class MessageEnc(body: (SpecializedGetters, Int, Writer) => Unit) extends ValueEnc {
    def put(g: SpecializedGetters, i: Int, w: Writer, tag: Long, omitDefault: Boolean): Unit = {
      if (tag >= 0) w.varint(tag)
      val mark = w.beginLen()
      body(g, i, w)
      w.endLen(mark)
    }
  }

  /** A cell whose type cannot hold the proto type fails when it is read. */
  private final class MismatchEnc(t: PType, dt: DataType) extends ValueEnc {
    def put(g: SpecializedGetters, i: Int, w: Writer, tag: Long, omitDefault: Boolean): Unit =
      throw new IllegalArgumentException(s"cannot decode a $dt cell as $t")
  }

  private abstract class FieldEnc extends Serializable {
    def write(row: InternalRow, w: Writer): Unit
  }

  private final class SingularEnc(f: PField, idx: Int, value: ValueEnc) extends FieldEnc {
    private val tag = (f.number.toLong << 3) | ProtoWire.wireType(f.typ)
    private val plain = !f.hasPresence
    def write(row: InternalRow, w: Writer): Unit =
      if (!row.isNullAt(idx)) value.put(row, idx, w, tag, plain)
  }

  private final class RepeatedEnc(f: PField, idx: Int, value: ValueEnc) extends FieldEnc {
    private val packed = ProtoWire.packable(f.typ)
    private val tag = (f.number.toLong << 3) | (if (packed) Len else ProtoWire.wireType(f.typ))
    def write(row: InternalRow, w: Writer): Unit =
      if (!row.isNullAt(idx)) {
        val xs = row.getArray(idx)
        val n = xs.numElements()
        var j = 0
        while (j < n) {
          // proto repeated fields cannot hold nulls, and dropping the
          // element would shrink the list and break positional correlation
          if (xs.isNullAt(j)) throw new IllegalArgumentException(
            s"null element in repeated field ${f.name}: proto repeated " +
              "fields cannot represent null")
          j += 1
        }
        if (n > 0 && packed) {
          w.varint(tag)
          val mark = w.beginLen()
          j = 0
          while (j < n) { value.put(xs, j, w, -1L, omitDefault = false); j += 1 }
          w.endLen(mark)
        } else {
          j = 0
          while (j < n) { value.put(xs, j, w, tag, omitDefault = false); j += 1 }
        }
      }
  }

  /** A map field: both entry fields always, defaults included (a null
    * value writes the value type's default), as ProtoWire.encode does. */
  private final class MapEnc(f: PField, idx: Int, key: ValueEnc, value: ValueEnc,
      asList: Boolean, reg: ProtoRegistry) extends FieldEnc {
    private val tag = (f.number.toLong << 3) | Len
    private val keyTag = (1L << 3) | ProtoWire.wireType(f.mapKey)
    private val valueTag = (2L << 3) | ProtoWire.wireType(f.mapValue)
    private def defaultEntryField(n: Int, t: PType): Array[Byte] = {
      val w = new Writer(16)
      w.tag(n, ProtoWire.wireType(t))
      t match {
        case PMessage(_) => w.varint(0L)
        case _ => ProtoWire.writeScalar(w, t, PType.defaultOf(t), reg)
      }
      w.toByteArray
    }
    private val keyDefault = defaultEntryField(1, f.mapKey)
    private val valueDefault = defaultEntryField(2, f.mapValue)

    private def entry(ks: SpecializedGetters, ki: Int, vs: SpecializedGetters, vi: Int,
        w: Writer): Unit = {
      w.varint(tag)
      val mark = w.beginLen()
      if (ks.isNullAt(ki)) w.raw(keyDefault, 0, keyDefault.length)
      else key.put(ks, ki, w, keyTag, omitDefault = false)
      if (vs.isNullAt(vi)) w.raw(valueDefault, 0, valueDefault.length)
      else value.put(vs, vi, w, valueTag, omitDefault = false)
      w.endLen(mark)
    }

    def write(row: InternalRow, w: Writer): Unit =
      if (!row.isNullAt(idx)) {
        if (asList) {
          val es = row.getArray(idx)
          var j = 0
          while (j < es.numElements()) {
            val e = es.getStruct(j, 2)
            entry(e, 0, e, 1, w)
            j += 1
          }
        } else {
          val m = row.getMap(idx)
          val ks = m.keyArray()
          val vs = m.valueArray()
          var j = 0
          while (j < m.numElements()) { entry(ks, j, vs, j, w); j += 1 }
        }
      }
  }

  private final class EncoderCompiler(cfg: GraftConfig, reg: ProtoRegistry) extends Serializable {

    def message(md: PMessageDesc, schema: StructType): MsgEnc =
      new MsgEnc(md.fieldsByNumberAsc.flatMap { f =>
        val idx = schema.fieldNames.indexOf(f.name)
        if (idx < 0) None // column absent: skip field
        else Some(field(f, idx, schema.fields(idx).dataType))
      }.toArray)

    private def field(f: PField, idx: Int, dt: DataType): FieldEnc =
      if (f.isMap) dt match {
        case ArrayType(StructType(kv), _) if cfg.mapAsList && kv.length >= 2 =>
          new MapEnc(f, idx, value(f.mapKey, kv(0).dataType), value(f.mapValue, kv(1).dataType),
            asList = true, reg)
        case MapType(kt, vt, _) if !cfg.mapAsList =>
          new MapEnc(f, idx, value(f.mapKey, kt), value(f.mapValue, vt), asList = false, reg)
        case _ => new SingularEnc(f, idx, new MismatchEnc(f.typ, dt))
      }
      else if (f.repeated) dt match {
        case ArrayType(et, _) => new RepeatedEnc(f, idx, value(f.typ, et))
        case _ => new SingularEnc(f, idx, new MismatchEnc(f.typ, dt))
      }
      else new SingularEnc(f, idx, value(f.typ, dt))

    /** A well-known type's proto field values, written as a message whose
      * default-valued fields are absent. */
    private def wkt(md: PMessageDesc, dt: DataType)(fields: Any => Array[Any]): ValueEnc = {
      val get = InternalRow.getAccessor(dt, nullable = false)
      val fs = md.fieldsByNumberAsc.toArray
      val defaults = fs.map(f => PType.defaultOf(f.typ))
      new MessageEnc((g, i, w) => {
        val vs = fields(get(g, i))
        var j = 0
        while (j < fs.length) {
          if (vs(j) != defaults(j)) {
            w.tag(fs(j).number, ProtoWire.wireType(fs(j).typ))
            ProtoWire.writeScalar(w, fs(j).typ, vs(j), reg)
          }
          j += 1
        }
      })
    }

    private def value(t: PType, dt: DataType): ValueEnc = {
      lazy val get = InternalRow.getAccessor(dt, nullable = false)
      t match {
        case PString => new StringEnc(get)
        case PBytes => new BytesEnc(get)
        case PMessage(WellKnown.TimestampName) if dt == TimestampType =>
          wkt(WellKnown.timestamp, dt) { v =>
            val micros = v.asInstanceOf[Long]
            Array(Codecs.timestampSeconds(micros), Codecs.timestampNanos(micros))
          }
        case PMessage(WellKnown.DateName) if dt == DateType =>
          wkt(WellKnown.date, dt) { v =>
            val ld = Codecs.dateOf(v.asInstanceOf[Int])
            if (ld == null) Array(0, 0, 0) // sentinel → unset Date()
            else Array(ld.getYear, ld.getMonthValue, ld.getDayOfMonth)
          }
        case PMessage(WellKnown.TimeOfDayName) =>
          wkt(WellKnown.timeOfDay, dt)(v => Codecs.timeOfDayFields(Codecs.toLong(v), cfg).map(x => x: Any))
        case PMessage(WellKnown.DurationName) =>
          wkt(WellKnown.duration, dt) { v =>
            val ticks = Codecs.toLong(v)
            Array(Codecs.durationSeconds(ticks, cfg), Codecs.durationNanos(ticks, cfg))
          }
        case PMessage(name) if WellKnown.isWrapper(name) =>
          val inner = value(WellKnown.wrapperNames(name), dt)
          val innerTag = (1L << 3) | ProtoWire.wireType(WellKnown.wrapperNames(name))
          new MessageEnc((g, i, w) => inner.put(g, i, w, innerTag, omitDefault = true))
        case PMessage(WellKnown.EmptyName) => new MessageEnc((_, _, _) => ())
        case PMessage(name) if !WellKnown.isWellKnown(name) && dt.isInstanceOf[StructType] =>
          val st = dt.asInstanceOf[StructType]
          val msg = message(reg.message(name), st)
          new MessageEnc((g, i, w) => msg.write(g.getStruct(i, st.length), w))
        case PMessage(_) => new MismatchEnc(t, dt)
        case _ => new ScalarEnc(get, Codecs.catalystValueReader(t, dt, cfg, reg),
          PType.defaultOf(t), ProtoWire.writeScalar(_, t, _, reg))
      }
    }
  }
}
