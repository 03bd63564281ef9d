package graft.proto

import java.nio.charset.StandardCharsets.UTF_8
import graft.proto.PType._

/** Proto3 wire-format codec over the descriptor IR (the public protobuf
  * encoding spec: varint / zigzag / fixed32 / fixed64 / length-delimited;
  * packed repeated scalars; maps as repeated entry messages).
  *
  * Needed because the environment has no protobuf-java (SURVEY.md §7.0).
  * [[encode]] / [[decode]] are the DynamicMessage API (driver side and the
  * reference for parity checks); the [[Reader]], [[Writer]] and wire-type
  * rules here are the primitives every wire codec shares, including the
  * direct wire ↔ InternalRow codec behind
  * [[graft.Protarrow.toProtoBinary]] / fromProtoBinary
  * ([[graft.conv.WireRows]]).
  */
object ProtoWire {

  final val Varint = 0
  final val Fixed64 = 1
  final val Len = 2
  final val Fixed32 = 5

  def wireType(t: PType): Int = t match {
    case PDouble | PFixed64 | PSFixed64 => Fixed64
    case PFloat | PFixed32 | PSFixed32 => Fixed32
    case PString | PBytes | PMessage(_) => Len
    case _ => Varint
  }

  def packable(t: PType): Boolean = t match {
    case PString | PBytes | PMessage(_) => false
    case _ => true
  }

  /** Does the tag's wire type match what the descriptor declares? A
    * mismatch (schema evolution, corrupt tag) means the payload is NOT the
    * declared field — protobuf-java treats it as an unknown field and
    * skips it rather than misparsing the bytes. Packed repeated scalars
    * legitimately arrive as either Len (packed) or their scalar wire type
    * (unpacked), so both are accepted. */
  def wireTypeMatches(f: PField, wt: Int): Boolean =
    if (f.isMap) wt == Len
    else if (f.repeated && packable(f.typ)) wt == Len || wt == wireType(f.typ)
    else wt == wireType(f.typ)

  /** Nesting cap on decode, matching protobuf-java's default: a crafted
    * deeply-recursive payload must raise, not blow the executor's stack. */
  val MaxDecodeDepth = 100

  def checkDepth(depth: Int): Unit =
    if (depth > MaxDecodeDepth) throw new IllegalArgumentException(
      s"message nesting exceeds $MaxDecodeDepth levels")

  // ---------------------------------------------------------------- encode

  /** Unsynchronized growable byte buffer with the wire encodings. One
    * Writer serves a whole record, nested messages included: a
    * length-delimited payload reserves one length byte ([[beginLen]]),
    * is written in place, and [[endLen]] back-patches the length (moving
    * the payload up when the length needs more than one byte). Reusable
    * across records through [[reset]]. */
  final class Writer(initialSize: Int = 256) {
    private var buf = new Array[Byte](math.max(initialSize, 16))
    private var pos = 0

    /** Bytes written since the last reset. */
    def size: Int = pos
    def reset(): Unit = pos = 0
    /** The bytes written so far, as an exact-length copy. */
    def toByteArray: Array[Byte] = java.util.Arrays.copyOf(buf, pos)
    /** The buffer the first [[size]] bytes are in, valid until the next write. */
    def buffer: Array[Byte] = buf

    private def ensure(n: Int): Unit =
      if (n > buf.length - pos) {
        val want = pos.toLong + n
        if (want > Int.MaxValue - 8) throw new IllegalArgumentException(
          s"encoded record exceeds ${Int.MaxValue - 8} bytes")
        buf = java.util.Arrays.copyOf(buf, math.max(want, buf.length * 2L)
          .min(Int.MaxValue - 8L).toInt)
      }

    /** Makes room for `n` bytes at offset [[size]] and returns the buffer;
      * the caller fills them and calls [[advance]]. */
    def claim(n: Int): Array[Byte] = { ensure(n); buf }
    def advance(n: Int): Unit = pos += n
    /** Drops the bytes written after the first `size`. */
    def truncate(size: Int): Unit = pos = size

    def varint(v: Long): Unit = {
      ensure(10)
      val b = buf
      var p = pos
      var x = v
      while ((x & ~0x7FL) != 0) {
        b(p) = ((x & 0x7F) | 0x80).toByte
        p += 1
        x = x >>> 7
      }
      b(p) = x.toByte
      pos = p + 1
    }
    def tag(field: Int, wt: Int): Unit = varint((field.toLong << 3) | wt)
    def fixed32(v: Int): Unit = {
      ensure(4)
      buf(pos) = v.toByte; buf(pos + 1) = (v >>> 8).toByte
      buf(pos + 2) = (v >>> 16).toByte; buf(pos + 3) = (v >>> 24).toByte
      pos += 4
    }
    def fixed64(v: Long): Unit = { fixed32(v.toInt); fixed32((v >>> 32).toInt) }
    def raw(b: Array[Byte], off: Int, len: Int): Unit = {
      ensure(len)
      System.arraycopy(b, off, buf, pos, len)
      pos += len
    }
    def bytes(b: Array[Byte]): Unit = { varint(b.length.toLong); raw(b, 0, b.length) }

    /** Reserves the length prefix of a length-delimited payload; returns
      * the mark [[endLen]] needs. */
    def beginLen(): Int = { ensure(1); pos += 1; pos - 1 }
    def endLen(mark: Int): Unit = {
      val len = pos - mark - 1
      val n = if (len < (1 << 7)) 1 else if (len < (1 << 14)) 2
        else if (len < (1 << 21)) 3 else if (len < (1 << 28)) 4 else 5
      if (n > 1) {
        ensure(n - 1)
        System.arraycopy(buf, mark + 1, buf, mark + n, len)
        pos += n - 1
      }
      var p = mark
      var x = len
      while ((x & ~0x7F) != 0) {
        buf(p) = ((x & 0x7F) | 0x80).toByte
        p += 1
        x = x >>> 7
      }
      buf(p) = x.toByte
    }
  }

  def zigzag32(v: Int): Long = ((v << 1) ^ (v >> 31)).toLong & 0xFFFFFFFFL
  def zigzag64(v: Long): Long = (v << 1) ^ (v >> 63)
  def unzigzag32(v: Long): Int = (((v >>> 1) ^ -(v & 1)).toInt)
  def unzigzag64(v: Long): Long = (v >>> 1) ^ -(v & 1)

  /** One canonical proto value of type `t` (no tag). */
  def writeScalar(w: Writer, t: PType, v: Any, reg: ProtoRegistry): Unit = t match {
    case PDouble => w.fixed64(java.lang.Double.doubleToLongBits(v.asInstanceOf[Double]))
    case PFloat => w.fixed32(java.lang.Float.floatToIntBits(v.asInstanceOf[Float]))
    case PInt32 => w.varint(v.asInstanceOf[Int].toLong) // sign-extended per spec
    case PInt64 => w.varint(v.asInstanceOf[Long])
    case PUInt32 => w.varint(v.asInstanceOf[Long] & 0xFFFFFFFFL)
    case PFixed32 => w.fixed32(v.asInstanceOf[Long].toInt)
    case PUInt64 => w.varint(v.asInstanceOf[Long])
    case PFixed64 => w.fixed64(v.asInstanceOf[Long])
    case PSInt32 => w.varint(zigzag32(v.asInstanceOf[Int]))
    case PSInt64 => w.varint(zigzag64(v.asInstanceOf[Long]))
    case PSFixed32 => w.fixed32(v.asInstanceOf[Int])
    case PSFixed64 => w.fixed64(v.asInstanceOf[Long])
    case PBool => w.varint(if (v.asInstanceOf[Boolean]) 1L else 0L)
    case PString => w.bytes(v.asInstanceOf[String].getBytes(UTF_8))
    case PBytes => w.bytes(v.asInstanceOf[Bytes].toArray)
    case PEnum(_) => w.varint(v.asInstanceOf[Int].toLong)
    case PMessage(_) =>
      val mark = w.beginLen()
      writeMessage(w, v.asInstanceOf[DynamicMessage], reg)
      w.endLen(mark)
  }

  def encode(m: DynamicMessage, reg: ProtoRegistry = WellKnown.registry): Array[Byte] = {
    val w = new Writer()
    writeMessage(w, m, reg)
    w.toByteArray
  }

  private def writeMessage(w: Writer, m: DynamicMessage, reg: ProtoRegistry): Unit =
    // ascending field number: canonical, deterministic output (order is
    // precomputed on the descriptor)
    m.descriptor.fieldsByNumberAsc.foreach { f =>
      m.get(f.number).foreach { v =>
        if (f.isMap) {
          v.asInstanceOf[Map[Any, Any]].foreach { case (k, mv) =>
            // both entry fields are ALWAYS serialized, defaults included —
            // protobuf-java/C++ map-entry serialization does the same, so
            // byte-for-byte parity holds for maps like {0 -> 0}
            w.tag(f.number, Len)
            val mark = w.beginLen()
            w.tag(1, wireType(f.mapKey)); writeScalar(w, f.mapKey, k, reg)
            w.tag(2, wireType(f.mapValue)); writeScalar(w, f.mapValue, mv, reg)
            w.endLen(mark)
          }
        } else if (f.repeated) {
          val xs = v.asInstanceOf[Vector[Any]]
          if (packable(f.typ)) {
            // proto3 default: packed
            w.tag(f.number, Len)
            val mark = w.beginLen()
            xs.foreach(x => writeScalar(w, f.typ, x, reg))
            w.endLen(mark)
          } else xs.foreach { x =>
            w.tag(f.number, wireType(f.typ)); writeScalar(w, f.typ, x, reg)
          }
        } else {
          w.tag(f.number, wireType(f.typ)); writeScalar(w, f.typ, v, reg)
        }
      }
    }

  // ---------------------------------------------------------------- decode

  /** Bounds-checked reader: every read is confined to [pos, end). Corrupt
    * input (a truncated record off Kafka, a length prefix pointing past the
    * payload) must raise a clear, catchable error — the previous unchecked
    * reads silently zero-padded truncated bytes (Arrays.copyOfRange pads)
    * and let a nested message with an oversized length prefix parse its
    * PARENT's adjacent bytes as its own fields. Every failure is an
    * IllegalArgumentException. A codec may move the window [pos, end)
    * within `buf` to reread a range it has already checked. */
  final class Reader(val buf: Array[Byte], var pos: Int, var end: Int) {
    def this(buf: Array[Byte]) = this(buf, 0, buf.length)
    def hasMore: Boolean = pos < end
    // n > end - pos, NOT pos + n > end: the latter wraps for n near
    // Int.MaxValue and lets a corrupt length prefix fabricate an empty
    // nested message before crashing with an unrelated exception
    private def need(n: Int): Unit =
      if (n < 0 || n > end - pos) throw new IllegalArgumentException(
        s"truncated message: need $n bytes at offset $pos, end $end")
    // length prefixes are read as Long then range-checked BEFORE toInt:
    // a corrupt 64-bit length like 2^32+5 would otherwise truncate to 5
    // and silently misparse
    private def lenPrefix(): Int = {
      val len = varint()
      if (len < 0 || len > Int.MaxValue) throw new IllegalArgumentException(
        s"bad length prefix $len at offset $pos")
      len.toInt
    }
    /** At most 10 bytes; with 10 or more left, one bounds check for all. */
    def varint(): Long = {
      val b = buf
      var p = pos
      if (end - p >= 10) {
        var result = 0L
        var shift = 0
        while (shift < 64) {
          val x = b(p); p += 1
          result |= (x & 0x7FL) << shift
          if (x >= 0) { pos = p; return result }
          shift += 7
        }
        throw new IllegalArgumentException("malformed varint")
      }
      var shift = 0; var result = 0L
      while (shift < 64) {
        if (p >= end) { pos = p; need(1) }
        val x = b(p); p += 1
        result |= (x & 0x7FL) << shift
        if (x >= 0) { pos = p; return result }
        shift += 7
      }
      throw new IllegalArgumentException("malformed varint")
    }
    /** [[varint]] without its value. */
    def skipVarint(): Unit = {
      val b = buf
      val limit = if (end - pos > 10) pos + 10 else end
      var p = pos
      while (p < limit && b(p) < 0) p += 1
      if (p < limit) pos = p + 1
      else if (p - pos == 10) throw new IllegalArgumentException("malformed varint")
      else { pos = p; need(1) }
    }
    def fixed32(): Int = {
      need(4)
      val v = (buf(pos) & 0xFF) | ((buf(pos + 1) & 0xFF) << 8) |
        ((buf(pos + 2) & 0xFF) << 16) | ((buf(pos + 3) & 0xFF) << 24)
      pos += 4; v
    }
    def fixed64(): Long =
      (fixed32().toLong & 0xFFFFFFFFL) | (fixed32().toLong << 32)
    /** Reads a length prefix and checks that its payload is there; `pos`
      * stays at the payload's start. */
    def len(): Int = { val n = lenPrefix(); need(n); n }
    def bytes(): Array[Byte] = {
      val len = lenPrefix()
      need(len)
      val b = java.util.Arrays.copyOfRange(buf, pos, pos + len)
      pos += len; b
    }
    def slice(): Reader = {
      val len = lenPrefix()
      need(len)
      val r = new Reader(buf, pos, pos + len)
      pos += len; r
    }
    def skip(wt: Int): Unit = wt match {
      case Varint => skipVarint()
      case Fixed64 => need(8); pos += 8
      case Fixed32 => need(4); pos += 4
      case Len => val len = lenPrefix(); need(len); pos += len
      case other => throw new IllegalArgumentException(s"bad wire type $other")
    }
  }

  /** One canonical proto value of type `t` (message values nest one
    * level deeper). */
  def readScalar(r: Reader, t: PType, reg: ProtoRegistry, depth: Int): Any = t match {
    case PDouble => java.lang.Double.longBitsToDouble(r.fixed64())
    case PFloat => java.lang.Float.intBitsToFloat(r.fixed32())
    case PInt32 => r.varint().toInt
    case PInt64 => r.varint()
    case PUInt32 => r.varint() & 0xFFFFFFFFL
    case PUInt64 => r.varint()
    case PSInt32 => unzigzag32(r.varint())
    case PSInt64 => unzigzag64(r.varint())
    case PFixed32 => r.fixed32().toLong & 0xFFFFFFFFL
    case PFixed64 => r.fixed64()
    case PSFixed32 => r.fixed32()
    case PSFixed64 => r.fixed64()
    case PBool => r.varint() != 0L
    case PString => new String(r.bytes(), UTF_8)
    case PBytes => Bytes.owned(r.bytes())
    case PEnum(_) => r.varint().toInt
    case PMessage(name) => decodeReader(r.slice(), reg.message(name), reg, depth + 1)
  }

  def decode(bytes: Array[Byte], md: PMessageDesc,
      reg: ProtoRegistry = WellKnown.registry): DynamicMessage =
    decodeReader(new Reader(bytes), md, reg, 0)

  /** proto merge semantics for repeated occurrences of a singular message
    * field: scalars last-win, nested singular messages merge recursively,
    * repeated/map fields concatenate (a conformant encoder may emit a
    * message field twice — e.g. the standard concatenate-two-partials
    * merge idiom — and the parse result must be their merge). */
  private def mergeMessages(a: DynamicMessage, b: DynamicMessage): DynamicMessage = {
    val md = a.descriptor
    val merged = b.values.foldLeft(a.values) { case (acc, (num, bv)) =>
      val nv = (md.byNumber.get(num), acc.get(num)) match {
        case (Some(f), Some(av)) =>
          if (f.isMap) av.asInstanceOf[Map[Any, Any]] ++ bv.asInstanceOf[Map[Any, Any]]
          else if (f.repeated) av.asInstanceOf[Vector[Any]] ++ bv.asInstanceOf[Vector[Any]]
          else f.typ match {
            case PMessage(_) => mergeMessages(av.asInstanceOf[DynamicMessage],
              bv.asInstanceOf[DynamicMessage])
            case _ => bv
          }
        case _ => bv
      }
      acc.updated(num, nv)
    }
    DynamicMessage(md, merged)
  }

  private def decodeReader(r: Reader, md: PMessageDesc, reg: ProtoRegistry,
      depth: Int): DynamicMessage = {
    checkDepth(depth)
    var values = Map.empty[Int, Any]
    while (r.hasMore) {
      val t = r.varint()
      val num = (t >>> 3).toInt
      val wt = (t & 7).toInt
      md.byNumber.get(num) match {
        case None => r.skip(wt) // unknown field
        case Some(f) if !wireTypeMatches(f, wt) => r.skip(wt) // wrong wire type → unknown
        case Some(f) if f.isMap =>
          // an entry field whose wire type does not match is skipped as
          // unknown, and a message value that occurs twice in one entry is
          // merged (protobuf-java's MapEntryLite.parseEntry)
          val er = r.slice()
          val kwt = wireType(f.mapKey)
          val vwt = wireType(f.mapValue)
          var k: Any = PType.defaultOf(f.mapKey)
          var v: Any = null
          while (er.hasMore) {
            val et = er.varint()
            val ewt = (et & 7).toInt
            (et >>> 3).toInt match {
              case 1 if ewt == kwt => k = readScalar(er, f.mapKey, reg, depth)
              case 2 if ewt == vwt =>
                val x = readScalar(er, f.mapValue, reg, depth)
                v = v match {
                  case prev: DynamicMessage => mergeMessages(prev, x.asInstanceOf[DynamicMessage])
                  case _ => x
                }
              case _ => er.skip(ewt)
            }
          }
          if (v == null) v = f.mapValue match {
            case PMessage(name) => DynamicMessage.empty(reg.message(name))
            case mt => PType.defaultOf(mt)
          }
          val prev = values.getOrElse(num, Map.empty[Any, Any]).asInstanceOf[Map[Any, Any]]
          values += (num -> (prev + (k -> v)))
        case Some(f) if f.repeated =>
          val prev = values.getOrElse(num, Vector.empty[Any]).asInstanceOf[Vector[Any]]
          if (wt == Len && packable(f.typ)) {
            val pr = r.slice()
            var xs = prev
            while (pr.hasMore) xs = xs :+ readScalar(pr, f.typ, reg, depth)
            values += (num -> xs)
          } else values += (num -> (prev :+ readScalar(r, f.typ, reg, depth)))
        case Some(f) =>
          val v = readScalar(r, f.typ, reg, depth)
          val merged = (f.typ, values.get(num)) match {
            case (PMessage(_), Some(prev: DynamicMessage)) =>
              mergeMessages(prev, v.asInstanceOf[DynamicMessage])
            case _ => v
          }
          values += (num -> merged)
      }
    }
    DynamicMessage(md, values)
  }
}
