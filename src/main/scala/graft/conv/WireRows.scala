package graft.conv

import java.nio.charset.StandardCharsets.UTF_8
import scala.annotation.switch
import scala.collection.mutable
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{SpecializedGetters, UnsafeArrayData, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{UnsafeArrayWriter, UnsafeRowWriter, UnsafeWriter}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String
import graft.proto._
import graft.proto.PType._
import graft.proto.ProtoWire.{Fixed64, Len, Reader, Varint, Writer}

/** Direct wire ↔ InternalRow codec, the shape of Spark's own
  * ProtobufDeserializer/ProtobufSerializer: wire bytes decode straight into
  * UnsafeRows (the layout `GenerateUnsafeProjection` writes) and rows
  * encode straight into wire bytes through the typed getters, with no
  * DynamicMessage, boxed cell or per-value closure in between. Both
  * directions compile once per (descriptor, config, row schema), like
  * [[Codecs]], and give exactly what the DynamicMessage path gives —
  * `Codecs.internalRowWriter(ProtoWire.decode(b))` and
  * `ProtoWire.encode(Codecs.internalRowReader(row))` — except where that
  * path goes through a Scala `Map`: map cells keep each key's first wire
  * (or cell) position, where that path follows HashMap order above four
  * entries, and every entry of a cell is written, where that path
  * collapses a key repeated inside one `mapAsList` cell (both decode to the
  * same map). Well-known-type leaves are [[Codecs]]'s and the wire
  * primitives are [[ProtoWire]]'s.
  */
object WireRows {

  // Every leaf has one kind, the catalyst conversion of its proto type;
  // with the wire type it picks the leaf's read, write and default in one
  // switch each way.
  private final val KDouble = 0
  private final val KFloat = 1
  private final val KInt = 2 // int32, sfixed32, enum number
  private final val KLong = 3 // int64, uint64, fixed64, sfixed64
  private final val KUInt32 = 4 // uint32, fixed32: value-preserving long
  private final val KSInt32 = 5
  private final val KSInt64 = 6
  private final val KBool = 7
  private final val KEnumName = 8 // enum name, as string or binary
  private final val KString = 9
  private final val KBytes = 10
  private final val KMessage = 11 // nested message; pruned and Empty too
  private final val KTimestamp = 12
  private final val KDate = 13
  private final val KTimeOfDay = 14
  private final val KDuration = 15
  private final val KWrapper = 16
  private final val KMismatch = 17 // encode only: the cell cannot hold the type

  private def scalarKind(t: PType): Int = t match {
    case PDouble => KDouble
    case PFloat => KFloat
    case PInt32 | PSFixed32 | PEnum(_) => KInt
    case PInt64 | PUInt64 | PFixed64 | PSFixed64 => KLong
    case PUInt32 | PFixed32 => KUInt32
    case PSInt32 => KSInt32
    case PSInt64 => KSInt64
    case PBool => KBool
    case PString => KString
    case PBytes => KBytes
    case PMessage(_) => KMessage
  }

  // field modes
  private final val Singular = 0
  private final val Repeated = 1
  private final val MapCell = 2
  private final val MapList = 3

  private def readRaw(r: Reader, wt: Int): Long = (wt: @switch) match {
    case Varint => r.varint()
    case Fixed64 => r.fixed64()
    case _ => r.fixed32().toLong
  }

  private def writeRaw(w: Writer, wt: Int, raw: Long): Unit = (wt: @switch) match {
    case Varint => w.varint(raw)
    case Fixed64 => w.fixed64(raw)
    case _ => w.fixed32(raw.toInt)
  }

  // ================================================================ decode

  /** Compiled wire → row decoder of one (descriptor, config), for rows of
    * `SchemaConversion.messageTypeToSchema(md, cfg, reg)`. It is immutable
    * and serializable; each partition (each thread) takes its own
    * [[DecodePlan.newDecoder]]. */
  def plan(md: PMessageDesc, cfg: GraftConfig, reg: ProtoRegistry): DecodePlan =
    new DecodePlan(new DecodeCompiler(cfg, reg).message(md, Vector(md.fullName)))

  /** `plan(md, cfg, reg).newDecoder()`: one decoder, for one thread. */
  def decoder(md: PMessageDesc, cfg: GraftConfig, reg: ProtoRegistry): Array[Byte] => InternalRow =
    plan(md, cfg, reg).newDecoder()

  final class DecodePlan private[WireRows] (top: Msg) extends Serializable {
    /** A decoder for one thread. It writes every record into the same
      * UnsafeRow and returns that row, which the next call overwrites: a
      * caller that keeps rows past the next record copies them
      * (`row.copy()`). Malformed input (a null payload, truncation, bad
      * lengths, nesting past [[ProtoWire.MaxDecodeDepth]], a
      * well-known-type value its column cannot hold) raises
      * IllegalArgumentException, and nothing else; the next call starts
      * afresh. With `corrupt`, rows carry one more, last column, null. */
    def newDecoder(corrupt: Boolean = false): Decoder = new Decoder(top, corrupt)
  }

  /** One partition's decode of one record at `buf[start, start + len)`
    * (`buf` null: a null record) into its row, or null to skip it. */
  trait RecordDecoder { def decode(buf: Array[Byte], start: Int, len: Int): InternalRow }

  final class Decoder private[WireRows] (top: Msg, corrupt: Boolean)
      extends (Array[Byte] => InternalRow) with RecordDecoder {
    private val st = new MsgState(top, null, if (corrupt) 1 else 0)
    private val whole = new Ranges
    def apply(bytes: Array[Byte]): InternalRow = decode(bytes, 0, if (bytes == null) 0 else bytes.length)
    def decode(buf: Array[Byte], start: Int, len: Int): InternalRow = {
      if (buf == null) throw new IllegalArgumentException("null payload")
      whole.n = 0
      whole.add(start, start + len, Len)
      st.decode(new Reader(buf), whole, 0)
      if (corrupt) st.w.setNullAt(top.fields.length)
      st.w.getRow
    }
  }

  /** One value of a proto type at one schema position. */
  private final class Leaf(val kind: Int, val wt: Int, val cfg: GraftConfig) extends Serializable {
    /** KMessage: the message (a pruned one is parsed and written empty). */
    var msg: Msg = _
    /** KWrapper: the wrapped scalar. */
    var inner: Leaf = _
    /** Well-known types: the wire type of fields 1..n. */
    var wkt: Array[Int] = _
    /** KEnumName: UTF-8 names by ascending number; an unknown number takes
      * the first declared name. */
    var enumNums: Array[Int] = _
    var enumNames: Array[Array[Byte]] = _
    var enumFirst: Array[Byte] = _

    def msgLike: Boolean = kind >= KMessage
    def name(n: Int): Array[Byte] = {
      val i = java.util.Arrays.binarySearch(enumNums, n)
      if (i >= 0) enumNames(i) else enumFirst
    }
    /** Bytes per element of its catalyst value in an UnsafeArrayData. */
    def size: Int = kind match {
      case KFloat | KInt | KSInt32 | KDate => 4
      case KBool => 1
      case KWrapper => inner.size
      case _ => 8
    }
  }

  private final class Field(f: PField, val mode: Int, val key: Leaf, val value: Leaf)
      extends Serializable {
    val wireTypes: Int = (0 until 8).filter(ProtoWire.wireTypeMatches(f, _)).map(1 << _).sum
    val plain: Boolean = !f.hasPresence
    val packable: Boolean = mode == Repeated && ProtoWire.packable(f.typ)
  }

  /** One message type at one schema position: its fields in column order
    * behind a field-number table. */
  private final class Msg(md: PMessageDesc, val pruned: Boolean) extends Serializable {
    var fields: Array[Field] = _
    // field number → slot (-1: unknown); the last field wins a duplicated
    // number, as in PMessageDesc.byNumber
    private var dense: Array[Int] = _
    private var sparse: Map[Int, Int] = _

    def init(fs: Seq[Field]): this.type = {
      fields = fs.toArray
      val maxNum = if (md.fields.isEmpty) 0 else md.fields.map(_.number).max
      if (maxNum <= 4096) {
        dense = Array.fill(maxNum + 1)(-1)
        md.fields.zipWithIndex.foreach { case (f, s) => if (f.number >= 0) dense(f.number) = s }
      } else sparse = md.fields.zipWithIndex.map { case (f, s) => f.number -> s }.toMap
      this
    }

    def slot(num: Int): Int =
      if (dense != null) { if (num >= 0 && num < dense.length) dense(num) else -1 }
      else sparse.getOrElse(num, -1)
  }

  private final class DecodeCompiler(cfg: GraftConfig, reg: ProtoRegistry) {
    // pruned message types by name: they may be cyclic, so each is
    // registered before its fields compile
    private val prunedMsgs = mutable.Map.empty[String, Msg]

    def message(md: PMessageDesc, trace: Vector[String]): Msg =
      new Msg(md, pruned = false).init(md.fields.map(field(_, messageLeaf(_, trace))))

    /** A pruned (recursive) message is still parsed, so it rejects what the
      * full decode rejects, but is written as the empty row. */
    private def prunedMsg(name: String): Msg = prunedMsgs.getOrElse(name, {
      val md = reg.message(name)
      val m = new Msg(md, pruned = true)
      prunedMsgs(name) = m
      m.init(md.fields.map(field(_, n => msgLeaf(prunedMsg(n)))))
    })

    private def msgLeaf(m: Msg): Leaf = {
      val l = new Leaf(KMessage, Len, cfg)
      l.msg = m
      l
    }

    private def wktLeaf(kind: Int, md: PMessageDesc): Leaf = {
      val l = new Leaf(kind, Len, cfg)
      l.wkt = md.fieldsByNumberAsc.map(f => ProtoWire.wireType(f.typ)).toArray
      l
    }

    private def messageLeaf(name: String, trace: Vector[String]): Leaf = name match {
      case WellKnown.TimestampName => wktLeaf(KTimestamp, WellKnown.timestamp)
      case WellKnown.DateName => wktLeaf(KDate, WellKnown.date)
      case WellKnown.TimeOfDayName => wktLeaf(KTimeOfDay, WellKnown.timeOfDay)
      case WellKnown.DurationName => wktLeaf(KDuration, WellKnown.duration)
      case n if WellKnown.isWrapper(n) =>
        val l = wktLeaf(KWrapper, reg.message(n))
        l.inner = leaf(WellKnown.wrapperNames(n), null)
        l
      case WellKnown.EmptyName => msgLeaf(new Msg(WellKnown.empty, pruned = true).init(Nil))
      case n if Codecs.pruned(n, trace) => msgLeaf(prunedMsg(n))
      case n => msgLeaf(message(reg.message(n), trace :+ n))
    }

    private def leaf(t: PType, messageLeaf: String => Leaf): Leaf = t match {
      case PMessage(name) => messageLeaf(name)
      case PEnum(name) if cfg.enumType.nameBased =>
        val ed = reg.enum(name)
        val l = new Leaf(KEnumName, Varint, cfg)
        val byNum = ed.numberToName.toArray.sortBy(_._1)
        l.enumNums = byNum.map(_._1)
        l.enumNames = byNum.map(_._2.getBytes(UTF_8))
        l.enumFirst = ed.firstName.getBytes(UTF_8)
        l
      case _ => new Leaf(scalarKind(t), ProtoWire.wireType(t), cfg)
    }

    private def field(f: PField, messageLeaf: String => Leaf): Field =
      if (f.isMap) new Field(f, if (cfg.mapAsList) MapList else MapCell,
        leaf(f.mapKey, messageLeaf), leaf(f.mapValue, messageLeaf))
      else new Field(f, if (f.repeated) Repeated else Singular, null, leaf(f.typ, messageLeaf))
  }

  /** Reusable list of a value's occurrences: (start, end, wire type) each,
    * the payload's range for a length-delimited one. */
  private final class Ranges {
    private var a = new Array[Int](24)
    var n = 0
    def add(start: Int, end: Int, wt: Int): Unit = {
      if (3 * n + 3 > a.length) a = java.util.Arrays.copyOf(a, 2 * a.length)
      a(3 * n) = start; a(3 * n + 1) = end; a(3 * n + 2) = wt
      n += 1
    }
    def start(i: Int): Int = a(3 * i)
    def end(i: Int): Int = a(3 * i + 1)
    def wt(i: Int): Int = a(3 * i + 2)
    /** Confines `r` to occurrence `i`. */
    def window(r: Reader, i: Int): Unit = { r.pos = a(3 * i); r.end = a(3 * i + 1) }
  }

  /** The decode state of one message position, made per decoder: its row
    * writer (nested in the enclosing writer) and the state of its fields. */
  private final class MsgState(m: Msg, parent: UnsafeWriter, extra: Int = 0) {
    val w: UnsafeRowWriter =
      if (parent == null) new UnsafeRowWriter(m.fields.length + extra)
      else new UnsafeRowWriter(parent, m.fields.length)
    private val fs = m.fields.map(new FieldState(_, w))

    /** Writes the message whose occurrences are `rgs` — merged, which is
      * their concatenation — as the next row of `w`. First an index pass
      * records where each field occurs; then the columns are written in
      * order. */
    def decode(r: Reader, rgs: Ranges, depth: Int): Unit = {
      var s = 0
      while (s < fs.length) { fs(s).occ.n = 0; s += 1 }
      if (rgs.n > 0) ProtoWire.checkDepth(depth)
      var i = 0
      while (i < rgs.n) {
        rgs.window(r, i)
        while (r.hasMore) {
          val t = r.varint()
          val wt = (t & 7).toInt
          val s = m.slot((t >>> 3).toInt)
          // an unknown field, or a known one with the wrong wire type, is skipped
          if (s < 0 || (m.fields(s).wireTypes & (1 << wt)) == 0) r.skip(wt)
          else if (wt == Len) {
            val len = r.len()
            fs(s).occ.add(r.pos, r.pos + len, wt)
            r.pos += len
          } else {
            val p = r.pos
            r.skip(wt)
            fs(s).occ.add(p, r.pos, wt)
          }
        }
        i += 1
      }
      if (parent == null) { w.reset(); w.zeroOutNullBytes() } else w.resetRowWriter()
      s = 0
      while (s < fs.length) { fs(s).write(r, w, s, depth); s += 1 }
    }
  }

  /** The decode state of one field: where it occurs in the message being
    * decoded, the writers of its arrays and map, and its message value's
    * state. */
  private final class FieldState(f: Field, row: UnsafeRowWriter) {
    private val v = f.value
    val occ = new Ranges
    /** One repeated element's, or one map entry's value occurrences. */
    private val sub = new Ranges
    private val vals = new Array[Long](4)
    private val arr =
      if (f.mode == Singular) null else new UnsafeArrayWriter(row, if (f.mode == MapList) 8 else v.size)
    private val keys = if (f.mode == MapCell) new UnsafeArrayWriter(row, f.key.size) else null
    private val entry = if (f.mode == MapList) new UnsafeRowWriter(arr, 2) else null
    private val child =
      if (v.kind != KMessage || v.msg.pruned) null
      else new MsgState(v.msg, f.mode match {
        case Singular => row
        case MapList => entry
        case _ => arr
      })

    def write(r: Reader, w: UnsafeRowWriter, s: Int, depth: Int): Unit = (f.mode: @switch) match {
      case Singular =>
        if (occ.n == 0) { if (f.plain) putDefault(v, w, s) else w.setNullAt(s) }
        else if (v.msgLike) putMessage(r, occ, w, s, depth)
        else putScalar(v, r, occ.start(occ.n - 1), occ.end(occ.n - 1), w, s, f.plain)
      case Repeated => writeRepeated(r, w, s, depth)
      case _ => writeMap(r, w, s, depth)
    }

    private def packed(i: Int): Boolean = f.packable && occ.wt(i) == Len

    private def writeRepeated(r: Reader, w: UnsafeRowWriter, s: Int, depth: Int): Unit = {
      var count = 0
      var i = 0
      while (i < occ.n) {
        count += (if (packed(i)) packedCount(r.buf, occ.start(i), occ.end(i), v.wt) else 1)
        i += 1
      }
      val prev = w.cursor()
      arr.initialize(count)
      var j = 0
      i = 0
      while (i < occ.n) {
        if (packed(i)) {
          // a malformed element raises before it is written, so j < count
          occ.window(r, i)
          while (r.hasMore) { putRaw(v, readRaw(r, v.wt), arr, j, plain = false); j += 1 }
        } else {
          if (v.msgLike) {
            sub.n = 0
            sub.add(occ.start(i), occ.end(i), Len)
            putMessage(r, sub, arr, j, depth)
          } else putScalar(v, r, occ.start(i), occ.end(i), arr, j, plain = false)
          j += 1
        }
        i += 1
      }
      w.setOffsetAndSizeFromPreviousCursor(s, prev)
    }

    /** A message-like value (message, well-known type) merged from the
      * occurrences `rgs` as cell `o` of `out`; no occurrence reads as the
      * default message. */
    private def putMessage(r: Reader, rgs: Ranges, out: UnsafeWriter, o: Int, depth: Int): Unit =
      if (v.kind == KMessage) {
        val prev = out.cursor()
        if (child != null) child.decode(r, rgs, depth + 1)
        else skimAll(r, rgs, depth + 1)
        out.setOffsetAndSizeFromPreviousCursor(o, prev)
      } else {
        readWkt(r, v, rgs, depth + 1, vals)
        (v.kind: @switch) match {
          case KTimestamp => out.write(o, Codecs.timestampMicros(vals(0), vals(1).toInt, v.cfg))
          case KDate => out.write(o, Codecs.dateDays(vals(0).toInt, vals(1).toInt, vals(2).toInt))
          case KTimeOfDay => out.write(o, Codecs.timeOfDayTicks(vals(0).toInt, vals(1).toInt,
            vals(2).toInt, vals(3).toInt, v.cfg))
          case KDuration => out.write(o, Codecs.durationTicks(vals(0), vals(1).toInt, v.cfg))
          case _ => // KWrapper: a wrapped plain -0.0 is absent too
            if (v.inner.wt == Len) putBytes(out, o, r.buf, vals(0).toInt, vals(1).toInt, v.inner.kind == KString)
            else putRaw(v.inner, vals(0), out, o, plain = true)
        }
      }

    /** Parses message-like occurrences without writing them. */
    private def skimAll(r: Reader, rgs: Ranges, depth: Int): Unit =
      if (v.kind == KMessage) {
        var i = 0
        while (i < rgs.n) { rgs.window(r, i); skim(v.msg, r, depth, vals); i += 1 }
      } else readWkt(r, v, rgs, depth, vals)

    // ---------------------------------------------------------------- maps
    // Distinct keys in first-position order, each with its last entry. Keys
    // compare by hash first: linearly below HashAt keys, above through an
    // open-addressing table whose slots are stamped per map, never cleared.
    private final val HashAt = 8
    // per key: hash, key start, key length, last entry's start and end, its
    // value's last occurrence (start -1: none; -2: several, so the entry is
    // rescanned)
    private final val KI = 7
    private var ki: Array[Int] = _
    // per key: its wire value and its canonical value (a string: its hash)
    private var kl: Array[Long] = _
    // per key: the bytes a string key's range is in
    private var kb: Array[Array[Byte]] = _
    private var nKeys = 0
    private var table: Array[Long] = _ // (stamp << 32) | key
    private var stamp = 0
    private var hashed = false
    /** Entries whose message value a later entry of their key replaced. */
    private val losers = if (f.mode >= MapCell && v.msgLike) new Ranges else null
    // the last scanned entry: its key, its value's last occurrence and count
    private var keyRaw = 0L
    private var keyStart = 0
    private var keyLen = 0
    private var lastStart = -1
    private var lastEnd = 0
    private var nVals = 0

    /** Reads one entry: its key (the last occurrence; absent: the
      * default) into key*, its value's last occurrence into last* and,
      * with `all`, every value occurrence into `sub`. An entry field whose
      * wire type does not match is skipped. */
    private def scanEntry(r: Reader, start: Int, end: Int, all: Boolean): Unit = {
      r.pos = start; r.end = end
      keyRaw = 0L; keyStart = 0; keyLen = 0; lastStart = -1; nVals = 0
      sub.n = 0
      while (r.hasMore) {
        val t = r.varint()
        val wt = (t & 7).toInt
        val num = (t >>> 3).toInt
        if (num == 1 && wt == f.key.wt) {
          if (wt == Len) { keyLen = r.len(); keyStart = r.pos; r.pos += keyLen }
          else keyRaw = readRaw(r, wt)
        } else if (num == 2 && wt == v.wt) {
          if (wt == Len) { val len = r.len(); lastStart = r.pos; r.pos += len }
          else { lastStart = r.pos; r.skip(wt) }
          lastEnd = r.pos
          nVals += 1
          if (all) sub.add(lastStart, lastEnd, wt)
        } else r.skip(wt)
      }
    }

    private def keyCanon(raw: Long): Long = (f.key.kind: @switch) match {
      case KInt => raw.toInt.toLong
      case KUInt32 => raw & 0xFFFFFFFFL
      case KSInt32 => ProtoWire.unzigzag32(raw).toLong
      case KSInt64 => ProtoWire.unzigzag64(raw)
      case KBool => if (raw != 0L) 1L else 0L
      case _ => raw
    }

    private def same(j: Int, b: Array[Byte], start: Int, len: Int, canon: Long, h: Int): Boolean =
      ki(KI * j) == h && kl(2 * j + 1) == canon && (b == null || (ki(KI * j + 2) == len &&
        java.util.Arrays.equals(kb(j), ki(KI * j + 1), ki(KI * j + 1) + len, b, start, start + len)))

    private def find(b: Array[Byte], start: Int, len: Int, canon: Long, h: Int): Int =
      if (!hashed) {
        var j = 0
        while (j < nKeys && !same(j, b, start, len, canon, h)) j += 1
        if (j < nKeys) j else -1
      } else {
        val mask = table.length - 1
        var p = h & mask
        while ((table(p) >>> 32).toInt == stamp && !same(table(p).toInt, b, start, len, canon, h))
          p = (p + 1) & mask
        if ((table(p) >>> 32).toInt == stamp) table(p).toInt else -1
      }

    private def insert(j: Int): Unit = {
      val mask = table.length - 1
      var p = ki(KI * j) & mask
      while ((table(p) >>> 32).toInt == stamp) p = (p + 1) & mask
      table(p) = (stamp.toLong << 32) | j
    }

    private def setWinner(j: Int, es: Int, ee: Int): Unit = {
      ki(KI * j + 3) = es; ki(KI * j + 4) = ee
      ki(KI * j + 5) = if (nVals > 1 && v.msgLike) -2 else lastStart
      ki(KI * j + 6) = lastEnd
    }

    private def addKey(b: Array[Byte], start: Int, len: Int, canon: Long, h: Int, es: Int, ee: Int): Unit = {
      if (ki == null || nKeys == kb.length) {
        val cap = if (ki == null) 16 else 2 * kb.length
        ki = if (ki == null) new Array[Int](KI * cap) else java.util.Arrays.copyOf(ki, KI * cap)
        kl = if (kl == null) new Array[Long](2 * cap) else java.util.Arrays.copyOf(kl, 2 * cap)
        kb = if (kb == null) new Array[Array[Byte]](cap) else java.util.Arrays.copyOf(kb, cap)
      }
      val j = nKeys
      ki(KI * j) = h; ki(KI * j + 1) = start; ki(KI * j + 2) = len
      kl(2 * j) = keyRaw; kl(2 * j + 1) = canon
      kb(j) = b
      setWinner(j, es, ee)
      nKeys += 1
      if (nKeys == HashAt || (hashed && 2 * nKeys > table.length)) {
        val size = Integer.highestOneBit(4 * nKeys)
        if (table == null || table.length < size) { table = new Array[Long](size); stamp = 0 }
        if (stamp == Int.MaxValue) { java.util.Arrays.fill(table, 0L); stamp = 0 }
        stamp += 1
        hashed = true
        var k = 0
        while (k < nKeys) { insert(k); k += 1 }
      } else if (hashed) insert(j)
    }

    /** Distinct keys, each at its first entry's position with its last
      * entry's value. */
    private def dedupe(r: Reader): Unit = {
      nKeys = 0
      hashed = false
      if (losers != null) losers.n = 0
      var i = 0
      while (i < occ.n) {
        val es = occ.start(i)
        val ee = occ.end(i)
        scanEntry(r, es, ee, all = false)
        var b: Array[Byte] = null
        var start = 0
        var len = 0
        var canon = 0L
        if (f.key.wt == Len) {
          b = r.buf; start = keyStart; len = keyLen
          if (!validUtf8(b, start, len)) { b = utf8Replaced(b, start, len); start = 0; len = b.length }
          var k = start
          while (k < start + len) { canon = 31 * canon + b(k); k += 1 }
        } else canon = keyCanon(keyRaw)
        val m = canon * 0x9E3779B97F4A7C15L
        val h = (m ^ (m >>> 32)).toInt
        val j = find(b, start, len, canon, h)
        if (j < 0) addKey(b, start, len, canon, h, es, ee)
        else {
          if (losers != null) losers.add(ki(KI * j + 3), ki(KI * j + 4), Len)
          setWinner(j, es, ee)
        }
        i += 1
      }
    }

    private def putKey(j: Int, out: UnsafeWriter, o: Int): Unit =
      if (f.key.wt == Len) out.write(o, kb(j), ki(KI * j + 1), ki(KI * j + 2))
      else putRaw(f.key, kl(2 * j), out, o, plain = false)

    private def putEntryValue(r: Reader, j: Int, out: UnsafeWriter, o: Int, depth: Int): Unit = {
      val vs = ki(KI * j + 5)
      if (v.msgLike) {
        if (vs == -2) scanEntry(r, ki(KI * j + 3), ki(KI * j + 4), all = true)
        else { sub.n = 0; if (vs >= 0) sub.add(vs, ki(KI * j + 6), Len) }
        putMessage(r, sub, out, o, depth)
      } else if (vs < 0) putDefault(v, out, o)
      else putScalar(v, r, vs, ki(KI * j + 6), out, o, plain = false)
    }

    private def writeMap(r: Reader, w: UnsafeRowWriter, s: Int, depth: Int): Unit = {
      dedupe(r)
      val prev = w.cursor()
      if (f.mode == MapList) {
        arr.initialize(nKeys)
        var j = 0
        while (j < nKeys) {
          val p = arr.cursor()
          entry.resetRowWriter()
          putKey(j, entry, 0)
          putEntryValue(r, j, entry, 1, depth)
          arr.setOffsetAndSizeFromPreviousCursor(j, p)
          j += 1
        }
      } else {
        // UnsafeMapData: the key array's byte size, the keys, the values
        w.grow(8)
        w.increaseCursor(8)
        val keysAt = w.cursor()
        keys.initialize(nKeys)
        var j = 0
        while (j < nKeys) { putKey(j, keys, j); j += 1 }
        Platform.putLong(w.getBuffer, keysAt - 8L, (w.cursor() - keysAt).toLong)
        arr.initialize(nKeys)
        j = 0
        while (j < nKeys) { putEntryValue(r, j, arr, j, depth); j += 1 }
      }
      w.setOffsetAndSizeFromPreviousCursor(s, prev)
      // a replaced message value is still parsed: it rejects what a decode rejects
      if (losers != null) {
        var i = 0
        while (i < losers.n) {
          scanEntry(r, losers.start(i), losers.end(i), all = true)
          skimAll(r, sub, depth + 1)
          i += 1
        }
      }
    }
  }

  /** Bytes with a terminating (high bit clear) byte: the elements of a
    * packed varint run; fixed-width runs divide. A malformed run raises
    * when its elements are read. */
  private def packedCount(b: Array[Byte], start: Int, end: Int, wt: Int): Int =
    if (wt == Varint) {
      var n = 0
      var i = start
      while (i < end) { if (b(i) >= 0) n += 1; i += 1 }
      n
    } else (end - start) / (if (wt == Fixed64) 8 else 4)

  private def putDefault(l: Leaf, out: UnsafeWriter, o: Int): Unit =
    if (l.wt == Len) out.write(o, Array.emptyByteArray, 0, 0) else putRaw(l, 0L, out, o, plain = true)

  private def putScalar(l: Leaf, r: Reader, start: Int, end: Int, out: UnsafeWriter, o: Int,
      plain: Boolean): Unit =
    if (l.wt == Len) putBytes(out, o, r.buf, start, end - start, l.kind == KString)
    else { r.pos = start; r.end = end; putRaw(l, readRaw(r, l.wt), out, o, plain) }

  /** The catalyst value of a scalar's wire value `raw`. A plain
    * (no-presence) -0.0 is absent, so it writes as 0.0, as in
    * DynamicMessage. */
  private def putRaw(l: Leaf, raw: Long, out: UnsafeWriter, o: Int, plain: Boolean): Unit =
    (l.kind: @switch) match {
      case KDouble =>
        val d = java.lang.Double.longBitsToDouble(raw)
        out.write(o, if (plain && d == 0.0) 0.0 else d)
      case KFloat =>
        val x = java.lang.Float.intBitsToFloat(raw.toInt)
        out.write(o, if (plain && x == 0.0f) 0.0f else x)
      case KInt => out.write(o, raw.toInt)
      case KUInt32 => out.write(o, raw & 0xFFFFFFFFL)
      case KSInt32 => out.write(o, ProtoWire.unzigzag32(raw))
      case KSInt64 => out.write(o, ProtoWire.unzigzag64(raw))
      case KBool => out.write(o, raw != 0L)
      case KEnumName =>
        val nm = l.name(raw.toInt)
        out.write(o, nm, 0, nm.length)
      case _ => out.write(o, raw) // KLong
    }

  private def validUtf8(b: Array[Byte], start: Int, len: Int): Boolean = {
    var i = start
    while (i < start + len && b(i) >= 0) i += 1 // ASCII prefix
    i == start + len || UTF8String.fromBytes(b, i, start + len - i).isValid
  }

  /** Bytes that are not valid UTF-8 take the String decoder's replacement
    * characters, as on the DynamicMessage path. */
  private def utf8Replaced(b: Array[Byte], start: Int, len: Int): Array[Byte] =
    new String(b, start, len, UTF_8).getBytes(UTF_8)

  private def putBytes(out: UnsafeWriter, o: Int, b: Array[Byte], start: Int, len: Int,
      string: Boolean): Unit =
    if (!string || validUtf8(b, start, len)) out.write(o, b, start, len)
    else { val s = utf8Replaced(b, start, len); out.write(o, s, 0, s.length) }

  /** Reads the merged fields 1..n of a well-known type's occurrences into
    * `vals` (absent: 0); a wrapped string or bytes value as (start,
    * length). */
  private def readWkt(r: Reader, l: Leaf, rgs: Ranges, depth: Int, vals: Array[Long]): Unit = {
    if (rgs.n > 0) ProtoWire.checkDepth(depth)
    vals(0) = 0L; vals(1) = 0L; vals(2) = 0L; vals(3) = 0L
    var i = 0
    while (i < rgs.n) { rgs.window(r, i); wktFields(r, l, vals); i += 1 }
  }

  private def wktFields(r: Reader, l: Leaf, vals: Array[Long]): Unit =
    while (r.hasMore) {
      val t = r.varint()
      val wt = (t & 7).toInt
      val i = (t >>> 3).toInt - 1
      if (i < 0 || i >= l.wkt.length || wt != l.wkt(i)) r.skip(wt)
      else if (wt == Len) { val len = r.len(); vals(0) = r.pos; vals(1) = len; r.pos += len }
      else vals(i) = readRaw(r, wt)
    }

  /** Parses `r`'s window as message `m` at `depth` without writing it: it
    * rejects exactly what decoding it would. */
  private def skim(m: Msg, r: Reader, depth: Int, vals: Array[Long]): Unit = {
    ProtoWire.checkDepth(depth)
    while (r.hasMore) {
      val t = r.varint()
      val wt = (t & 7).toInt
      val s = m.slot((t >>> 3).toInt)
      if (s < 0 || (m.fields(s).wireTypes & (1 << wt)) == 0) r.skip(wt)
      else {
        val f = m.fields(s)
        if (f.mode >= MapCell || (wt == Len && f.packable)) {
          val len = r.len()
          val outer = r.end
          r.end = r.pos + len
          while (r.hasMore) {
            if (f.mode < MapCell) readRaw(r, f.value.wt)
            else {
              val et = r.varint()
              val ewt = (et & 7).toInt
              val num = (et >>> 3).toInt
              if (num == 1 && ewt == f.key.wt) skimValue(f.key, r, depth, vals)
              else if (num == 2 && ewt == f.value.wt) skimValue(f.value, r, depth, vals)
              else r.skip(ewt)
            }
          }
          r.end = outer
        } else skimValue(f.value, r, depth, vals)
      }
    }
  }

  private def skimValue(l: Leaf, r: Reader, depth: Int, vals: Array[Long]): Unit =
    if (!l.msgLike) r.skip(l.wt)
    else {
      val len = r.len()
      val outer = r.end
      val end = r.pos + len
      r.end = end
      if (l.kind == KMessage) skim(l.msg, r, depth + 1, vals)
      else { ProtoWire.checkDepth(depth + 1); wktFields(r, l, vals) }
      r.pos = end
      r.end = outer
    }

  // ================================================================ encode

  /** Compiled row → wire encoder against the rows' actual `schema`
    * (columns missing from it are skipped; nulls read as absent, or as the
    * default for a map value). Each call encodes one row into `w`, which
    * the caller owns and reuses across rows, and returns an exact-length
    * copy. A null element of a repeated field, or a cell whose type cannot
    * hold its field's type, raises IllegalArgumentException. Integral
    * fields of 64 bits also read IntegerType cells. */
  def encoder(md: PMessageDesc, schema: StructType, cfg: GraftConfig,
      reg: ProtoRegistry): (InternalRow, Writer) => Array[Byte] = {
    val plan = encodePlan(md, schema, cfg, reg)
    (row, w) => { plan.write(row, w); w.toByteArray }
  }

  /** The compiled encoder of [[encoder]] without its copy: `write(row, w)`
    * leaves the row's bytes in `w` (`w.buffer`, `w.size`). */
  def encodePlan(md: PMessageDesc, schema: StructType, cfg: GraftConfig,
      reg: ProtoRegistry): EncodePlan =
    new EncodePlan(new EncodeCompiler(cfg, reg).message(md, schema), md.fullName)

  final class EncodePlan private[WireRows] (top: EMsg, name: String) extends Serializable {
    def write(row: InternalRow, w: Writer): Unit = { w.reset(); top.write(row, w) }
    override def toString: String = name
  }

  /** The fields of one message present in one struct, in ascending field
    * number (the canonical order ProtoWire.encode writes). */
  private final class EMsg(fields: Array[EField]) extends Serializable {
    def write(row: InternalRow, w: Writer): Unit = {
      var i = 0
      while (i < fields.length) { fields(i).write(row, w); i += 1 }
    }
  }

  /** One value of a proto type read from a catalyst cell through its typed
    * getter. `alt` reads the other cell type a kind accepts: an
    * IntegerType cell for a long, a BinaryType cell for an enum name. */
  private final class Put(val kind: Int, wt: Int, alt: Boolean) extends Serializable {
    /** KMessage: the struct's fields (null: Empty) and its width. */
    var msg: EMsg = _
    var width = 0
    var inner: Put = _
    var innerTag = 0L
    var cfg: GraftConfig = _
    var enumNums: java.util.HashMap[UTF8String, Integer] = _
    var mismatch: String = _

    private def long(g: SpecializedGetters, i: Int): Long = if (alt) g.getInt(i).toLong else g.getLong(i)

    /** Writes the non-null value at `(g, i)`, preceded by `tag` unless it
      * is negative (a packed element). With `omitDefault` (a plain
      * singular field) a value equal to the proto default (-0.0 included)
      * writes nothing. */
    def put(g: SpecializedGetters, i: Int, w: Writer, tag: Long, omitDefault: Boolean): Unit =
      (kind: @switch) match {
        case KString | KBytes => // the cell straight from unsafe memory, else through its getter
          var base: AnyRef = null
          var off = 0L
          var n = 0
          g match {
            case u: UnsafeRow => val c = u.getLong(i); base = u.getBaseObject; off = u.getBaseOffset + (c >> 32); n = c.toInt
            case a: UnsafeArrayData =>
              val c = a.getLong(i); base = a.getBaseObject; off = a.getBaseOffset + (c >> 32); n = c.toInt
            case _ if kind == KString => val u = g.getUTF8String(i); base = u.getBaseObject; off = u.getBaseOffset; n = u.numBytes
            case _ => val b = g.getBinary(i); base = b; off = Platform.BYTE_ARRAY_OFFSET; n = b.length
          }
          if (!(omitDefault && n == 0)) {
            if (tag >= 0) w.varint(tag)
            val mark = w.size
            w.varint(n.toLong)
            val b = w.claim(n)
            val start = w.size
            Platform.copyMemory(base, off, b, Platform.BYTE_ARRAY_OFFSET + start, n)
            w.advance(n)
            if (kind == KString && !validUtf8(b, start, n)) { // written as the String round trip writes it
              val s = new String(b, start, n, UTF_8).getBytes(UTF_8)
              w.truncate(mark); w.bytes(s)
            }
          }
        case KMessage =>
          if (tag >= 0) w.varint(tag)
          val mark = w.beginLen()
          if (msg != null) msg.write(g.getStruct(i, width), w)
          w.endLen(mark)
        case KTimestamp =>
          val micros = g.getLong(i)
          varintFields(w, tag, Codecs.timestampSeconds(micros), Codecs.timestampNanos(micros), 0L, 0L)
        case KDate =>
          val ld = Codecs.dateOf(g.getInt(i)) // the sentinel is the unset Date()
          if (ld == null) varintFields(w, tag, 0L, 0L, 0L, 0L)
          else varintFields(w, tag, ld.getYear, ld.getMonthValue, ld.getDayOfMonth, 0L)
        case KTimeOfDay =>
          val nanos = long(g, i) * cfg.timeOfDayUnit.nanos
          varintFields(w, tag, (nanos / 3600000000000L).toInt, ((nanos / 60000000000L) % 60).toInt,
            ((nanos / 1000000000L) % 60).toInt, (nanos % 1000000000L).toInt)
        case KDuration =>
          val ticks = long(g, i)
          varintFields(w, tag, Codecs.durationSeconds(ticks, cfg), Codecs.durationNanos(ticks, cfg), 0L, 0L)
        case KWrapper =>
          if (tag >= 0) w.varint(tag)
          val mark = w.beginLen()
          inner.put(g, i, w, innerTag, omitDefault = true)
          w.endLen(mark)
        case KMismatch => throw new IllegalArgumentException(mismatch)
        case _ =>
          var raw = 0L
          var default = false
          (kind: @switch) match {
            case KDouble =>
              val d = g.getDouble(i)
              raw = java.lang.Double.doubleToLongBits(d); default = d == 0.0
            case KFloat =>
              val x = g.getFloat(i)
              raw = java.lang.Float.floatToIntBits(x).toLong; default = x == 0.0f
            case KInt => raw = g.getInt(i).toLong; default = raw == 0L
            case KUInt32 => val x = long(g, i); raw = x & 0xFFFFFFFFL; default = x == 0L
            case KSInt32 => val x = g.getInt(i); raw = ProtoWire.zigzag32(x); default = x == 0
            case KSInt64 => val x = long(g, i); raw = ProtoWire.zigzag64(x); default = x == 0L
            case KBool => default = !g.getBoolean(i); raw = if (default) 0L else 1L
            case KEnumName => // an unknown name reads as 0
              val n = enumNums.get(if (alt) UTF8String.fromBytes(g.getBinary(i)) else g.getUTF8String(i))
              raw = if (n == null) 0L else n.longValue; default = raw == 0L
            case _ => raw = long(g, i); default = raw == 0L // KLong
          }
          if (!(omitDefault && default)) {
            if (tag >= 0) w.varint(tag)
            writeRaw(w, wt, raw)
          }
      }
  }

  /** A well-known type's message: its varint fields 1..4, each absent when
    * 0. */
  private def varintFields(w: Writer, tag: Long, f1: Long, f2: Long, f3: Long, f4: Long): Unit = {
    if (tag >= 0) w.varint(tag)
    val mark = w.beginLen()
    if (f1 != 0L) { w.varint(1L << 3); w.varint(f1) }
    if (f2 != 0L) { w.varint(2L << 3); w.varint(f2) }
    if (f3 != 0L) { w.varint(3L << 3); w.varint(f3) }
    if (f4 != 0L) { w.varint(4L << 3); w.varint(f4) }
    w.endLen(mark)
  }

  private final class EField(f: PField, idx: Int, mode: Int, key: Put, value: Put, reg: ProtoRegistry)
      extends Serializable {
    private val packed = mode == Repeated && ProtoWire.packable(f.typ)
    private val tag = (f.number.toLong << 3) |
      (if (packed || mode >= MapCell) Len else ProtoWire.wireType(f.typ))
    private val plain = !f.hasPresence
    private val keyTag = if (mode >= MapCell) (1L << 3) | ProtoWire.wireType(f.mapKey) else 0L
    private val valueTag = if (mode >= MapCell) (2L << 3) | ProtoWire.wireType(f.mapValue) else 0L
    // a null key or value writes its type's default
    private def defaultEntryField(n: Int, t: PType): Array[Byte] = {
      val w = new Writer(16)
      w.tag(n, ProtoWire.wireType(t))
      t match {
        case PMessage(_) => w.varint(0L)
        case _ => ProtoWire.writeScalar(w, t, PType.defaultOf(t), reg)
      }
      w.toByteArray
    }
    private val keyDefault = if (mode >= MapCell) defaultEntryField(1, f.mapKey) else null
    private val valueDefault = if (mode >= MapCell) defaultEntryField(2, f.mapValue) else null

    /** A map entry writes both fields always, defaults included, as
      * ProtoWire.encode does. */
    private def entry(ks: SpecializedGetters, ki: Int, vs: SpecializedGetters, vi: Int, w: Writer): Unit = {
      w.varint(tag)
      val mark = w.beginLen()
      if (ks.isNullAt(ki)) w.raw(keyDefault, 0, keyDefault.length)
      else key.put(ks, ki, w, keyTag, omitDefault = false)
      if (vs.isNullAt(vi)) w.raw(valueDefault, 0, valueDefault.length)
      else value.put(vs, vi, w, valueTag, omitDefault = false)
      w.endLen(mark)
    }

    def write(row: InternalRow, w: Writer): Unit =
      if (!row.isNullAt(idx)) (mode: @switch) match {
        case Singular => value.put(row, idx, w, tag, plain)
        case Repeated =>
          val xs = row.getArray(idx)
          val n = xs.numElements()
          var j = 0
          while (j < n) {
            // proto repeated fields cannot hold nulls, and dropping the
            // element would shrink the list and break positional correlation
            if (xs.isNullAt(j)) throw new IllegalArgumentException(
              s"null element in repeated field ${f.name}: proto repeated fields cannot represent null")
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
        case MapCell =>
          val m = row.getMap(idx)
          val ks = m.keyArray()
          val vs = m.valueArray()
          var j = 0
          while (j < m.numElements()) { entry(ks, j, vs, j, w); j += 1 }
        case _ => // MapList
          val es = row.getArray(idx)
          var j = 0
          while (j < es.numElements()) {
            val e = es.getStruct(j, 2)
            entry(e, 0, e, 1, w)
            j += 1
          }
      }
  }

  private final class EncodeCompiler(cfg: GraftConfig, reg: ProtoRegistry) {

    def message(md: PMessageDesc, schema: StructType): EMsg =
      new EMsg(md.fieldsByNumberAsc.flatMap { f =>
        val idx = schema.fieldNames.indexOf(f.name)
        if (idx < 0) None // column absent: skip field
        else Some(field(f, idx, schema.fields(idx).dataType))
      }.toArray)

    private def field(f: PField, idx: Int, dt: DataType): EField =
      if (f.isMap) dt match {
        case ArrayType(StructType(kv), _) if cfg.mapAsList && kv.length >= 2 =>
          new EField(f, idx, MapList, put(f.mapKey, kv(0).dataType), put(f.mapValue, kv(1).dataType), reg)
        case MapType(kt, vt, _) if !cfg.mapAsList =>
          new EField(f, idx, MapCell, put(f.mapKey, kt), put(f.mapValue, vt), reg)
        case _ => new EField(f, idx, Singular, null, mismatch(f.typ, dt), reg)
      }
      else if (f.repeated) dt match {
        case ArrayType(et, _) => new EField(f, idx, Repeated, null, put(f.typ, et), reg)
        case _ => new EField(f, idx, Singular, null, mismatch(f.typ, dt), reg)
      }
      else new EField(f, idx, Singular, null, put(f.typ, dt), reg)

    private def mismatch(t: PType, dt: DataType): Put = {
      val p = new Put(KMismatch, Varint, alt = false)
      p.mismatch = s"cannot decode a $dt cell as $t"
      p
    }

    /** A `kind` leaf if `dt` can hold it; `alt` as in [[Put]]. */
    private def leaf(t: PType, dt: DataType, kind: Int, fits: Boolean, alt: Boolean = false): Put =
      if (!fits) mismatch(t, dt)
      else {
        val p = new Put(kind, ProtoWire.wireType(t), alt)
        p.cfg = cfg
        p
      }

    private def integral(t: PType, dt: DataType, kind: Int): Put =
      leaf(t, dt, kind, dt == LongType || dt == IntegerType, alt = dt == IntegerType)

    private def put(t: PType, dt: DataType): Put = t match {
      case PMessage(WellKnown.TimestampName) => leaf(t, dt, KTimestamp, dt == TimestampType)
      case PMessage(WellKnown.DateName) => leaf(t, dt, KDate, dt == DateType)
      case PMessage(WellKnown.TimeOfDayName) => integral(t, dt, KTimeOfDay)
      case PMessage(WellKnown.DurationName) => integral(t, dt, KDuration)
      case PMessage(name) if WellKnown.isWrapper(name) =>
        val inner = put(WellKnown.wrapperNames(name), dt)
        if (inner.kind == KMismatch) inner
        else {
          val p = leaf(t, dt, KWrapper, fits = true)
          p.inner = inner
          p.innerTag = (1L << 3) | ProtoWire.wireType(WellKnown.wrapperNames(name))
          p
        }
      case PMessage(WellKnown.EmptyName) => leaf(t, dt, KMessage, fits = true)
      case PMessage(name) => dt match {
        case st: StructType if !WellKnown.isWellKnown(name) =>
          val p = leaf(t, dt, KMessage, fits = true)
          p.msg = message(reg.message(name), st)
          p.width = st.length
          p
        case _ => mismatch(t, dt)
      }
      case PEnum(name) if cfg.enumType.nameBased =>
        val binary = cfg.enumType.binary
        val p = leaf(t, dt, KEnumName, dt == (if (binary) BinaryType else StringType), alt = binary)
        if (p.kind == KEnumName) {
          p.enumNums = new java.util.HashMap[UTF8String, Integer]()
          reg.enum(name).nameToNumber.foreach { case (n, v) => p.enumNums.put(UTF8String.fromString(n), v) }
        }
        p
      case _ => scalarKind(t) match {
        case k @ (KLong | KUInt32 | KSInt64) => integral(t, dt, k)
        case k => leaf(t, dt, k, dt == (k match {
          case KDouble => DoubleType
          case KFloat => FloatType
          case KBool => BooleanType
          case KString => StringType
          case KBytes => BinaryType
          case _ => IntegerType
        }))
      }
    }
  }
}
