package perfbench

import graft.proto._

/** Seeded full-shape `ExampleMessage` generator.
  *
  * Follows the reference harness's message shape: every field of the
  * message is considered, presence fields are set with probability 1/2,
  * repeated and map fields get 0 to 10 entries, and numeric fields span
  * their full range (uint64 as all 2^64 bit patterns). That makes a
  * message about 7 KB on the wire, and it exercises every codec.
  *
  * One deviation: `Timestamp.nanos` is drawn in whole microseconds. The
  * typed frame stores timestamps as Spark `TimestampType`, which has
  * microsecond resolution, and the benchmark's output checks require
  * every message to survive a round trip unchanged.
  *
  * The same seed always yields the same messages (java.util.Random is
  * specified bit for bit), so the same wire bytes. */
final class MsgGen(seed: Long) {
  import PType._
  private val rnd = new java.util.Random(seed)
  private val reg = Schemas.registry
  private val alphabet =
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789-_"

  private def randString(): String = {
    val n = rnd.nextInt(11)
    val sb = new StringBuilder(n)
    var i = 0
    while (i < n) { sb.append(alphabet.charAt(rnd.nextInt(64))); i += 1 }
    sb.toString
  }
  private def randBytes(): Bytes = {
    val b = new Array[Byte](rnd.nextInt(11)); rnd.nextBytes(b); Bytes.owned(b)
  }
  private def randRange(lo: Long, hi: Long): Long =
    Math.floorMod(rnd.nextLong(), hi - lo + 1) + lo

  private def scalar(t: PType): Any = t match {
    case PDouble => rnd.nextDouble() * 2 - 1
    case PFloat => rnd.nextFloat() * 2 - 1
    case PInt32 | PSInt32 | PSFixed32 => rnd.nextInt()
    case PInt64 | PSInt64 | PSFixed64 => rnd.nextLong()
    case PUInt32 | PFixed32 => rnd.nextInt().toLong & 0xFFFFFFFFL
    case PUInt64 | PFixed64 => rnd.nextLong()
    case PBool => rnd.nextBoolean()
    case PString => randString()
    case PBytes => randBytes()
    case PEnum(name) =>
      val vs = reg.enum(name).values; vs(rnd.nextInt(vs.size))._2
    case PMessage(WellKnown.TimestampName) =>
      DynamicMessage(WellKnown.timestamp, Map(
        1 -> randRange(-62135596800L, 253402300799L), // years 0001..9999
        2 -> rnd.nextInt(1000000) * 1000))
    case PMessage(WellKnown.DurationName) =>
      DynamicMessage(WellKnown.duration, Map(
        1 -> randRange(-9223372036L, 9223372035L),
        2 -> rnd.nextInt(1000000000)))
    case PMessage(WellKnown.DateName) =>
      DynamicMessage(WellKnown.date, Map(
        1 -> (1 + rnd.nextInt(9999)), 2 -> (1 + rnd.nextInt(12)),
        3 -> (1 + rnd.nextInt(28))))
    case PMessage(WellKnown.TimeOfDayName) =>
      DynamicMessage(WellKnown.timeOfDay, Map(
        1 -> rnd.nextInt(24), 2 -> rnd.nextInt(60), 3 -> rnd.nextInt(60),
        4 -> rnd.nextInt(1000000000)))
    case PMessage(WellKnown.EmptyName) => DynamicMessage.empty(WellKnown.empty)
    case PMessage(name) if WellKnown.isWrapper(name) =>
      DynamicMessage(reg.message(name), Map(1 -> scalar(WellKnown.wrapperNames(name))))
    case PMessage(name) => message(reg.message(name))
  }

  def message(md: PMessageDesc): DynamicMessage = {
    val vals = md.fields.flatMap { f =>
      if (f.isMap) {
        val n = rnd.nextInt(11)
        Some(f.number -> (0 until n).map(_ => scalar(f.mapKey) -> scalar(f.mapValue)).toMap)
      } else if (f.repeated) {
        Some(f.number -> Vector.fill(rnd.nextInt(11))(scalar(f.typ)))
      } else if (f.hasPresence) {
        if (rnd.nextBoolean()) Some(f.number -> scalar(f.typ)) else None
      } else Some(f.number -> scalar(f.typ))
    }.toMap
    DynamicMessage(md, vals)
  }

  def batch(md: PMessageDesc, n: Int): Vector[DynamicMessage] =
    Vector.fill(n)(message(md))
}
