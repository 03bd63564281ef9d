package graft.conv

import java.time.{Instant, LocalDate}
import scala.util.Try
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.scalatest.funsuite.AnyFunSuite
import graft.proto.WellKnown

/** The well-known-type leaves of [[Codecs]] against their java.time
  * definitions (kept here as the reference): the same value, or an
  * IllegalArgumentException with the same message, over boundary and
  * seeded random inputs. */
class WktLeafSpec extends AnyFunSuite {

  private def inRange[T](typeName: String, fields: => String)(convert: => T): T =
    try convert catch {
      case e @ (_: java.time.DateTimeException | _: ArithmeticException) =>
        throw new IllegalArgumentException(s"$typeName out of range: $fields", e)
    }

  private def timestampRef(secs: Long, nanos: Int, cfg: GraftConfig): Long = {
    val floor = math.max(cfg.timestampUnit.nanos, 1000L)
    inRange(WellKnown.TimestampName, s"seconds=$secs nanos=$nanos")(
      DateTimeUtils.instantToMicros(Instant.ofEpochSecond(secs, nanos - nanos % floor)))
  }

  private def dateRef(year: Int, month: Int, day: Int): Int =
    if (year == 0) SchemaConversion.DateSentinelEpochDay.toInt
    else inRange(WellKnown.DateName, s"year=$year month=$month day=$day")(
      DateTimeUtils.localDateToDays(LocalDate.of(year, month, day)))

  private def timeOfDayRef(h: Int, m: Int, s: Int, n: Int, cfg: GraftConfig): Long =
    inRange(WellKnown.TimeOfDayName, s"hours=$h minutes=$m seconds=$s nanos=$n")(
      Math.addExact(Math.multiplyExact(h * 3600L + m * 60L + s, 1000000000L), n.toLong) /
        cfg.timeOfDayUnit.nanos)

  private def durationRef(secs: Long, nanos: Int, cfg: GraftConfig): Long =
    inRange(WellKnown.DurationName, s"seconds=$secs nanos=$nanos")(Math.addExact(
      Math.multiplyExact(secs, 1000000000L / cfg.durationUnit.nanos), nanos / cfg.durationUnit.nanos))

  /** The value, or the IllegalArgumentException's message. */
  private def outcome[T](f: => T): Either[String, T] =
    Try(f).toEither.left.map {
      case e: IllegalArgumentException => e.getMessage
      case e => fail(s"${e.getClass.getName}: ${e.getMessage}")
    }

  private val cfgs = GraftConfig.TimeUnit.all.map(u =>
    GraftConfig(timestampUnit = u, timeOfDayUnit = u, durationUnit = u))
  private val rnd = new scala.util.Random(1307)

  private val maxMicrosSecond = Long.MaxValue / 1000000L
  private val minMicrosSecond = Math.floorDiv(Long.MinValue, 1000000L)
  private val edgeSeconds: Seq[Long] = Seq(0L, 1L, -1L, Long.MaxValue, Long.MinValue,
    Long.MaxValue - 1, Long.MinValue + 1, maxMicrosSecond, maxMicrosSecond + 1, maxMicrosSecond - 1,
    minMicrosSecond, minMicrosSecond + 1, minMicrosSecond - 1, -31557014167219200L,
    31556889864403199L, -62135596800L, 253402300799L, 9223372036L, -9223372037L)
  private val edgeNanos: Seq[Int] = Seq(0, 1, -1, 999, 1000, 224191, 224192, 775807, 775808,
    999999999, -999999999, 1000000000, -1000000000, Int.MaxValue, Int.MinValue)

  test("timestampMicros: Instant's normalisation and bounds, the µs range") {
    val random = Seq.fill(4000)((rnd.nextLong() >> rnd.nextInt(64), rnd.nextInt() >> rnd.nextInt(32)))
    for (cfg <- cfgs; (s, n) <- edgeSeconds.flatMap(s => edgeNanos.map(s -> _)) ++ random)
      assert(outcome(Codecs.timestampMicros(s, n, cfg)) === outcome(timestampRef(s, n, cfg)), s"$s $n $cfg")
  }

  test("dateDays: month, day and leap-year validation, the year bounds") {
    val years = Seq(0, 1, -1, 4, 100, 400, 1900, 2000, 2023, 2024, -4, -100, -400, 5881580, 5881581,
      -5877641, -5877642, 999999999, -999999999, 1000000000, -1000000000, Int.MaxValue, Int.MinValue)
    val random = Seq.fill(20000)((rnd.nextInt() >> rnd.nextInt(32), rnd.nextInt(16) - 1, rnd.nextInt(34) - 1))
    for ((y, m, d) <- years.flatMap(y => (-1 to 14).flatMap(m => (-1 to 32).map(d => (y, m, d)))) ++ random)
      assert(outcome(Codecs.dateDays(y, m, d)) === outcome(dateRef(y, m, d)), s"$y-$m-$d")
  }

  test("timeOfDayTicks and durationTicks: the tick range") {
    val ints = Seq(0, 1, -1, 23, 59, 60, 999999999, Int.MaxValue, Int.MinValue)
    for (cfg <- cfgs) {
      for (h <- ints; m <- ints; s <- ints; n <- ints)
        assert(outcome(Codecs.timeOfDayTicks(h, m, s, n, cfg)) === outcome(timeOfDayRef(h, m, s, n, cfg)))
      val random = Seq.fill(4000)((rnd.nextLong() >> rnd.nextInt(64), rnd.nextInt() >> rnd.nextInt(32)))
      for ((s, n) <- edgeSeconds.flatMap(s => edgeNanos.map(s -> _)) ++ random)
        assert(outcome(Codecs.durationTicks(s, n, cfg)) === outcome(durationRef(s, n, cfg)), s"$s $n $cfg")
    }
  }
}
