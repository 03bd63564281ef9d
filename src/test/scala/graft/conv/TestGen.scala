package graft.conv

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.proto._
import graft.proto.PType._

/** Shared reflective random-message generator over the descriptor IR —
  * full numeric ranges (incl. uint64 0..2^64-1 as bit-patterns) and random
  * presence, mirroring tests/random_generator.py:58-128. Used by
  * [[RandomRoundTripSpec]] and by [[RoundTripSpec]] for the messages the
  * reference generates randomly instead of shipping as fixtures
  * (SuperNestedExampleMessage — tests/test_conversion.py:128-134). */
object TestGen {

  private val reg = Schemas.registry

  /** Deterministic sampling (no scalatest-scalacheck bridge offline). */
  def sample[A](g: Gen[A], seed: Long): A =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  def genScalar(t: PType): Gen[Any] = t match {
    case PDouble => Gen.chooseNum(-1.0d, 1.0d)
    case PFloat => Gen.chooseNum(-1.0f, 1.0f)
    case PInt32 | PSInt32 | PSFixed32 => Gen.chooseNum(Int.MinValue, Int.MaxValue)
    case PInt64 | PSInt64 | PSFixed64 => Gen.chooseNum(Long.MinValue, Long.MaxValue)
    case PUInt32 | PFixed32 => Gen.chooseNum(0L, 0xFFFFFFFFL)
    case PUInt64 | PFixed64 => Gen.chooseNum(Long.MinValue, Long.MaxValue) // full 2^64 bit-patterns
    case PBool => Gen.oneOf(true, false)
    case PString => Gen.alphaNumStr.map(_.take(12))
    case PBytes => Gen.listOf(Gen.chooseNum(Byte.MinValue, Byte.MaxValue))
      .map(bs => Bytes(bs.toArray))
    case PEnum(name) => Gen.oneOf(reg.enum(name).values.map(_._2))
    case PMessage(WellKnown.TimestampName) => for {
      s <- Gen.chooseNum(-62135596800L, 253402300799L) // proto range 0001..9999
      n <- Gen.chooseNum(0, 999999999)
    } yield DynamicMessage(WellKnown.timestamp, Map(1 -> s, 2 -> n))
    case PMessage(WellKnown.DateName) => for {
      y <- Gen.chooseNum(1, 9999); m <- Gen.chooseNum(1, 12); d <- Gen.chooseNum(1, 28)
    } yield DynamicMessage(WellKnown.date, Map(1 -> y, 2 -> m, 3 -> d))
    case PMessage(WellKnown.TimeOfDayName) => for {
      h <- Gen.chooseNum(0, 23); mi <- Gen.chooseNum(0, 59)
      s <- Gen.chooseNum(0, 59); n <- Gen.chooseNum(0, 999999999)
    } yield DynamicMessage(WellKnown.timeOfDay, Map(1 -> h, 2 -> mi, 3 -> s, 4 -> n))
    case PMessage(WellKnown.DurationName) => for {
      // ns-representable range, nanos always >= 0
      // (tests/random_generator.py:37-41)
      s <- Gen.chooseNum(-9223372036L, 9223372035L)
      n <- Gen.chooseNum(0, 999999999)
    } yield DynamicMessage(WellKnown.duration, Map(1 -> s, 2 -> n))
    case PMessage(WellKnown.EmptyName) => Gen.const(DynamicMessage.empty(WellKnown.empty))
    case PMessage(name) if WellKnown.isWrapper(name) =>
      genScalar(WellKnown.wrapperNames(name))
        .map(v => DynamicMessage(reg.message(name), Map(1 -> v)))
    case PMessage(name) => genMessage(reg.message(name))
  }

  def genMessage(md: PMessageDesc): Gen[DynamicMessage] =
    Gen.sequence[Vector[Option[(Int, Any)]], Option[(Int, Any)]](
      md.fields.map { f =>
        val gv: Gen[Any] =
          if (f.isMap) Gen.mapOfN(3, Gen.zip(genScalar(f.mapKey), genScalar(f.mapValue)))
          else if (f.repeated) Gen.listOfN(3, genScalar(f.typ)).map(_.toVector)
          else genScalar(f.typ)
        // random presence (tests/random_generator.py:123-128)
        Gen.option(gv).map(_.map(v => f.number -> v))
      }.toVector
    ).map(opts => DynamicMessage(md, opts.flatten.toMap))

  /** A message of a recursive type `md`: every field present, message
    * fields nested `depth` levels (then empty), two elements per repeated
    * or map field. */
  def genNested(md: PMessageDesc, depth: Int): Gen[DynamicMessage] = {
    def value(t: PType): Gen[Any] = t match {
      case PMessage(name) if depth == 0 => Gen.const(DynamicMessage.empty(reg.message(name)))
      case PMessage(name) => genNested(reg.message(name), depth - 1)
      case _ => genScalar(t)
    }
    Gen.sequence[Vector[(Int, Any)], (Int, Any)](md.fields.map { f =>
      (if (f.isMap) Gen.mapOfN(2, Gen.zip(genScalar(f.mapKey), value(f.mapValue)))
      else if (f.repeated) Gen.listOfN(2, value(f.typ)).map(_.toVector)
      else value(f.typ)).map(f.number -> _)
    }.toVector).map(vs => DynamicMessage(md, vs.toMap))
  }

  /** WireFuzzSpec's mutant set for `md`: [[mutants]] of 24 seeded
    * payloads (seed 7). */
  def wireMutants(md: PMessageDesc): Vector[Array[Byte]] =
    mutants(sample(Gen.listOfN(24, genMessage(md)), 7L)
      .map(ProtoWire.encode(_, reg)).filter(_.length > 1).toVector)

  /** `base` plus one byte-flip, one truncation and one
    * inflated-length-prefix mutant of each payload (seed 1000 + 3 *
    * payload + kind); every payload needs a top-level length prefix. */
  def mutants(base: Vector[Array[Byte]]): Vector[Array[Byte]] = {
    def flip(b: Array[Byte]): Gen[Array[Byte]] = for {
      k <- Gen.chooseNum(1, 4)
      hits <- Gen.listOfN(k, Gen.zip(Gen.chooseNum(0, b.length - 1), Gen.chooseNum(1, 255)))
    } yield {
      val m = b.clone()
      hits.foreach { case (i, x) => m(i) = (m(i) ^ x).toByte }
      m
    }
    def truncate(b: Array[Byte]): Gen[Array[Byte]] =
      Gen.chooseNum(0, b.length - 1).map(n => b.take(n))
    def inflate(b: Array[Byte]): Gen[Array[Byte]] = {
      // (start, end, length) of every top-level length prefix
      val r = new ProtoWire.Reader(b)
      val prefixes = Vector.newBuilder[(Int, Int, Long)]
      while (r.hasMore) {
        val wt = (r.varint() & 7).toInt
        if (wt == ProtoWire.Len) {
          val start = r.pos
          val len = r.varint()
          prefixes += ((start, r.pos, len))
          r.pos += len.toInt
        } else r.skip(wt)
      }
      for {
        (start, end, len) <- Gen.oneOf(prefixes.result())
        extra <- Gen.oneOf(Gen.chooseNum(1L, 64L), Gen.chooseNum(1L << 20, 1L << 40))
      } yield {
        val w = new ProtoWire.Writer()
        w.varint(len + extra)
        b.take(start) ++ w.toByteArray ++ b.drop(end)
      }
    }
    base ++ base.zipWithIndex.flatMap { case (b, i) =>
      Seq(flip(b), truncate(b), inflate(b)).zipWithIndex.map { case (g, k) =>
        sample(g, 1000L + 3L * i + k)
      }
    }
  }

  /** A [[WireRows]] decoder of whole payloads, for one thread: it returns
    * one reused row, as [[WireRows.DecodePlan.newDecoder]] does. */
  def wireDecoder(md: PMessageDesc, cfg: GraftConfig, reg: ProtoRegistry): Array[Byte] => InternalRow = {
    val dec = WireRows.plan(md, cfg, reg).newDecoder()
    b => dec.decode(b, 0, b.length)
  }

  /** A [[WireRows]] encoder of rows of `schema` into exact-length
    * payloads, for one thread. */
  def wireEncoder(md: PMessageDesc, schema: StructType, cfg: GraftConfig,
      reg: ProtoRegistry): InternalRow => Array[Byte] = {
    val (plan, w) = (WireRows.encodePlan(md, schema, cfg, reg), new ProtoWire.Writer())
    row => { plan.write(row, w); w.toByteArray }
  }
}
