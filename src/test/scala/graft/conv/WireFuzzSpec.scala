package graft.conv

import org.apache.spark.sql.Encoders
import org.scalacheck.Gen
import graft.proto._
import graft.{Protarrow, SparkSpec}

/** Seeded mutation fuzz over the wire ingest scan. Random full-shape
  * payloads (RandomRoundTripSpec's generator) are mutated by byte flips,
  * truncation and inflated length prefixes, then fed to fromProtoBinary.
  * The contract under test: the wire codec either decodes a payload or
  * raises IllegalArgumentException, and the scan turns exactly the
  * payloads rejected on the driver — by ProtoWire.decode, or by the writer
  * for an out-of-range Timestamp/Date — into quarantined rows (PERMISSIVE)
  * or dropped rows (DROPMALFORMED); no task fails. */
class WireFuzzSpec extends SparkSpec {

  import TestGen.sample

  private val reg = Schemas.registry
  private val md = Schemas.msg("ExampleMessage")
  private val C = IngestMode.CorruptColumn

  /** (start, end, length) of every top-level length prefix in `b`. */
  private def lengthPrefixes(b: Array[Byte]): Vector[(Int, Int, Long)] = {
    val r = new ProtoWire.Reader(b)
    val out = Vector.newBuilder[(Int, Int, Long)]
    while (r.hasMore) {
      val wt = (r.varint() & 7).toInt
      if (wt == 2) {
        val start = r.pos
        val len = r.varint()
        out += ((start, r.pos, len))
        r.pos += len.toInt
      } else r.skip(wt)
    }
    out.result()
  }

  private def varint(v: Long): Array[Byte] = {
    val w = new ProtoWire.Writer()
    w.varint(v)
    w.out.toByteArray
  }

  private def flip(b: Array[Byte]): Gen[Array[Byte]] = for {
    k <- Gen.chooseNum(1, 4)
    hits <- Gen.listOfN(k, Gen.zip(Gen.chooseNum(0, b.length - 1), Gen.chooseNum(1, 255)))
  } yield {
    val m = b.clone()
    hits.foreach { case (i, x) => m(i) = (m(i) ^ x).toByte }
    m
  }

  private def truncate(b: Array[Byte]): Gen[Array[Byte]] =
    Gen.chooseNum(0, b.length - 1).map(n => b.take(n))

  private def inflate(b: Array[Byte]): Gen[Array[Byte]] = {
    val prefixes = lengthPrefixes(b)
    for {
      (start, end, len) <- Gen.oneOf(prefixes)
      extra <- Gen.oneOf(Gen.chooseNum(1L, 64L), Gen.chooseNum(1L << 20, 1L << 40))
    } yield b.take(start) ++ varint(len + extra) ++ b.drop(end)
  }

  private val payloads: Vector[Array[Byte]] = {
    val base = sample(Gen.listOfN(24, TestGen.genMessage(md)), 7L)
      .map(ProtoWire.encode(_, reg)).filter(_.length > 1).toVector
    val mutants = base.zipWithIndex.flatMap { case (b, i) =>
      Seq(flip(b), truncate(b), inflate(b)).zipWithIndex.map { case (g, k) =>
        sample(g, 1000L + 3L * i + k)
      }
    }
    base ++ mutants
  }

  /** Indices of the payloads the driver-side decode and write reject; any
    * other Throwable escapes and fails the spec. */
  private lazy val rejected: Set[Int] = {
    val write = Codecs.internalRowWriter(md, GraftConfig(), reg)
    payloads.indices.filter { i =>
      try { write(ProtoWire.decode(payloads(i), md, reg)); false }
      catch { case _: IllegalArgumentException => true }
    }.toSet
  }

  private def dataset =
    spark.createDataset(payloads)(Encoders.BINARY).repartition(4)

  test("mutated payloads: decode succeeds or raises IllegalArgumentException") {
    assert(rejected.nonEmpty, "the mutations must produce malformed payloads")
    assert(rejected.size < payloads.size)
    assert(!rejected.exists(_ < payloads.size / 4), "unmutated payloads decode")
  }

  test("PERMISSIVE quarantines exactly the payloads the decoder rejects") {
    val rows = Protarrow.fromProtoBinary(dataset, md, GraftConfig(), reg,
      IngestMode.Permissive).collect()
    assert(rows.length === payloads.size)
    val quarantined = rows.filterNot(_.isNullAt(rows.head.fieldIndex(C)))
      .map(_.getAs[Array[Byte]](C).toSeq).sortBy(_.toString)
    val expected = rejected.toSeq.map(i => payloads(i).toSeq).sortBy(_.toString)
    assert(quarantined.toSeq === expected)
  }

  test("DROPMALFORMED keeps the total minus the rejected payloads") {
    val df = Protarrow.fromProtoBinary(dataset, md, GraftConfig(), reg,
      IngestMode.DropMalformed)
    assert(df.collect().length === payloads.size - rejected.size)
  }
}
