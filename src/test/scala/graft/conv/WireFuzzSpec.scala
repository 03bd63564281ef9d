package graft.conv

import org.apache.spark.sql.Encoders
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

  private val reg = Schemas.registry
  private val md = Schemas.msg("ExampleMessage")
  private val C = IngestMode.CorruptColumn

  private val payloads: Vector[Array[Byte]] = TestGen.wireMutants(md)

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
