package graft.conv

import java.nio.charset.StandardCharsets.UTF_8
import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite
import graft.proto._

/** Seeded mutants of recursive payloads under skipRecursiveMessages, where
  * [[WireRows]] parses what it does not write: the pruned messages and
  * the map values a later entry of their key replaces. It accepts exactly
  * the payloads the reference path
  * (`Codecs.internalRowWriter(ProtoWire.decode(b))`) accepts, with equal
  * rows, and rejects the rest only with IllegalArgumentException. */
class RecursiveMutantSpec extends AnyFunSuite {

  private val reg = Schemas.registry
  private val cfg = GraftConfig(skipRecursiveMessages = true)

  /** Both paths accept `bytes` with equal rows, or both reject it with
    * IllegalArgumentException; returns whether they accepted. */
  private def sameDecode(md: PMessageDesc, bytes: Array[Byte], clue: String): Boolean = {
    val toRow = CatalystTypeConverters.createToScalaConverter(SchemaConversion.messageTypeToSchema(md, cfg, reg))
    val direct = Try(toRow(TestGen.wireDecoder(md, cfg, reg)(bytes)))
    val reference = Try(toRow(Codecs.internalRowWriter(md, cfg, reg)(ProtoWire.decode(bytes, md, reg))))
    (direct, reference) match {
      case (Success(a), Success(b)) => assert(a === b, clue); true
      case (Failure(_: IllegalArgumentException), Failure(_: IllegalArgumentException)) => false
      case other => fail(s"$clue: paths disagree: $other")
    }
  }

  private def wire(fill: ProtoWire.Writer => Unit): Array[Byte] = {
    val w = new ProtoWire.Writer()
    fill(w)
    w.toByteArray
  }

  private val mapMd = Schemas.recursiveMap

  /** One `children_map` entry of [[mapMd]]. */
  private def entry(key: String, value: Array[Byte]): Array[Byte] = wire { w =>
    w.tag(2, ProtoWire.Len)
    w.bytes(wire { e =>
      e.tag(1, ProtoWire.Len); e.bytes(key.getBytes(UTF_8))
      e.tag(2, ProtoWire.Len); e.bytes(value)
    })
  }

  private val valid = ProtoWire.encode(TestGen.sample(TestGen.genNested(mapMd, 2), 5L), reg)
  /** A map value whose `name` runs past its end. */
  private val corrupt = wire { v => v.tag(1, ProtoWire.Len); v.varint(40L); v.raw(Array[Byte](1, 2), 0, 2) }
  /** Key "k" twice: a corrupt first value (at the top of the value, then
    * one map level down), then a corrupt-free one. */
  private val replacedCorrupt = Seq(corrupt, entry("x", corrupt)).map(entry("k", _) ++ entry("k", valid))
  private val replacedValid = entry("k", valid) ++ entry("j", valid) ++ entry("k", entry("y", valid))

  test("a replaced map value is parsed: a corrupt one rejects, a valid one does not") {
    replacedCorrupt.zipWithIndex.foreach { case (b, i) => assert(!sameDecode(mapMd, b, s"corrupt $i")) }
    assert(sameDecode(mapMd, replacedValid, "valid"))
  }

  for ((md, seed) <- Seq(Schemas.recursiveSelf, Schemas.recursiveRepeated, mapMd,
      Schemas.recursiveLevel1).zipWithIndex)
    test(s"${md.fullName.split('.').last}: mutants of nested payloads decode or reject alike") {
      val base = TestGen.sample(Gen.listOfN(6, TestGen.genNested(md, 4)), 70L + seed)
        .map(ProtoWire.encode(_, reg)).toVector
      base.zipWithIndex.foreach { case (b, i) => assert(sameDecode(md, b, s"base $i"), s"base $i rejected") }
      val payloads = TestGen.mutants(base ++ (if (md == mapMd) replacedCorrupt :+ replacedValid else Nil))
      val accepted = payloads.zipWithIndex.count { case (b, i) => sameDecode(md, b, s"payload $i") }
      assert(accepted < payloads.size, "the mutations must produce malformed payloads")
    }
}
