package graft.conv

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Encoders
import org.scalacheck.Gen
import graft.proto._
import graft.{Protarrow, SparkSpec}
import graft.conv.GraftConfig.{EnumRepr, TimeUnit}

/** Every encode path must produce the same cells from the same messages.
  * The reference frame is messagesToDataFrame (internalRowWriter →
  * LocalRelation), which RoundTripSpec pins against golden fixtures over
  * the full 35-config matrix. Against it, on random messages over the
  * representative leaf configs, this spec compares cell by cell:
  *  - fromProtoBinary over ProtoWire.encode of the same messages (the
  *    distributed wire scan: decode → internalRowWriter → RDD[InternalRow]),
  *  - messagesDatasetToDataFrame (the distributed encode),
  *  - createDataFrame over the rowWriter adapter's external Rows (the
  *    Row-API bridge through Spark's CatalystTypeConverters),
  * so a representation bug in one path can't hide behind a tolerant
  * decoder. */
class CatalystWriterSpec extends SparkSpec {

  private val reg = Schemas.registry

  // one config per distinct leaf representation the catalyst writer owns:
  // string enums (UTF8String), binary enums (delegate), temporal units
  // (micros/days/long ticks), map-as-list vs MapData, nullability knobs
  private val configs = Seq(
    GraftConfig(),
    GraftConfig(enumType = EnumRepr.StringRepr),
    GraftConfig(enumType = EnumRepr.Binary),
    GraftConfig(mapAsList = true),
    GraftConfig(timestampUnit = TimeUnit.Seconds),
    GraftConfig(timeOfDayUnit = TimeUnit.Seconds),
    GraftConfig(durationUnit = TimeUnit.Nanos),
    GraftConfig(listNullable = true, mapValueNullable = true))

  /** Collected cells normalized for deep equality (Array[Byte] compares
    * by reference inside Row.equals). */
  private def norm(v: Any): Any = v match {
    case a: Array[_] => a.toSeq.map(norm) // incl. primitive arrays: Row
    // cells for ArrayType may surface as raw arrays, which compare by ref
    case r: org.apache.spark.sql.Row => r.toSeq.map(norm)
    case s: scala.collection.Seq[_] => s.map(norm).toList // mutable.ArraySeq
    // from collect() is NOT scala.Seq (= immutable.Seq) in 2.13
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => norm(k) -> norm(x) }.toMap
    case other => other
  }

  for {
    name <- Seq("ExampleMessage", "NestedExampleMessage", "SuperNestedExampleMessage")
    (cfg, i) <- configs.zipWithIndex
  } test(s"$name: internal == external encode [#${i + 1} $cfg]") {
    val md = Schemas.msg(name)
    val msgs = TestGen.sample(Gen.listOfN(8, TestGen.genMessage(md)), 11L + i)
    val schema = Protarrow.messageTypeToSchema(md, cfg, reg)
    val expected = Protarrow.messagesToDataFrame(spark, msgs, md, cfg, reg)
    val wire = spark.createDataset(msgs.map(ProtoWire.encode(_, reg)))(Encoders.BINARY)
    val paths = Seq(
      "fromProtoBinary" -> Protarrow.fromProtoBinary(wire, md, cfg, reg),
      "messagesDatasetToDataFrame" -> Protarrow.messagesDatasetToDataFrame(
        spark.createDataset(msgs)(Encoders.kryo[DynamicMessage]), md, cfg, reg),
      "rowWriter" -> spark.createDataFrame(
        msgs.map(Codecs.rowWriter(md, cfg, reg)).asJava, schema))
    val eRows = expected.collect()
    paths.foreach { case (path, df) =>
      assert(df.schema === expected.schema, path)
      val rows = df.collect()
      assert(rows.length === eRows.length, path)
      rows.zip(eRows).zipWithIndex.foreach { case ((a, b), r) =>
        schema.fieldNames.indices.foreach { c =>
          assert(norm(a.get(c)) === norm(b.get(c)),
            s"$path: row $r field ${schema.fieldNames(c)} of $name under $cfg")
        }
      }
    }
  }
}
