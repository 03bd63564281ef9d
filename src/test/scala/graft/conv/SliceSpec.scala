package graft.conv

import org.apache.spark.sql.functions._
import graft.proto._
import graft.{Protarrow, SparkSpec}

/** Sliced-view semantics: the reference dedicates offset machinery to
  * decoding non-zero-offset array slices (arrow_to_proto.py:193-234;
  * tests/test_conversion.py:634-707). Spark's row model has no buffer
  * offsets — the equivalent contract is that decode/extract behave
  * identically on limit/offset/filter subsets of a table. */
class SliceSpec extends SparkSpec {

  private val reg = Schemas.registry
  private val md = Schemas.msg("ExampleMessage")

  private def fixtureDf = {
    val path = graft.operators.Fixtures.materialize("ExampleMessage")
    Protarrow.readProtoJsonl(spark, path, md, GraftConfig(), reg)
  }

  test("decode of limit/offset slices equals sliced decode of the whole") {
    val df = fixtureDf.withColumn("_rid", monotonically_increasing_id()).cache()
    val all = Protarrow.dataFrameToMessages(df.orderBy("_rid").drop("_rid"),
      md, GraftConfig(), reg)
    // head slice
    val head5 = Protarrow.dataFrameToMessages(
      df.orderBy("_rid").limit(5).drop("_rid"), md, GraftConfig(), reg)
    assert(head5 === all.take(5))
    // middle slice (offset 7, length 6)
    val mid = Protarrow.dataFrameToMessages(
      df.orderBy("_rid").filter(col("_rid") >= 7 && col("_rid") < 13).drop("_rid"),
      md, GraftConfig(), reg)
    assert(mid === all.slice(7, 13))
  }

  test("extractor on a sliced table returns the right rows") {
    val df = fixtureDf
    val ex = new Protarrow.MessageExtractor(df.schema, md, GraftConfig(), reg)
    val all = Protarrow.dataFrameToMessages(df, md, GraftConfig(), reg)
    assert(ex.readTableRow(df, 3) === all(3))
    assert(ex.readTableRow(df, 19) === all(19))
    for (i <- Seq(-1, -2)) {
      val e = intercept[IndexOutOfBoundsException] { ex.readTableRow(df, i) }
      assert(e.getMessage === s"row $i of a 20-row DataFrame")
    }
  }

  test("castRecordBatch and castStructColumn facade parity") {
    val myProto = Schemas.msg("MyProto")
    val msgs = Seq(
      DynamicMessage(myProto, Map(1 -> "a", 2 -> 1, 3 -> Vector(1))),
      DynamicMessage(myProto, Map(1 -> "b", 2 -> 2)))
    val df = Protarrow.messagesToDataFrame(spark, msgs, myProto, GraftConfig(), reg)
    val rows = df.collect().toSeq
    val casted = Protarrow.castRecordBatch(spark, rows, df.schema, myProto,
      GraftConfig(), reg)
    assert(Protarrow.dataFrameToMessages(casted, myProto, GraftConfig(), reg) === msgs)

    // struct-column cast: wrap rows in a struct, cast the struct column
    val nested = Schemas.msg("NullableExample")
    val nestedInner = Schemas.msg("NullableExample.NestedNullableExample")
    val src = df.select(when(col("id") === 1,
      struct(col("id").as("nested_int"))).as("s"))
    val out = src.select(Protarrow.castStructColumn(col("s"),
      src.schema("s").dataType.asInstanceOf[org.apache.spark.sql.types.StructType],
      nestedInner, GraftConfig(), reg).as("s"))
    val got = out.collect()
    assert(got(0).getStruct(0).getInt(0) === 1)
    assert(got(1).isNullAt(0)) // null mask preserved
  }
}

/** SURVEY §7.4 risk 4: empty-struct columns (google.protobuf.Empty,
  * recursion-pruned fields) cannot be written to parquet; parquetSafe
  * drops them and decode still works (missing-column tolerance). */
class ParquetSafeSpec extends SparkSpec {
  private val reg = Schemas.registry

  test("parquetSafe drops empty-struct columns; round trip through parquet") {
    val md = Schemas.msg("ExampleMessage")
    val path = graft.operators.Fixtures.materialize("ExampleMessage")
    val df = Protarrow.readProtoJsonl(spark, path, md, GraftConfig(), reg)
    val safe = Protarrow.parquetSafe(df)
    assert(!safe.columns.contains("empty_value"))
    assert(!safe.columns.contains("empty_values"))
    val out = java.nio.file.Files.createTempDirectory("graft_pq").toString + "/t"
    safe.write.parquet(out) // would throw with the empty structs present
    val back = spark.read.parquet(out)
    val msgs = Protarrow.dataFrameToMessages(back, md, GraftConfig(), reg)
    val orig = Protarrow.dataFrameToMessages(df, md, GraftConfig(), reg)
    // equal up to the dropped Empty-typed fields
    val emptyFieldNums = md.fields.filter { f =>
      f.typ == graft.proto.PType.PMessage(WellKnown.EmptyName)
    }.map(_.number).toSet
    assert(msgs.size === orig.size)
    // parquet read order is not the write order: compare as multisets of
    // Empty-stripped messages
    def strip(m: graft.proto.DynamicMessage) = graft.proto.DynamicMessage(md,
      m.values.filter { case (num, _) => !emptyFieldNums.contains(num) })
    assert(msgs.map(strip).toSet === orig.map(strip).toSet)
  }

  test("parquetSafe keeps SIBLINGS of a nested empty-struct field") {
    // a struct column holding {Empty e, string name} must lose only `e` —
    // the old whole-column drop silently lost every sibling's data
    import graft.proto._
    import graft.proto.PType._
    val sub = PMessageDesc("graft.test.SubWithEmpty", Seq(
      PField("e", 1, PMessage(WellKnown.EmptyName)),
      PField("name", 2, PString)))
    val outer = PMessageDesc("graft.test.OuterWithEmpty", Seq(
      PField("sub", 1, PMessage("graft.test.SubWithEmpty")),
      PField("id", 2, PInt64)))
    val reg2 = reg ++ new ProtoRegistry(
      Map(sub.fullName -> sub, outer.fullName -> outer), Map.empty)
    val msgs = Seq(
      DynamicMessage(outer, Map(
        1 -> DynamicMessage(sub, Map(1 -> DynamicMessage.empty(WellKnown.empty),
          2 -> "keep-me")), 2 -> 7L)),
      DynamicMessage(outer, Map(2 -> 8L))) // sub unset → null mask case
    val df = Protarrow.messagesToDataFrame(spark, msgs, outer, GraftConfig(), reg2)
    val safe = Protarrow.parquetSafe(df)
    val out = java.nio.file.Files.createTempDirectory("graft_pq2").toString + "/t"
    safe.write.parquet(out)
    val back = Protarrow.dataFrameToMessages(
      spark.read.parquet(out).orderBy("id"), outer, GraftConfig(), reg2)
    assert(back(0).get(1) === Some(DynamicMessage(sub, Map(2 -> "keep-me"))),
      "the sibling string must survive; only the Empty leaf is dropped")
    assert(back(1).get(1) === None, "unset sub must stay unset (null mask)")
    assert(back.map(_.get(2)) === Seq(Some(7L), Some(8L)))
  }

  test("readTableRow raises on out-of-range index (reference IndexError parity)") {
    val md2 = Schemas.msg("MyProto")
    val msgs = Seq(DynamicMessage(md2, Map(1 -> "x", 2 -> 1)))
    val df = Protarrow.messagesToDataFrame(spark, msgs, md2, GraftConfig(), reg)
    val ex = new Protarrow.MessageExtractor(df.schema, md2, GraftConfig(), reg)
    assert(ex.readTableRow(df, 0) === msgs.head)
    intercept[IndexOutOfBoundsException] { ex.readTableRow(df, 5) }
  }

  test("materialized extractor: O(1) handle agrees with readTableRow on " +
    "every row and raises on out-of-range") {
    val mdx = Schemas.msg("ExampleMessage")
    val path = graft.operators.Fixtures.materialize("ExampleMessage")
    val df = Protarrow.readProtoJsonl(spark, path, mdx, GraftConfig(), reg)
      .withColumn("_rid", monotonically_increasing_id())
      .orderBy("_rid").drop("_rid")
    val ex = new Protarrow.MessageExtractor(df.schema, mdx, GraftConfig(), reg)
    val h = ex.materialize(df)
    assert(h.size === 20)
    for (i <- Seq(0, 3, 19)) assert(h.readRow(i) === ex.readTableRow(df, i))
    intercept[IndexOutOfBoundsException] { h.readRow(20) }
    intercept[IndexOutOfBoundsException] { h.readRow(-1) }
  }
}
