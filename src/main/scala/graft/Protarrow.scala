package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, GraftBridge, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.proto._
import graft.conv._

/** Public facade mirroring the reference's exported API 1:1
  * (reference __init__.py:14-26): `message_type_to_schema`,
  * `message_type_to_struct_type`, `messages_to_record_batch`,
  * `messages_to_table`, `record_batch_to_messages`, `table_to_messages`,
  * `cast_table`, `cast_record_batch`, `cast_struct_array`,
  * `MessageExtractor`, `ProtarrowConfig` (= [[graft.conv.GraftConfig]]).
  *
  * Batch/table distinction collapses in Spark — a DataFrame is already the
  * chunked "table"; the record-batch entry points are the local (driver)
  * builders, the table entry points the distributed ones.
  */
object Protarrow {

  def messageTypeToSchema(md: PMessageDesc, cfg: GraftConfig = GraftConfig(),
      reg: ProtoRegistry = WellKnown.registry): StructType =
    SchemaConversion.messageTypeToSchema(md, cfg, reg)

  def messageTypeToStructType(md: PMessageDesc, cfg: GraftConfig = GraftConfig(),
      reg: ProtoRegistry = WellKnown.registry): StructType =
    SchemaConversion.messageTypeToStructType(md, cfg, reg)

  /** messages → DataFrame, local rows (messages_to_record_batch,
    * proto_to_arrow.py:690-702). Defined for empty input: yields the full
    * typed schema with zero rows.
    *
    * Deliberately driver-local (LocalRelation): a parallelize-based
    * variant was A/B-measured and ships every message into tasks via Java
    * serialization — ~22 MB tasks and 1.3 s → 10.1 s on the 10k-row
    * full-shape bench point. A driver list stays on the driver; the
    * distributed encode path is [[messagesDatasetToDataFrame]]. */
  def messagesToDataFrame(spark: SparkSession, msgs: Seq[DynamicMessage],
      md: PMessageDesc, cfg: GraftConfig = GraftConfig(),
      reg: ProtoRegistry = WellKnown.registry): DataFrame = {
    val schema = messageTypeToSchema(md, cfg, reg)
    val writer = Codecs.internalRowWriter(md, cfg, reg)
    GraftBridge.localDataFrame(spark, schema, msgs.map(writer))
  }

  /** Distributed variant (messages_to_table): messages already on
    * executors as a Dataset stay there — encode runs per partition, no
    * driver round trip. */
  def messagesDatasetToDataFrame(ds: Dataset[DynamicMessage], md: PMessageDesc,
      cfg: GraftConfig = GraftConfig(),
      reg: ProtoRegistry = WellKnown.registry): DataFrame = {
    val writer = Codecs.internalRowWriter(md, cfg, reg)
    GraftBridge.internalDataFrame(ds.sparkSession, messageTypeToSchema(md, cfg, reg),
      ds.rdd.mapPartitions(_.map(writer)))
  }

  /** DataFrame → messages on the driver (table_to_messages,
    * arrow_to_proto.py:667-671). Tolerates missing columns. */
  def dataFrameToMessages(df: DataFrame, md: PMessageDesc,
      cfg: GraftConfig = GraftConfig(),
      reg: ProtoRegistry = WellKnown.registry): Seq[DynamicMessage] = {
    // catalyst-native read: executeCollect() yields InternalRows, so the
    // whole-row internal→external deserializer (per-cell Timestamp/
    // LocalDate/Row/Map allocation — the dominant and JIT-unstable cost
    // of collect() on the ~190-field harness schema) never runs; the
    // compiled reader decodes internal representations directly.
    // One job, not one per partition (toLocalIterator) — this API is
    // driver-side by contract; the distributed path is toProtoBinary.
    // withExecutionId keeps the collect visible to the Spark UI and
    // QueryExecutionListeners, which driving executedPlan directly skips
    // (ListenerSpec pins the listener callback)
    val reader = Codecs.internalRowReader(md, df.schema, cfg, reg)
    GraftBridge.withExecutionId(
        df.queryExecution, "dataFrameToMessages") {
      df.queryExecution.executedPlan.executeCollect()
    }.iterator.map(reader).toVector
  }

  /** Local rows → messages (record_batch_to_messages). */
  def rowsToMessages(rows: Seq[Row], schema: StructType, md: PMessageDesc,
      cfg: GraftConfig = GraftConfig(),
      reg: ProtoRegistry = WellKnown.registry): Seq[DynamicMessage] = {
    val reader = Codecs.rowReader(md, schema, cfg, reg)
    rows.map(reader)
  }

  /** Distributed decode: stays on executors, yields a Dataset of wire-format
    * proto bytes (the Spark-native way to "return messages" at scale without
    * collecting — pair with [[fromProtoBinary]]): a `ProtoEncode` node
    * ([[graft.conv.ProtoNodes]]). */
  def toProtoBinary(df: DataFrame, md: PMessageDesc,
      cfg: GraftConfig = GraftConfig(),
      reg: ProtoRegistry = WellKnown.registry): Dataset[Array[Byte]] =
    ProtoNodes.encode(df, WireRows.encodePlan(md, df.schema, cfg, reg))

  /** Distributed encode from wire-format bytes (micro-batch/Kafka shape —
    * the reference's streaming use case, docs/faq.md:20-25), batch or
    * streaming: a `ProtoDecode` node ([[graft.conv.ProtoNodes]]). `mode`
    * controls corrupt-record tolerance ([[graft.conv.IngestMode]]):
    * FAILFAST raises on the first undecodable payload (default, the
    * reference's behavior); PERMISSIVE appends a BINARY
    * `_corrupt_record` column carrying the raw bytes of rejects;
    * DROPMALFORMED skips them. A null payload (a Kafka tombstone) is
    * malformed. */
  def fromProtoBinary(ds: Dataset[Array[Byte]], md: PMessageDesc,
      cfg: GraftConfig = GraftConfig(),
      reg: ProtoRegistry = WellKnown.registry,
      mode: IngestMode = IngestMode.FailFast): DataFrame =
    ProtoNodes.decode(ds, new WirePayloads(md, cfg, reg), mode)

  /** Proto-JSONL scan (the fixture-loader shape,
    * tests/test_conversion.py:99-105): schema-directed distributed parse,
    * one `ProtoDecode` node over the text scan; blank lines are skipped.
    * `mode` controls corrupt-record tolerance ([[graft.conv.IngestMode]]):
    * FAILFAST raises on the first unparseable line (default, matching the
    * reference's json_format.Parse behavior); PERMISSIVE appends a STRING
    * `_corrupt_record` column carrying the raw line of rejects (NULL on
    * good rows, other fields NULL on rejects — `spark.read.json`
    * semantics); DROPMALFORMED skips bad lines. */
  def readProtoJsonl(spark: SparkSession, path: String, md: PMessageDesc,
      cfg: GraftConfig = GraftConfig(),
      reg: ProtoRegistry = WellKnown.registry,
      mode: IngestMode = IngestMode.FailFast): DataFrame =
    ProtoNodes.decode(spark.read.textFile(path), new JsonLines(md, cfg, reg), mode)

  /** SURVEY §7.4 risk 4: Spark cannot write empty-struct columns
    * (google.protobuf.Empty, recursion-pruned fields) to parquet. This
    * drops them for storage; presence is recoverable on read because the
    * decoder tolerates missing columns (an absent Empty field decodes as
    * unset — the only information lost is present-but-empty, the same
    * trade-off the reference documents for its arrow workaround,
    * tests/test_pyarrow.py:83-91). */
  def parquetSafe(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructField}
    import org.apache.spark.sql.functions.{lit, struct, transform, transform_values, when}
    // The schema with empty-struct LEAVES removed (None = nothing
    // writable remains at this position). Only the unwritable leaf is
    // dropped — sibling fields keep their data; the old whole-column drop
    // silently lost every sibling of a nested Empty field.
    def prunedType(dt: DataType): Option[DataType] = dt match {
      case s: StructType =>
        val kept = s.fields.flatMap(f =>
          prunedType(f.dataType).map(t => StructField(f.name, t, f.nullable)))
        if (kept.isEmpty) None else Some(StructType(kept))
      case a: ArrayType =>
        prunedType(a.elementType).map(t => ArrayType(t, a.containsNull))
      case m: MapType if prunedType(m.keyType).contains(m.keyType) =>
        prunedType(m.valueType).map(t => MapType(m.keyType, t, m.valueContainsNull))
      case _: MapType => None // struct-of-Empty map key: nothing to keep
      case other => Some(other)
    }
    def prune(c: Column, dt: DataType): Option[Column] = dt match {
      case s: StructType => prunedType(s).map { pt =>
        val st = pt.asInstanceOf[StructType]
        val children = st.fields.map(f =>
          prune(c.getField(f.name), s(f.name).dataType).get.as(f.name))
        // struct() of a null struct's fields would be a struct of nulls —
        // preserve the null mask explicitly
        when(c.isNull, lit(null).cast(pt)).otherwise(struct(children.toIndexedSeq: _*))
      }
      case a: ArrayType =>
        prunedType(dt).map(_ => transform(c, x => prune(x, a.elementType).get))
      case m: MapType =>
        prunedType(dt).map(_ => transform_values(c, (_, v) => prune(v, m.valueType).get))
      case _ => Some(c)
    }
    val kept = df.schema.fields.toIndexedSeq
      .flatMap(f => prune(df(f.name), f.dataType).map(_.as(f.name)))
    require(kept.nonEmpty,
      "no parquet-writable columns remain after dropping empty-struct fields")
    df.select(kept: _*)
  }

  /** Proto-JSONL sink: distributed write of proto-JSON lines (the inverse
    * of [[readProtoJsonl]]). */
  def writeProtoJsonl(df: DataFrame, md: PMessageDesc, path: String,
      cfg: GraftConfig = GraftConfig(),
      reg: ProtoRegistry = WellKnown.registry): Unit = {
    val reader = Codecs.internalRowReader(md, df.schema, cfg, reg)
    df.sparkSession.createDataset(df.queryExecution.toRdd.mapPartitions(rows =>
      rows.map(r => ProtoJson.toJson(reader(r), reg))))(Encoders.STRING)
      .write.mode("overwrite").text(path)
  }

  /** Schema-directed cast/normalize (cast_table, cast_to_proto.py:243-253):
    * pure Column expressions, fully Catalyst-optimized. */
  def castToProto(df: DataFrame, md: PMessageDesc,
      cfg: GraftConfig = GraftConfig(),
      reg: ProtoRegistry = WellKnown.registry): DataFrame =
    CastToProto.castDataFrame(df, md, cfg, reg)

  /** cast_record_batch parity: normalize local rows (the batch-level twin
    * of [[castToProto]]; a DataFrame is already the chunked table, so this
    * simply runs the same Column-expression cast over a local batch). */
  def castRecordBatch(spark: SparkSession, rows: Seq[Row], schema: StructType,
      md: PMessageDesc, cfg: GraftConfig = GraftConfig(),
      reg: ProtoRegistry = WellKnown.registry): DataFrame =
    castToProto(spark.createDataFrame(rows.asJava, schema), md, cfg, reg)

  /** cast_struct_array parity (cast_to_proto.py:216-240): cast one struct
    * column to a message's shape, preserving the struct-level null mask. */
  def castStructColumn(c: org.apache.spark.sql.Column, srcType: StructType,
      md: PMessageDesc, cfg: GraftConfig = GraftConfig(),
      reg: ProtoRegistry = WellKnown.registry): org.apache.spark.sql.Column =
    CastToProto.castStructColumn(c, srcType, md, cfg, reg)

  /** Row-wise extraction (MessageExtractor, message_extractor.py:144-162). */
  final class MessageExtractor(schema: StructType, md: PMessageDesc,
      cfg: GraftConfig = GraftConfig(),
      reg: ProtoRegistry = WellKnown.registry) extends Serializable {
    private val reader = Codecs.rowReader(md, schema, cfg, reg)
    def apply(row: Row): DynamicMessage = reader(row)
    /** Extract row `i` of the DataFrame as one message. Out of range
      * raises, like the reference's IndexError (message_extractor.py).
      * "Row i" follows the DataFrame's current row order — deterministic
      * for sorted or single-partition frames; impose an orderBy first if
      * the frame's order is partition-dependent.
      *
      * COST: O(i) per call — each lookup re-runs the plan through
      * `limit(i + 1)` and collects that prefix. Fine for a point probe;
      * for repeated lookups against one frame use [[materialize]], whose
      * handle is O(1) per row (the reference's equivalent also reads
      * from a materialized table, message_extractor.py:156-162). */
    def readTableRow(df: DataFrame, i: Int): DynamicMessage = {
      if (i < 0) throw new IndexOutOfBoundsException(
        s"row $i of a ${df.count()}-row DataFrame")
      val rows = df.limit(i + 1).collect()
      if (rows.length <= i) throw new IndexOutOfBoundsException(
        s"row $i of a ${rows.length}-row DataFrame")
      reader(rows(i))
    }

    /** Collect the frame ONCE into an O(1)-per-row handle — the
      * random-access twin of [[readTableRow]] for repeated probes.
      * Driver-bounded by construction (the handle holds the collected
      * rows): materialize only frames meant for point lookup — a
      * dimension slice, a top-k result — never a fact table; the
      * distributed row-wise path is `df.mapPartitions` over
      * [[MessageExtractor.apply]]. */
    def materialize(df: DataFrame): Materialized =
      new Materialized(df.collect())

    /** Cached-rows extractor: `readRow(i)` is an array index + decode. */
    final class Materialized private[MessageExtractor] (rows: Array[Row])
        extends Serializable {
      def size: Int = rows.length
      def readRow(i: Int): DynamicMessage = {
        if (i < 0 || i >= rows.length) throw new IndexOutOfBoundsException(
          s"row $i of a ${rows.length}-row materialized extractor")
        reader(rows(i))
      }
    }
  }
}
