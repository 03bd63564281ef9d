package graft.operators

import org.apache.spark.sql.functions._
import graft.Protarrow
import graft.proto._
import graft.proto.PType._
import graft.conv.GraftConfig

/** Part-A conversion surface exposed as driver-checkable queries
  * (SURVEY.md §2 Part A): schema-directed cast/normalize over a real
  * parquet table (DuckDB-oracle-checked), proto-JSONL scan, and the
  * distributed wire-format round trip.
  */
object ProtoOps {

  /** A proto shape for a slice of `lineitem`: present columns are cast,
    * `quality_tier` / `tags` are absent from the source (→ proto defaults),
    * and the source's extra columns are dropped — the cast_table contract
    * (cast_to_proto.py:166-213) on real data. */
  private val lineSlim = PMessageDesc("graft.LineSlim", Seq(
    PField("l_orderkey", 1, PInt64),
    PField("l_linenumber", 2, PInt32),
    PField("l_quantity", 3, PDouble),
    PField("l_returnflag", 4, PString),
    PField("quality_tier", 5, PString),
    PField("tags", 6, PInt64, repeated = true)))

  val pa61CastNormalize = Q(
    "pa61_cast_normalize",
    """SELECT l_orderkey,
       CAST(l_linenumber AS INTEGER) AS l_linenumber,
       CAST(l_quantity AS DOUBLE) AS l_quantity,
       l_returnflag,
       '' AS quality_tier,
       '' AS tags
       FROM lineitem ORDER BY l_orderkey, l_linenumber""") { (spark, dir) =>
    val src = T(spark, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag",
        "l_shipdate" /* extra column: must be dropped by the cast */)
    // repeated field surfaced via Csv for the driver (raw array form is
    // spec-covered in CastSpec)
    Protarrow.castToProto(src, lineSlim, GraftConfig(), WellKnown.registry)
      .withColumn("tags", expr(Csv.spark("tags")))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Proto-JSONL scan (schema-directed distributed parse, the reference's
    * fixture-loader shape). Oracle-checked: DuckDB reads the SAME
    * materialized jsonl with read_json and applies proto3 defaults for
    * absent fields (COALESCE) — int64 arrives as a JSON string (proto3
    * JSON), maps as JSON objects whose sorted keys both engines render as
    * the same CSV. Verify materializes the fixture before the driver runs
    * the oracle, and [[Fixtures.materialize]] pins the /tmp path the SQL
    * names. */
  val pa62ProtoJsonlScan = Q(
    "pa62_proto_jsonl_scan",
    """WITH src AS (
         SELECT * FROM read_json('/tmp/graft_fixture_ExampleMessage.jsonl',
           format='newline_delimited',
           columns={'int32_value': 'INTEGER', 'int64_value': 'BIGINT',
                    'string_value': 'VARCHAR', 'double_values': 'DOUBLE[]',
                    'int32_string_map': 'JSON'}))
       SELECT COALESCE(int32_value, 0) AS int32_value,
              COALESCE(int64_value, 0) AS int64_value,
              COALESCE(string_value, '') AS string_value,
              CAST(COALESCE(len(double_values), 0) AS INTEGER) AS n_doubles,
              COALESCE(array_to_string(list_sort(json_keys(int32_string_map)), ','), '') AS map_keys
       FROM src ORDER BY int32_value, int64_value""") { (spark, _) =>
    val path = Fixtures.materialize("ExampleMessage")
    val md = Schemas.msg("ExampleMessage")
    Protarrow.readProtoJsonl(spark, path, md, GraftConfig(), Schemas.registry)
      .select(col("int32_value"), col("int64_value"), col("string_value"),
        size(col("double_values")).as("n_doubles"),
        expr(Csv.spark("array_sort(map_keys(int32_string_map))")).as("map_keys"))
      .orderBy("int32_value", "int64_value")
  }

  /** Distributed wire-format round trip: DataFrame → proto bytes
    * (executor-side decode+encode) → DataFrame. The output is per-row match
    * accounting (not a single boolean) so the driver's rows/hash gates bite;
    * the oracle is the constant the 20-row fixture must produce — any
    * codec regression changes n_match and goes hash-red. */
  val pa63WireRoundtrip = Q(
    "pa63_wire_roundtrip",
    """SELECT CAST(20 AS BIGINT) AS n_rows, CAST(20 AS BIGINT) AS n_back,
       CAST(20 AS BIGINT) AS n_match""") { (spark, _) =>
    val path = Fixtures.materialize("ExampleMessage")
    val md = Schemas.msg("ExampleMessage")
    val reg = Schemas.registry
    val df = Protarrow.readProtoJsonl(spark, path, md, GraftConfig(), reg)
    val bytes = Protarrow.toProtoBinary(df, md, GraftConfig(), reg)
    val back = Protarrow.fromProtoBinary(bytes, md, GraftConfig(), reg)
    // value-level check: both tables must decode to identical messages
    // (set-ops can't compare map columns, message equality can)
    val before = Protarrow.dataFrameToMessages(df, md, GraftConfig(), reg)
    val after = Protarrow.dataFrameToMessages(back, md, GraftConfig(), reg)
    val nMatch = before.zip(after).count { case (a, b) => a == b }
    import spark.implicits._
    Seq((before.size.toLong, after.size.toLong, nMatch.toLong))
      .toDF("n_rows", "n_back", "n_match")
  }

  /** Permissive ingest over a corpus with injected malformed lines —
    * the corrupt-record tolerance tier ([[graft.conv.IngestMode]]) made
    * driver-checkable. The fixture is the 20-row ExampleMessage jsonl
    * plus 3 deterministic garbage lines ([[Fixtures.materializeCorrupt]]);
    * the PERMISSIVE scan must keep all 23 rows with exactly the 3
    * rejects quarantined in `_corrupt_record`, and the DROPMALFORMED
    * twin must keep exactly the 20 good rows. Oracle follows the pa63
    * convention: the constants this fixture must produce — any
    * tolerance regression (a reject killing the scan, a good row
    * misclassified) shifts a count and goes red. */
  val pa64PermissiveScan = Q(
    "pa64_permissive_scan",
    """SELECT CAST(23 AS BIGINT) AS n_total, CAST(20 AS BIGINT) AS n_ok,
       CAST(3 AS BIGINT) AS n_rejected, CAST(20 AS BIGINT) AS n_drop_rows""") {
    (spark, _) =>
    val path = Fixtures.materializeCorrupt("ExampleMessage")
    val md = Schemas.msg("ExampleMessage")
    val reg = Schemas.registry
    val perm = Protarrow.readProtoJsonl(spark, path, md, GraftConfig(), reg,
      graft.conv.IngestMode.Permissive)
    val dropped = Protarrow.readProtoJsonl(spark, path, md, GraftConfig(), reg,
      graft.conv.IngestMode.DropMalformed)
    val c = graft.conv.IngestMode.CorruptColumn
    perm.agg(
        count(lit(1)).as("n_total"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_ok"),
        sum(when(col(c).isNotNull, 1L).otherwise(0L)).as("n_rejected"))
      .crossJoin(broadcast(dropped.agg(count(lit(1)).as("n_drop_rows"))))
  }

  /** Physical parquet FIELD-ID round trip — the point of the reference's
    * `b"PARQUET:field_id"` metadata (common.py:89-93,
    * tests/test_conversion.py:952-962) carried all the way into storage:
    * a proto-derived schema with [[GraftConfig.fieldNumberKey]] set to
    * Spark's native `parquet.field.id` key writes the proto field
    * numbers into the parquet footer
    * (`spark.sql.parquet.fieldId.write.enabled`), and the re-read
    * resolves columns BY ID under completely different names
    * (`spark.sql.parquet.fieldId.read.enabled`) — schema-evolution-safe
    * storage, the reason field ids exist. The query aggregates over the
    * RENAMED id-resolved columns; if id resolution broke, every value
    * would be NULL and the hash goes red. FieldIdSpec pins the negative
    * (name-based read of the renamed schema yields nulls) and the
    * nested case. */
  val pa65ParquetFieldId = Q(
    "pa65_parquet_field_id",
    """SELECT l_returnflag AS flag, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(l_orderkey) AS BIGINT) AS sum_ok
       FROM lineitem GROUP BY 1 ORDER BY flag""") { (spark, dir) =>
    import org.apache.spark.sql.types._
    val key = FieldIds.SparkKey
    // the field-id confs are SESSION-GLOBAL and Spark offers no per-read
    // option for them, so the whole write→read→aggregate pipeline runs
    // EAGERLY inside a save/restore bracket (conf hygiene: nothing this
    // query flips survives it) and only the flag-domain result (≤ a few
    // rows, the broadcast-dim posture) comes back as a local frame
    Confs.withConfs(spark, Seq(
      "spark.sql.parquet.fieldId.write.enabled" -> "true",
      "spark.sql.parquet.fieldId.read.enabled" -> "true")) {
      val md = PMessageDesc("graft.LineId", Seq(
        PField("l_orderkey", 1, PInt64),
        PField("l_returnflag", 2, PString)))
      val schema = graft.conv.SchemaConversion.messageTypeToSchema(
        md, GraftConfig(fieldNumberKey = Some(key)), WellKnown.registry)
      val stamped = T(spark, dir, "lineitem").select(
        col("l_orderkey").as("l_orderkey", schema("l_orderkey").metadata),
        col("l_returnflag").as("l_returnflag", schema("l_returnflag").metadata))
      val out = TmpLayouts.register(
        s"${System.getProperty("java.io.tmpdir")}/graft_fieldid_" +
          s"${Scale.sourceKey(dir, "lineitem")}_${spark.sparkContext.applicationId}")
      stamped.write.mode("overwrite").parquet(out)
      // renamed read schema: same ids, different names — resolution is by id
      val renamed = StructType(Seq(
        StructField("ok", LongType, nullable = true, FieldIds.meta(1)),
        StructField("flag", StringType, nullable = true, FieldIds.meta(2))))
      val res = spark.read.schema(renamed).parquet(out)
        .groupBy("flag")
        .agg(count(lit(1)).as("n"), sum(col("ok")).as("sum_ok"))
        .orderBy("flag")
      spark.createDataFrame(
        java.util.Arrays.asList(res.collect(): _*), res.schema)
    }
  }

  val all: Seq[Q] =
    Seq(pa61CastNormalize, pa62ProtoJsonlScan, pa63WireRoundtrip,
      pa64PermissiveScan, pa65ParquetFieldId)
}

/** Spark's native parquet field-id metadata key + a builder for read
  * schemas that resolve by id. */
object FieldIds {
  /** The StructField metadata key Spark's parquet writer/reader honors
    * (org.apache.spark.sql.execution.datasources.parquet.ParquetUtils).
    * Passing it as [[graft.conv.GraftConfig.fieldNumberKey]] makes the
    * proto field numbers physical parquet field ids. */
  val SparkKey = "parquet.field.id"

  def meta(id: Long): org.apache.spark.sql.types.Metadata =
    new org.apache.spark.sql.types.MetadataBuilder()
      .putLong(SparkKey, id).build()
}

/** Classpath fixtures → temp files (spark.read needs paths). The path is
  * pinned to /tmp (not java.io.tmpdir) because pa62's oracle SQL names it.
  * The copy always overwrites: a stale file from an older run (or another
  * checkout on a shared machine) must never feed the oracle different data
  * than the resource the Spark side was built against. */
object Fixtures {
  def materialize(name: String): String = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val target = Paths.get("/tmp", s"graft_fixture_$name.jsonl")
    // copy to a unique temp name, then ATOMIC move: a concurrent run
    // reading the pinned path must see the old or the new content, never
    // a deleted or half-written file (REPLACE_EXISTING alone deletes
    // first, leaving a visible gap)
    val in = getClass.getResourceAsStream(s"/protarrow/$name.jsonl")
    require(in != null, s"fixture resource /protarrow/$name.jsonl not on classpath")
    val tmp = Files.createTempFile(Paths.get("/tmp"), s"graft_fixture_$name", ".tmp")
    try {
      try Files.copy(in, tmp, StandardCopyOption.REPLACE_EXISTING)
      finally in.close()
      Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING,
        StandardCopyOption.ATOMIC_MOVE)
    } catch {
      case e: Throwable => Files.deleteIfExists(tmp); throw e
    }
    target.toString
  }

  /** The malformed lines injected by [[materializeCorrupt]] — three
    * distinct failure shapes: truncated JSON, a non-JSON line, and a
    * JSON-shaped line that is not an object. Deterministic so the pa64
    * oracle constants are stable. */
  val CorruptLines: Seq[String] = Seq(
    """{"int32_value": 12, "string_value": "trunca""",
    """this is not json at all""",
    """[1, 2, 3]""")

  /** [[materialize]] + injected malformed lines, for the permissive
    * ingest tier (pa64). Bad lines are interleaved (head, middle, tail)
    * so tolerance is exercised at every partition position, not just
    * EOF. Same atomic-move discipline as [[materialize]]. */
  def materializeCorrupt(name: String): String = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import scala.jdk.CollectionConverters._
    val clean = Paths.get(materialize(name))
    val good = Files.readAllLines(clean).asScala.filter(_.trim.nonEmpty).toVector
    val mid = good.size / 2
    val lines = (CorruptLines.head +: good.take(mid)) ++
      (CorruptLines(1) +: good.drop(mid)) :+ CorruptLines(2)
    val target = Paths.get("/tmp", s"graft_fixture_${name}_corrupt.jsonl")
    val tmp = Files.createTempFile(Paths.get("/tmp"),
      s"graft_fixture_${name}_corrupt", ".tmp")
    try {
      Files.write(tmp, lines.asJava)
      Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING,
        StandardCopyOption.ATOMIC_MOVE)
    } catch {
      case e: Throwable => Files.deleteIfExists(tmp); throw e
    }
    target.toString
  }
}
