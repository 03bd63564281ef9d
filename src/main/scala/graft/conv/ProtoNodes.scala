package graft.conv

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, GraftBridge, SparkSession, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.{BinaryType, DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.Platform
import graft.proto._

/** What a [[ProtoDecode]] decodes, into the rows of
  * `SchemaConversion.messageTypeToSchema(md, cfg, reg)`. */
sealed abstract class ProtoSource(md: PMessageDesc, cfg: GraftConfig, reg: ProtoRegistry)
    extends Serializable {
  val schema: StructType = SchemaConversion.messageTypeToSchema(md, cfg, reg)
  /** The type of PERMISSIVE's [[IngestMode.CorruptColumn]]. */
  def corruptType: DataType
  /** A decoder for one partition; with `corrupt`, its rows carry the
    * corrupt column last, null. */
  def newDecoder(corrupt: Boolean): WireRows.RecordDecoder
}

/** Wire payloads, through the [[WireRows]] decoder. */
final class WirePayloads(md: PMessageDesc, cfg: GraftConfig, reg: ProtoRegistry)
    extends ProtoSource(md, cfg, reg) {
  private val plan = WireRows.plan(md, cfg, reg)
  def corruptType: DataType = BinaryType
  def newDecoder(corrupt: Boolean): WireRows.RecordDecoder = plan.newDecoder(corrupt)
  override def toString: String = s"wire ${md.fullName}"
}

/** Proto-JSON lines, through `ProtoJson.parse`, the [[Codecs]] row writer
  * and one UnsafeProjection per partition; a blank line is skipped. */
final class JsonLines(md: PMessageDesc, cfg: GraftConfig, reg: ProtoRegistry)
    extends ProtoSource(md, cfg, reg) {
  private val write = Codecs.internalRowWriter(md, cfg, reg)
  def corruptType: DataType = StringType
  def newDecoder(corrupt: Boolean): WireRows.RecordDecoder = {
    val project = UnsafeProjection.create(schema.fields.toSeq.zipWithIndex.map {
      case (f, i) => BoundReference(i, f.dataType, f.nullable)
    } ++ (if (corrupt) Seq(Literal(null, StringType)) else Nil))
    (buf, start, len) => {
      if (buf == null) throw new IllegalArgumentException("null payload")
      val line = new String(buf, start, len, UTF_8)
      if (line.trim.isEmpty) null else project(write(ProtoJson.parse(line, md, reg)))
    }
  }
  override def toString: String = s"jsonl ${md.fullName}"
}

/** Decodes the records in its child's `input` column (binary or string)
  * into the rows of `source`, under `mode`'s corrupt-record tolerance. */
case class ProtoDecode(input: Attribute, source: ProtoSource, mode: IngestMode,
    output: Seq[Attribute], child: LogicalPlan) extends UnaryNode with MultiInstanceRelation {
  override def producedAttributes: AttributeSet = AttributeSet(output)
  override def newInstance(): LogicalPlan = copy(output = output.map(_.newInstance()))
  override protected def stringArgs: Iterator[Any] = Iterator(input, source, mode)
  override protected def withNewChildInternal(c: LogicalPlan): ProtoDecode = copy(child = c)
}

/** Encodes each row of its child (columns `input`) as one wire payload. */
case class ProtoEncode(plan: WireRows.EncodePlan, input: Seq[Attribute], output: Seq[Attribute],
    child: LogicalPlan) extends UnaryNode {
  override def producedAttributes: AttributeSet = AttributeSet(output)
  override protected def stringArgs: Iterator[Any] = Iterator(plan)
  override protected def withNewChildInternal(c: LogicalPlan): ProtoEncode = copy(child = c)
}

/** [[ProtoDecode]]'s exec. One decoder per partition writes every record
  * into the same UnsafeRow and emits it as is, with no projection: the
  * Spark scan contract, under which an operator that buffers rows (sort,
  * cache, collect) copies them. A record the decoder rejects (it raises
  * IllegalArgumentException, a null payload included) fails the task
  * under FAILFAST, is counted in `numDropped` under DROPMALFORMED and in
  * `numRejected` under PERMISSIVE, whose row holds nulls and the raw
  * record. Any other exception is an engine fault and propagates. */
case class ProtoDecodeExec(input: Attribute, source: ProtoSource, mode: IngestMode,
    output: Seq[Attribute], child: SparkPlan) extends UnaryExecNode {
  override def producedAttributes: AttributeSet = AttributeSet(output)
  override lazy val metrics: Map[String, SQLMetric] = ProtoNodes.metrics(sparkContext, "inputBytes",
    "decodeTime", (mode match {
      case IngestMode.Permissive => Seq("numRejected")
      case IngestMode.DropMalformed => Seq("numDropped")
      case IngestMode.FailFast => Nil
    }): _*)
  override protected def stringArgs: Iterator[Any] = Iterator(input, source, mode, ProtoNodes.shown(metrics))
  override protected def withNewChildInternal(c: SparkPlan): ProtoDecodeExec = copy(child = c)

  protected override def doExecute(): RDD[InternalRow] = {
    val (src, failFast, corrupt) = (source, mode == IngestMode.FailFast, mode == IngestMode.Permissive)
    val (ord, binary, width) =
      (child.output.indexWhere(_.exprId == input.exprId), input.dataType == BinaryType, output.length)
    val (rows, bytes, time) = (longMetric("numOutputRows"), longMetric("inputBytes"), longMetric("decodeTime"))
    val bad = metrics.getOrElse("numRejected", metrics.getOrElse("numDropped", null))
    child.execute().mapPartitions { in =>
      ProtoNodes.timed(time)
      val dec = src.newDecoder(corrupt)
      val rejects = if (corrupt) new UnsafeRowWriter(width) else null
      in.map { r =>
        var buf: Array[Byte] = null
        var start = 0
        var len = 0
        if (!r.isNullAt(ord)) r match {
          case u: UnsafeRow if u.getBaseObject.isInstanceOf[Array[Byte]] => // the cell in place
            val cell = u.getLong(ord)
            buf = u.getBaseObject.asInstanceOf[Array[Byte]]
            start = (u.getBaseOffset - Platform.BYTE_ARRAY_OFFSET + (cell >> 32)).toInt
            len = cell.toInt
          case _ => buf = if (binary) r.getBinary(ord) else r.getUTF8String(ord).getBytes; len = buf.length
        }
        bytes += len
        val out = try dec.decode(buf, start, len) catch {
          case _: IllegalArgumentException if !failFast =>
            bad += 1
            if (!corrupt) null
            else { // every field null, the raw record last
              rejects.reset()
              rejects.zeroOutNullBytes()
              for (i <- 0 until width - 1) rejects.setNullAt(i)
              if (buf == null) rejects.setNullAt(width - 1) else rejects.write(width - 1, buf, start, len)
              rejects.getRow
            }
        }
        if (out != null) rows += 1
        out
      }.filter(_ != null)
    }
  }
}

/** [[ProtoEncode]]'s exec: one Writer and one single-cell UnsafeRowWriter
  * per partition; each row's bytes go from the Writer's buffer straight
  * into the reused output row. */
case class ProtoEncodeExec(plan: WireRows.EncodePlan, input: Seq[Attribute],
    output: Seq[Attribute], child: SparkPlan) extends UnaryExecNode {
  override def producedAttributes: AttributeSet = AttributeSet(output)
  override lazy val metrics: Map[String, SQLMetric] = ProtoNodes.metrics(sparkContext, "outputBytes", "encodeTime")
  override protected def stringArgs: Iterator[Any] = Iterator(plan, ProtoNodes.shown(metrics))
  override protected def withNewChildInternal(c: SparkPlan): ProtoEncodeExec = copy(child = c)

  protected override def doExecute(): RDD[InternalRow] = {
    val enc = plan
    // the encoder reads the columns of `input`, which it was compiled for, by position
    require(child.output.map(_.exprId) == input.map(_.exprId), s"ProtoEncode input moved: ${child.output}")
    val (rows, bytes, time) = (longMetric("numOutputRows"), longMetric("outputBytes"), longMetric("encodeTime"))
    child.execute().mapPartitions { in =>
      ProtoNodes.timed(time)
      val (w, out) = (new ProtoWire.Writer(), new UnsafeRowWriter(1))
      in.map { r =>
        enc.write(r, w)
        out.reset()
        out.zeroOutNullBytes()
        out.write(0, w.buffer, 0, w.size)
        rows += 1
        bytes += w.size
        out.getRow
      }
    }
  }
}

/** Plans [[ProtoDecode]] and [[ProtoEncode]], and builds the Datasets over
  * them: the ingest scans and the wire export, with no RDD in between. */
object ProtoNodes extends SparkStrategy {

  def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ProtoDecode(input, source, mode, output, child) =>
      ProtoDecodeExec(input, source, mode, output, planLater(child)) :: Nil
    case ProtoEncode(enc, input, output, child) => ProtoEncodeExec(enc, input, output, planLater(child)) :: Nil
    case _ => Nil
  }

  /** Adds this strategy to the session's extra strategies, once: session
    * state, like a registered function, not conf. */
  private def setup(spark: SparkSession): Unit = {
    val x = spark.asInstanceOf[classic.SparkSession].experimental
    synchronized { if (!x.extraStrategies.contains(this)) x.extraStrategies = this +: x.extraStrategies }
  }

  /** `source`'s rows decoded from the first column of `records`, the
    * column `Encoders.BINARY`'s deserializer reads. PERMISSIVE relaxes the
    * top-level nullability, as `spark.read.json`'s schema does, and
    * appends [[IngestMode.CorruptColumn]]. */
  def decode(records: Dataset[_], source: ProtoSource, mode: IngestMode): DataFrame = {
    setup(records.sparkSession)
    val child = records.queryExecution.analyzed
    val schema = if (mode != IngestMode.Permissive) source.schema
      else StructType(source.schema.fields.map(_.copy(nullable = true)) :+
        StructField(IngestMode.CorruptColumn, source.corruptType, nullable = true))
    GraftBridge.ofRows(records.sparkSession, ProtoDecode(child.output.head, source, mode, toAttributes(schema), child))
  }

  /** Each row of `df` as one wire payload, in a `value` column. */
  def encode(df: DataFrame, plan: WireRows.EncodePlan): Dataset[Array[Byte]] = {
    setup(df.sparkSession)
    val child = df.queryExecution.analyzed
    val value = toAttributes(StructType(Seq(StructField("value", BinaryType, nullable = false))))
    GraftBridge.dataset(df.sparkSession, ProtoEncode(plan, child.output, value, child), Encoders.BINARY)
  }

  /** Output rows, bytes read or written, time, and `counters`. */
  private[conv] def metrics(sc: SparkContext, bytes: String, time: String, counters: String*) =
    Map("numOutputRows" -> SQLMetrics.createMetric(sc, "number of output rows"),
      bytes -> SQLMetrics.createSizeMetric(sc, bytes), time -> SQLMetrics.createNanoTimingMetric(sc, time)) ++
      counters.map(c => c -> SQLMetrics.createMetric(sc, c))

  private[conv] def shown(metrics: Map[String, SQLMetric]): String =
    metrics.toSeq.sortBy(_._1).map { case (k, m) => s"$k=${m.value}" }.mkString("metrics [", ", ", "]")

  /** Adds the task's time from now to its end to `time`: one measurement
    * per partition, which includes the operators pipelined with the node. */
  private[conv] def timed(time: SQLMetric): Unit = {
    val t0 = System.nanoTime()
    TaskContext.get().addTaskCompletionListener[Unit](_ => time += System.nanoTime() - t0)
  }
}
