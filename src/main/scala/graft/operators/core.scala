package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Cast, UnixMicros}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, TimestampNTZType, TimestampType}

/** One engine query: the Spark implementation plus (optionally) the
  * equivalent ANSI SQL the DuckDB oracle runs on the same parquet tables.
  *
  * Column names and row order must match between `fn` and `oracle` — the
  * driver sorts columns by name and hashes values.
  *
  * ORACLE TYPING RULE: the driver's hash is raw-byte strict, so column
  * DTYPES must match too, not just values. DuckDB silently promotes
  * `SUM(BIGINT)` to HUGEINT, and any expression built on it — in
  * particular the `SUM(...) * 1000000 // n` ppm idiom — reaches pandas
  * as float64 while Spark emits int64: rows/values green, hash RED (the
  * round-6 q83/t34/t35/t38/t42/x110 incident). Therefore ALWAYS wrap
  * SUM-derived integer columns, and every integer-division result, in
  * `CAST(... AS BIGINT)` in the oracle SQL; literal selects too
  * (`CAST(1 AS BIGINT)`), since bare int literals are int32.
  * `tools/check.py` now fails on float-vs-int dtype mismatches, so a
  * violation is caught at sf0.01 before the driver sees it.
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Q {
  def apply(name: String, sql: String)(fn: (SparkSession, String) => DataFrame): Q =
    Q(name, fn, Some(sql))
}

/** Session-conf hygiene: runs `body` with `kvs` set on the session and
  * restores every key afterwards, also when `body` throws — a key that
  * was not set before is unset again, so nothing the body needed leaks
  * into later queries of the same session. "Set" is what `getAll`
  * lists: `getOption` also answers a key's default, and restoring that
  * would leave the key set. Confs are read at planning, so a body
  * returning a frame must force its plan inside the scope. */
object Confs {
  def withConfs[A](spark: SparkSession, kvs: Seq[(String, String)])(body: => A): A = {
    val c = spark.conf
    val set = c.getAll
    val saved = kvs.map { case (k, _) => k -> set.get(k) }
    kvs.foreach { case (k, v) => c.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => c.set(k, v)
      case (k, None) => c.unset(k)
    }
  }
}

/** The one way an operator reuses a frame: every frame consumed more
  * than once (a fan-out into two aggregates, both sides of a self-join,
  * a loop round of HashMin / star contraction / PageRank / BPE / Lloyd,
  * the foreachBatch accumulators) is materialized here, never in the
  * session's cache. An eager checkpoint truncates the lineage: once its job
  * ends, no physical plan, broadcast relation or hash-map page of the
  * input stays reachable, the rows live in block-manager blocks the
  * ContextCleaner frees when the frame is dropped, and nothing lands in
  * the session's CacheManager, so one entry cannot change what another
  * entry's plan reads.
  *
  * Default: eager `localCheckpoint` — zero external storage, but the
  * blocks live on executors, so an executor loss mid-query kills the
  * job. On a real cluster set `spark.graft.reliableCheckpoint=true`
  * (plus `sparkContext.setCheckpointDir` to durable storage) and every
  * reuse point writes a reliable `checkpoint()` instead — the
  * executor-loss-tolerant variant BASELINE.md names, at the cost of one
  * distributed write per reuse point. One knob, read per call, so a
  * session can flip it without rebuilding frames (CheckpointModeSpec
  * runs d34 both ways). */
object Ckpt {
  val Key = "spark.graft.reliableCheckpoint"
  def apply[T](ds: Dataset[T]): Dataset[T] =
    if (ds.sparkSession.conf.get(Key, "false").toBoolean) ds.checkpoint(true)
    else ds.localCheckpoint(true)
  /** Postfix form: `frame.ckpt` (import Ckpt.Reuse). */
  implicit class Reuse[T](private val ds: Dataset[T]) extends AnyVal {
    def ckpt: Dataset[T] = Ckpt(ds)
  }
}

/** Cleanup registry for PER-APPLICATION temp layouts (paths carrying the
  * applicationId — x116/x117 exports, the s47 IVF index, pa65's field-id
  * parquet). No later run can ever reuse an app-keyed path, so they are
  * deleted on JVM exit instead of accumulating under java.io.tmpdir one
  * directory per run. The sourceKey-only layouts (partitioned/range/
  * z-order scan sources, d37's corpus) are deliberate content-addressed
  * cross-run caches and are NOT registered. */
object TmpLayouts {
  private val registered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private lazy val hookInstalled: Boolean = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      registered.forEach(p => delete(new java.io.File(p)))
    }, "graft-tmp-layouts-cleanup"))
    true
  }
  private def delete(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete(); ()
  }
  /** Register `path` for deletion at JVM exit; returns it unchanged. */
  def register(path: String): String = {
    hookInstalled; registered.add(path); path
  }
}

object T {
  /** Read one driver-generated table. Filters/projections on the result are
    * pushed into the parquet scan by Catalyst (verify via PushedFilters in
    * `.explain`).
    *
    * CONTRACT: `events.ts` always surfaces as LongType epoch-nanos,
    * WHATEVER the physical parquet encoding is. The engine's event-time
    * operators (sessionization, as-of, range join, resample) all do integer
    * nano arithmetic on it, and the DuckDB oracles read the same column via
    * `epoch_ns(ts)`. The testdata generator has shipped the column as
    * TIMESTAMP(NANOS) in some rounds and `timestamp[us]` in others, so the
    * loader normalizes BY SCHEMA instead of assuming a layout:
    *
    *  - TIMESTAMP(NANOS): Spark 4 rejects it by default; the session's
    *    `spark.sql.legacy.parquet.nanosAsLong` (set in `Harness.session`:
    *    Spark reads it when it plans the scan, so a scoped set here would
    *    not hold) surfaces it as epoch-nano LongType directly (lossless —
    *    Spark's TimestampType is µs, so a typed read would truncate anyway).
    *  - timestamp[us], UTC-adjusted (TIMESTAMP): `unix_micros(ts) * 1000`.
    *  - timestamp[us], tz-naive (TIMESTAMP_NTZ): `unix_micros` of the
    *    value cast to TIMESTAMP in zone UTC, a zone the cast carries
    *    itself, so the session zone never enters: naive-as-UTC, the same
    *    reading DuckDB's `epoch_ns` gives the oracle, in long arithmetic.
    *    (A SQL-text cast takes the session zone, and so does
    *    `timestampdiff`, which casts its NTZ arguments to TIMESTAMP.)
    *  - integral (e.g. engine-written copies of events): passed through.
    *
    * Reading a table writes no session conf.
    */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(TimestampType) =>
        df.withColumn("ts", expr("unix_micros(ts) * 1000L"))
      case Some(TimestampNTZType) =>
        df.withColumn("ts", GraftBridge.column(UnixMicros(
          Cast(GraftBridge.expression(col("ts")), TimestampType, Some("UTC")))) * 1000L)
      case _ => df
    }
  }

}

/** Driver-safe rendering of array columns. The driver's checker hashes
  * cell values with pandas and cannot sort/hash array cells (it crashes on
  * numpy.ndarray), so every driver-facing output surfaces arrays as a
  * comma-joined string — the identical rendering on both engines. Raw-array
  * variants stay available to the ScalaTest specs.
  */
object Csv {
  /** Spark dialect: array column (any element type) → "a,b,c". */
  def spark(c: String): String =
    s"array_join(transform($c, x -> cast(x as string)), ',')"
  /** DuckDB dialect of the same rendering. */
  def duck(c: String): String = s"array_to_string($c, ',')"
}

/** Numeric conventions shared by every query and its oracle.
  *
  * Money columns in the testdata are doubles. Summing doubles is
  * order-dependent, and Spark's and DuckDB's aggregation orders differ — so
  * any double-sum would be a flaky hash. Both sides therefore cast to
  * DECIMAL(12,4) first (exact, order-independent sums; 12+4 digits covers
  * every money column at any SF we run) and cast the final aggregate back to
  * double. Products stay within DECIMAL(38,12) so both engines keep them
  * exact.
  *
  * TRAP (found at sf0.1): DuckDB's `CAST(decimal AS DOUBLE)` is not
  * correctly rounded (int128 × 10^-scale in binary) and can land one ulp
  * off Spark's correctly-rounded BigDecimal.doubleValue once the decimal
  * exceeds ~15 significant digits. Where an oracle hits that regime
  * (q01's product sums), route the oracle's cast through VARCHAR —
  * `CAST(CAST(x AS VARCHAR) AS DOUBLE)` is strtod, correctly rounded,
  * bit-equal to the Spark side.
  */
object Num {
  val Dec = DecimalType(12, 4)
  def dec(c: Column): Column = c.cast(Dec)
  /** Exact order-independent sum, surfaced as double. */
  def dsum(c: Column): Column = sum(dec(c)).cast("double")
  /** Exact mean: decimal sum cast to double, divided by count. */
  def dmean(c: Column): Column = sum(dec(c)).cast("double") / count(lit(1))
}
