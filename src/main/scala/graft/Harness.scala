package graft

import java.io.File
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** How every main (and the test suite) runs: the one session conf, the
  * entry selection rule, the entry runner and its record line, the reject
  * formatter, and the bench baseline and regression rule. */
object Harness {

  /** Worker threads when a main is not told otherwise. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The table dir the bench mains read. */
  val sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** The local session every main and the spec suite plan under. */
  def session(cpus: Int = Harness.cpus): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // collect_list/typed-aggregator queries build high-cardinality groups
      // (e.g. the 1M+ posting lists of d27/d28); the default 128-group
      // fallback would force them all to sort-based aggregation
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4000000")
      // TIMESTAMP(NANOS) parquet columns read as epoch-nano longs (the
      // `operators.T` loader contract); Spark reads this when it plans a
      // scan, so it is a session setting, not a scoped one
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Wall seconds of `f`. */
  def time(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  /** Whether `name` is selected by `prefixes`: no prefix selects every name. */
  def selects(prefixes: Seq[String], name: String): Boolean =
    prefixes.isEmpty || prefixes.exists(name.startsWith)

  /** The plan mains' arguments: an absolute-path first argument sets the
    * data dir (e.g. the VolumeBench corpus, to diff plans across scales),
    * the rest are name prefixes; returns the dir and the selected registered
    * entries, sorted. A prefix that selects no entry is an error, not a
    * silent skip. */
  def planArgs(args: Seq[String]): (String, Seq[String]) = {
    val (dir, prefixes) = args.headOption.filter(_.startsWith("/"))
      .map(d => (d, args.tail)).getOrElse(("/root/testdata/sf0.001", args))
    val names = SparkEntry.queries.keys.toSeq.sorted
    val unmatched = prefixes.filterNot(p => names.exists(_.startsWith(p)))
    require(unmatched.isEmpty, s"no registered entry matches: ${unmatched.mkString(" ")}")
    (dir, names.filter(selects(prefixes, _)))
  }

  /** Every plan registered entry `name` over `dir` runs, as (action,
    * execution): first each named SQL execution its construction ran, in
    * completion order and as executed (the checkpoint jobs of its
    * `operators.Ckpt` reuse points, "localCheckpoint" or "checkpoint" in
    * reliable mode, and any collect or count), then the returned frame's,
    * under "result" and not yet executed. A stage before a reuse point
    * runs in that checkpoint's job, and the returned frame's plan stops at
    * the checkpoint's `LogicalRDD`, so a reader of the frame's plan alone
    * misses it. */
  def entryPlans(spark: SparkSession, name: String, dir: String): Seq[(String, QueryExecution)] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(action: String, qe: QueryExecution, durationNs: Long): Unit = {
        seen.add(action -> qe); ()
      }
      override def onFailure(action: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    GraftBridge.awaitListenerBus(spark)
    spark.listenerManager.register(listener)
    try {
      val df = SparkEntry.queries(name)(spark, dir)
      GraftBridge.awaitListenerBus(spark)
      seen.asScala.toSeq :+ ("result" -> df.queryExecution)
    } finally spark.listenerManager.unregister(listener)
  }

  /** [[entryPlans]] as `mode` prints them, each execution its construction
    * ran headed by its action. The plan mains print this. */
  def explainEntry(spark: SparkSession, name: String, dir: String, mode: ExplainMode): String = {
    val plans = entryPlans(spark, name, dir)
    val ran = plans.init
    (ran.zipWithIndex.map { case ((action, qe), i) =>
      s"-- ran while building (${i + 1}/${ran.size}): $action\n${qe.explainString(mode)}"
    } :+ plans.last._2.explainString(mode)).mkString("\n")
  }

  /** A keyed thunk the runner times; `reset` runs untimed before each of
    * its samples. */
  final case class Timed(key: String, run: () => Unit, reset: () => Unit = () => ())

  /** A thunk timed on an empty cache manager and with no local checkpoint
    * left. Registered entries reuse frames through `operators.Ckpt` and
    * leave the CacheManager empty (SessionStateSpec), so the clear only
    * drops what a caller cached: cached plans canonicalize equal across
    * invocations, and a sample that found one would time a cache read,
    * not the work. The checkpoint blocks of earlier samples' frames would
    * otherwise stay in the block manager until a driver GC lets the
    * ContextCleaner free them, so a later sample could time evictions the
    * first one never met. The OS page cache staying warm across passes is
    * the intended steady state. */
  def uncached(spark: SparkSession, key: String)(f: => Unit): Timed =
    Timed(key, () => f, () => {
      spark.sharedState.cacheManager.clearCache()
      // a local checkpoint is a persisted RDD; the runner's callers hold
      // no checkpointed frame across samples, so every one is an earlier
      // sample's, and its blocks go
      spark.sparkContext.getPersistentRDDs.values.filter(_.isCheckpointed)
        .foreach(_.unpersist(blocking = true))
    })

  /** Registered entry `name` over `dir`, keyed by its name. The frame is
    * built inside the timer: export entries (x116/x117) write at
    * construction, so timing only the action would skip their work. */
  def entry(spark: SparkSession, name: String, dir: String): Timed =
    uncached(spark, name) { SparkEntry.queries(name)(spark, dir).count() }

  /** What a run measured: each key's samples in pass order, and each
    * failed key's error. A key that failed has no samples: its
    * time-to-failure would let a fast crash read as a speedup. */
  final case class Run(samples: Seq[(String, Seq[Double])], errors: Seq[(String, String)]) {
    def mins: Seq[(String, Double)] = samples.map { case (k, ts) => k -> ts.min }
  }

  /** `passes` round-robin passes over `thunks`, each pass opened by
    * `beforePass`. A host degradation window can hold every back-to-back
    * sample of one key, so a key's samples are spread over the whole run.
    * A key that fails is recorded through [[reject]] and skipped in later
    * passes. */
  def run(passes: Int, thunks: Seq[Timed], beforePass: () => Unit = () => ()): Run = {
    val samples = mutable.LinkedHashMap[String, Vector[Double]]()
    val errors = mutable.LinkedHashMap[String, String]()
    for (_ <- 1 to passes) {
      beforePass()
      for (t <- thunks if !errors.contains(t.key)) {
        t.reset()
        try samples(t.key) = samples.getOrElse(t.key, Vector()) :+ time(t.run())
        catch { case e: Throwable => errors(t.key) = reject(e) }
      }
    }
    Run(samples.toSeq.filterNot(s => errors.contains(s._1)), errors.toSeq)
  }

  /** Seconds as the records print them. */
  def r4(v: Double): String = "%.4f".format(v)

  /** The one JSON line of a bench main: its `queries` object first (a
    * bounded tail capture may cut the head of a long line), then metric,
    * value and unit, the main's `extra` fields, and errors and sf last, so
    * the summary survives any tail window. */
  def record(metric: String, value: Double, queries: Option[String],
      errors: Seq[(String, String)], extra: (String, String)*): String =
    JsonOut.obj(queries.map("queries" -> _).toSeq ++ Seq(
      "metric" -> JsonOut.str(metric), "value" -> r4(value),
      "unit" -> JsonOut.str("sec")) ++ extra ++ Seq(
      "errors" -> JsonOut.obj(errors.map { case (k, v) => k -> JsonOut.str(v) }),
      "sf" -> JsonOut.str(sfDir)))

  /** A failed entry as it appears in the mains' `errors` objects. */
  def reject(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(120)}"

  /** A bench record's per-entry seconds and the `sf` dir it ran at. */
  final case class Baseline(sf: String, secs: Map[String, Double]) {
    /** The keys of `results` that [[regressed]] against these seconds, each
      * with its "sec vs baseline" note. A run at another scale factor than
      * the baseline's flags nothing: its times say nothing about these. */
    def regressions(sfDir: String, results: Seq[(String, Double)]): Seq[(String, String)] =
      if (sfDir != sf) Nil
      else results.collect {
        case (k, v) if secs.get(k).exists(regressed(k, v, _)) =>
          k -> s"${r4(v)} vs baseline ${r4(secs(k))}"
      }
  }

  /** The bench record at `path` as a [[Baseline]]; no file, no baseline. */
  def baseline(path: String): Baseline =
    if (!new File(path).exists()) Baseline("", Map.empty)
    else {
      val json = new ObjectMapper().readTree(new File(path))
      Baseline(json.path("sf").asText, json.path("queries")
        .properties().asScala.map(e => e.getKey -> e.getValue.asDouble).toMap)
    }

  /** An entry regressed when it takes more than twice its baseline, and
    * more than twice a floor under which 2x is host noise, not signal.
    * pa_* micro-points get a 2.0 s floor: the dist/wire points are
    * task-scheduling and POJO-serialization dominated and swing 3-4x
    * between clean host windows (pa_decode_dist 0.32-1.8 s, pa_encode_dist
    * 1.10-3.30 s on the same code); every other entry gets 0.5 s. */
  def regressed(key: String, sec: Double, base: Double): Boolean =
    sec > 2 * math.max(base, if (key.startsWith("pa_")) 2.0 else 0.5)
}
