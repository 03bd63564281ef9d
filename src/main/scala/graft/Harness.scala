package graft

import java.io.File
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

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

  /** A keyed thunk the runner times; `reset` runs untimed before each of
    * its samples. */
  final case class Timed(key: String, run: () => Unit, reset: () => Unit = () => ())

  /** A thunk timed on an empty cache manager: entries cache intermediates
    * (q81/q83/q85 share their cents histogram that way), and cached plans
    * canonicalize equal across invocations, so without the clear later
    * passes would time cache reads, not the work. The OS page cache
    * staying warm across passes is the intended steady state. */
  def uncached(spark: SparkSession, key: String)(f: => Unit): Timed =
    Timed(key, () => f, () => spark.sharedState.cacheManager.clearCache())

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

  /** Per-entry seconds from a bench record's `queries` object; no file, no
    * baseline. */
  def baseline(path: String): Map[String, Double] =
    if (!new File(path).exists()) Map.empty
    else new ObjectMapper().readTree(new File(path)).path("queries")
      .properties().asScala.map(e => e.getKey -> e.getValue.asDouble).toMap

  /** An entry regressed when it takes more than twice its baseline, and
    * more than twice a floor under which 2x is host noise, not signal.
    * pa_* micro-points get a 2.0 s floor: the dist/wire points are
    * task-scheduling and POJO-serialization dominated and swing 3-4x
    * between clean host windows (pa_decode_dist 0.32-1.8 s, pa_encode_dist
    * 1.10-3.30 s on the same code); every other entry gets 0.5 s. */
  def regressed(key: String, sec: Double, base: Double): Boolean =
    sec > 2 * math.max(base, if (key.startsWith("pa_")) 2.0 else 0.5)
}
