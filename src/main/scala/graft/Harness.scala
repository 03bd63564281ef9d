package graft

import java.io.File
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** How every main (and the test suite) runs: the one session conf, the
  * timer, the reject formatter, and the bench baseline and regression
  * rule. */
object Harness {

  /** Worker threads when a main is not told otherwise. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

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
