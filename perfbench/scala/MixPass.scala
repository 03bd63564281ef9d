package perfbench

import java.nio.file.Files
import java.util.concurrent.Executors
import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.SparkEntry

/** query_mix: one cold pass over 12 registered entries in fixed order, in
  * this fresh JVM, each entry materialized through the noop sink. Caches
  * are never cleared between entries, so frames an entry leaves cached
  * stay visible in `cache_entries_left` and the retained heap. A fresh JVM
  * per pass is what makes every pass start from the same state: the
  * program keeps a process-global memo that survives `clearCache`. */
final class MixPass(a: PerfMain.Args) {
  import PerfMain._

  private val checkDir = a.out.resolveSibling("check")

  def run(): Map[String, Any] = {
    // the oracle SQL goes out first, so the oracle can run while this JVM
    // writes the outputs after the timed pass
    val oracle = SparkEntry.oracleSql
    Files.createDirectories(checkDir)
    Files.write(checkDir.resolve("oracle_sql.json"),
      Json.render(MixPass.Entries.flatMap(n => oracle.get(n).map(n -> _)).toMap)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val setups = (1 to a.setupReps).map { _ =>
      SparkSession.getActiveSession.foreach(_.stop())
      val t0 = System.nanoTime()
      val s = session()
      s.range(1000).selectExpr("sum(id)").collect()
      s.read.parquet(s"${a.data}/region.parquet").count()
      seconds(t0)
    }
    val spark = SparkSession.active
    val tr = if (a.trace) Some(new Trace(spark)) else None
    tr.foreach(_.attach())
    val errors = ArrayBuffer[String]()
    val frames = LinkedHashMap[String, DataFrame]()
    val entryS = LinkedHashMap[String, Double]()
    val perEntry = LinkedHashMap[String, Any]()
    val cacheLeft = ArrayBuffer[Int]()
    var traceNs = 0L // driver time spent in the collector between entries
    def snapshot(t: Trace): Counters = {
      val t0 = System.nanoTime(); val c = t.counters(); traceNs += System.nanoTime() - t0; c
    }
    val p0 = System.nanoTime()
    MixPass.Entries.foreach { name =>
      val before = tr.map(snapshot)
      val t0 = System.nanoTime()
      def body(): DataFrame = { val d = SparkEntry.queries(name)(spark, a.data); noop(d); d }
      try frames(name) = tr.fold(body())(_.span(s"entry.$name")(body()))
      catch { case NonFatal(e) =>
        errors += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"
      }
      entryS(name) = seconds(t0)
      // persisted RDDs: cached frames and local checkpoints left behind
      cacheLeft += spark.sparkContext.getPersistentRDDs.size
      tr.foreach { t =>
        val cs = snapshot(t) - before.get
        perEntry ++= Map(
          s"operators.$name.s" -> entryS(name),
          s"operators.$name.plan_ms" -> cs.planMs,
          s"operators.$name.shuffle_bytes" -> (cs.shuffleWriteBytes + cs.shuffleReadBytes),
          s"operators.$name.spill_bytes" -> cs.spillBytes)
      }
    }
    val wallMs = seconds(p0) * 1e3
    val heapMb = retainedHeapMb()
    val canaryAfter = canaryMs()
    val layer: Map[String, Any] = tr.map { t =>
      val cs = t.counters()
      t.detach()
      val spans = t.allSpans()
      t.writeSpans(spansPath(a), spans)
      perEntry.toMap ++ sparkMetrics(cs, wallMs) ++ Map(
        "operators.cache_entries_left" -> cacheLeft.last.toLong,
        "trace.overhead_s" -> traceNs / 1e9,
        "trace.overhead_frac" -> traceNs / (wallMs * 1e6 - traceNs))
    }.getOrElse(Map.empty)

    // outputs for the oracle comparison, written after the timed pass
    val c0 = System.nanoTime()
    Files.createFile(checkDir.resolve("pass.done"))
    // untimed, so the entries write concurrently to use every core
    val pool = Executors.newFixedThreadPool(nproc)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val writes = frames.toSeq.map { case (name, df) =>
      Future(df.write.mode("overwrite").parquet(checkDir.resolve(name).toString)).recover { case NonFatal(e) =>
        errors.synchronized { errors += s"$name output: ${e.getClass.getSimpleName}: ${e.getMessage}" }
      }
    }
    try Await.result(Future.sequence(writes), Duration.Inf) finally pool.shutdown()
    Map(
      "workload" -> a.workload,
      "entries" -> MixPass.Entries,
      "ok_entries" -> frames.keys.toSeq,
      "passes" -> 1,
      "attempted" -> MixPass.Entries.size.toLong,
      "failed" -> (MixPass.Entries.size - frames.size).toLong,
      "correct" -> (frames.size == MixPass.Entries.size),
      "errors" -> errors.toSeq,
      "setup_s" -> median(setups),
      "setup_runs_s" -> setups,
      "mix_s" -> wallMs / 1e3,
      "check_write_s" -> seconds(c0),
      "entry_s" -> entryS,
      "cache_entries_left" -> cacheLeft.toSeq,
      "retained_heap_mb" -> heapMb,
      "layer" -> layer,
      "host.canary_after_ms" -> canaryAfter,
      "provenance" -> provenance(spark, a))
  }
}

object MixPass {
  /** Entries with open optimization work; pa61 covers CastToProto. */
  val Entries: Seq[String] = Seq(
    "q01_pricing_summary", "q32_tpch02", "q81_winsorized_agg", "q83_mad_outliers",
    "d29_simhash", "d35_components_star", "d46_prefix_join",
    "m47_scene_cuts", "x96_semdedup", "x124_sampling_manifest", "x129_dsir_weights",
    "pa61_cast_normalize")
}
