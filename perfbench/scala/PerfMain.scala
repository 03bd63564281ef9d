package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark JVM. `perfbench/run.py` builds it, launches it and reads the
  * JSON file it writes to `--out`. Arguments:
  *
  *   --workload wire_roundtrip|query_mix
  *   --seed N --seconds S --trace 0|1 --out FILE
  *   --data DIR        query_mix: directory holding the generated tables
  *
  * Set-up runs three times (the median is reported), once in a traced run,
  * which reports no end-to-end metric. query_mix writes each entry's output
  * for the oracle comparison to `check/` next to `--out`.
  */
object PerfMain {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      out: Path, data: String) {
    val setupReps: Int = if (trace) 1 else 3
  }

  private def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      Paths.get(kv("out")), kv.getOrElse("data", ""))
  }

  val nproc: Int = Runtime.getRuntime.availableProcessors()

  /** The session configuration the repository's own Bench and Verify use. */
  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4000000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Materializes every row through Spark's benchmark sink. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Fixed pure-JVM CPU work; its time shows whether the host was slow. */
  def canaryMs(): Double = {
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var acc = 0L
    var i = 0
    while (i < 50000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x & 0xFFFF
      i += 1
    }
    if (acc == 42L) println("")
    (System.nanoTime() - t0) / 1e6
  }

  /** Driver heap in use after a full GC, in MB. */
  def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    (rt.totalMemory() - rt.freeMemory()) / 1048576.0
  }

  def provenance(spark: SparkSession, a: Args): Map[String, Any] = Map(
    "nproc" -> nproc,
    "max_heap_mb" -> Runtime.getRuntime.maxMemory() / 1048576,
    "java_version" -> System.getProperty("java.version"),
    "spark_version" -> spark.version,
    "spark_conf" -> spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.") || k == "spark.master" }.toSeq.sortBy(_._1).toMap,
    "seed" -> a.seed)

  def spansPath(a: Args): Path =
    a.out.resolveSibling(a.out.getFileName.toString.stripSuffix(".json") + ".spans.json")

  def sparkMetrics(cs: Counters, wallMs: Double): Map[String, Any] = Map(
    "spark.plan_ms" -> cs.planMs, "spark.exec_ms" -> cs.execMs,
    "spark.jobs" -> cs.jobs, "spark.stages" -> cs.stages, "spark.tasks" -> cs.tasks,
    "spark.failed_tasks" -> cs.failedTasks, "spark.task_run_ms" -> cs.taskRunMs,
    "spark.core_busy_frac" -> cs.taskRunMs / (wallMs * nproc),
    "spark.sched_delay_ms" -> cs.schedDelayMs, "spark.gc_ms" -> cs.gcMs,
    "spark.result_bytes" -> cs.resultBytes, "spark.input_bytes" -> cs.inputBytes,
    "spark.shuffle_write_bytes" -> cs.shuffleWriteBytes,
    "spark.shuffle_read_bytes" -> cs.shuffleReadBytes, "spark.spill_bytes" -> cs.spillBytes)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val canaryBefore = canaryMs()
    val result = a.workload match {
      case "wire_roundtrip" => new WireRoundtrip(a).run()
      case "query_mix" => new MixPass(a).run()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    // query_mix measures its after-canary itself, before its output checks
    val full = result ++ Map(
      "host.canary_before_ms" -> canaryBefore,
      "host.canary_after_ms" -> result.getOrElse("host.canary_after_ms", canaryMs()))
    Files.createDirectories(a.out.getParent)
    Files.write(a.out, Json.render(full).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    SparkSession.getActiveSession.foreach(_.stop())
  }
}
