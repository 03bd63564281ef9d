package graft

import org.apache.spark.sql.Encoders
import graft.proto._
import graft.conv.GraftConfig
import graft.Harness.time

/** Per-round benchmark main (driver contract): times every registered
  * query at SPARK_GRAFT_SF_DIR plus the reference's encode/decode harness
  * shape — random ExampleMessage batches at 10/100/1k/10k rows
  * (benchmarks/test_benchmark.py:8-21) — and prints ONE JSON line.
  *
  * Failures are NOT swallowed: a query that throws is reported in the
  * "errors" object (and its time is the time-to-failure), so a broken
  * query can never masquerade as a ~0 s speedup.
  */
object Bench {

  /** Random ExampleMessage generator with the reference harness's shape
    * (tests/random_generator.py:58-128): every field of the ~190-field
    * message considered, random presence for presence fields, repeated/map
    * sizes 0..10, full numeric ranges (uint64 as 2^64 bit patterns) —
    * so encode/decode numbers exercise every codec, not a 7-field subset.
    * Deterministic via the seeded java.util.Random. */
  private final class MsgGen(seed: Long) {
    import PType._
    private val rnd = new java.util.Random(seed)
    private val reg = Schemas.registry
    private val alphabet =
      "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789-_"
    private def randString(): String = {
      val n = rnd.nextInt(11)
      val sb = new StringBuilder(n)
      var i = 0
      while (i < n) { sb.append(alphabet.charAt(rnd.nextInt(64))); i += 1 }
      sb.toString
    }
    private def randBytes(): Bytes = {
      val b = new Array[Byte](rnd.nextInt(11)); rnd.nextBytes(b); Bytes.owned(b)
    }
    private def randRange(lo: Long, hi: Long): Long =
      Math.floorMod(rnd.nextLong(), hi - lo + 1) + lo

    def scalar(t: PType): Any = t match {
      case PDouble => rnd.nextDouble() * 2 - 1
      case PFloat => rnd.nextFloat() * 2 - 1
      case PInt32 | PSInt32 | PSFixed32 => rnd.nextInt()
      case PInt64 | PSInt64 | PSFixed64 => rnd.nextLong()
      case PUInt32 | PFixed32 => rnd.nextInt().toLong & 0xFFFFFFFFL
      case PUInt64 | PFixed64 => rnd.nextLong() // full 2^64 bit patterns
      case PBool => rnd.nextBoolean()
      case PString => randString()
      case PBytes => randBytes()
      case PEnum(name) =>
        val vs = reg.enum(name).values; vs(rnd.nextInt(vs.size))._2
      case PMessage(WellKnown.TimestampName) =>
        DynamicMessage(WellKnown.timestamp, Map(
          1 -> randRange(-62135596800L, 253402300799L), // proto range 0001..9999
          2 -> rnd.nextInt(1000000000)))
      case PMessage(WellKnown.DurationName) =>
        DynamicMessage(WellKnown.duration, Map(
          1 -> randRange(-9223372036L, 9223372035L),
          2 -> rnd.nextInt(1000000000)))
      case PMessage(WellKnown.DateName) =>
        DynamicMessage(WellKnown.date, Map(
          1 -> (1 + rnd.nextInt(9999)), 2 -> (1 + rnd.nextInt(12)),
          3 -> (1 + rnd.nextInt(28))))
      case PMessage(WellKnown.TimeOfDayName) =>
        DynamicMessage(WellKnown.timeOfDay, Map(
          1 -> rnd.nextInt(24), 2 -> rnd.nextInt(60), 3 -> rnd.nextInt(60),
          4 -> rnd.nextInt(1000000000)))
      case PMessage(WellKnown.EmptyName) => DynamicMessage.empty(WellKnown.empty)
      case PMessage(name) if WellKnown.isWrapper(name) =>
        DynamicMessage(reg.message(name), Map(1 -> scalar(WellKnown.wrapperNames(name))))
      case PMessage(name) => message(reg.message(name))
    }

    def message(md: PMessageDesc): DynamicMessage = {
      val vals = md.fields.flatMap { f =>
        if (f.isMap) {
          val n = rnd.nextInt(11)
          Some(f.number -> (0 until n).map(_ => scalar(f.mapKey) -> scalar(f.mapValue)).toMap)
        } else if (f.repeated) {
          Some(f.number -> Vector.fill(rnd.nextInt(11))(scalar(f.typ)))
        } else if (f.hasPresence) {
          // random presence (tests/random_generator.py:123-128)
          if (rnd.nextBoolean()) Some(f.number -> scalar(f.typ)) else None
        } else Some(f.number -> scalar(f.typ))
      }.toMap
      DynamicMessage(md, vals)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Harness.cpus
    // self-comparison gate (round-7): entries > 2x their recorded
    // clean-window baseline (records/bench_baseline.json — a copy of the
    // last canary-clean definitive run; re-baseline by replacing it) are
    // listed machine-readably in "regressions"; on a degraded host window
    // the canary_sec field is the tiebreaker. Read before any query runs,
    // so a malformed baseline fails the run up front.
    val baseline = Harness.baseline(
      sys.env.getOrElse("SPARK_GRAFT_BASELINE", "records/bench_baseline.json"))
    val spark = Harness.session(cpus)

    // untimed warm-up: JVM/codegen/parquet-reader initialization otherwise
    // lands entirely on the alphabetically-first query (~4 s) and distorts
    // its number; no query data is cached here
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()

    // optional args = query-name prefixes to run (iteration aid); no args
    // runs everything including the encode/decode points
    val only = args.toSet
    def selected(name: String): Boolean =
      only.isEmpty || only.exists(name.startsWith)

    val results = scala.collection.mutable.LinkedHashMap[String, Double]()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val samples = scala.collection.mutable.LinkedHashMap[String, scala.collection.mutable.ArrayBuffer[Double]]()
    def fail(key: String, e: Throwable): Unit = errors(key) = Harness.reject(e)
    // one timed sample for `key`; a key that ever failed is skipped (its
    // time-to-failure is meaningless — summing it into the total would
    // let a fast crash read as a speedup; the failure lives in `errors`)
    def sample(key: String)(f: => Unit): Unit = if (!errors.contains(key)) {
      val t = time { try f catch { case e: Throwable => fail(key, e) } }
      if (!errors.contains(key))
        samples.getOrElseUpdate(key, scala.collection.mutable.ArrayBuffer()) += t
    }

    // --- measurement protocol (self-defending, round-5) ---
    // This host shows multi-minute 30-50x degradation windows
    // (BASELINE.md): three back-to-back iterations of one query can sit
    // entirely inside one window, so min-of-3 alone cannot save it. Two
    // defenses:
    //  1. ROUND-ROBIN: the 3 iterations are organized as 3 PASSES over
    //     all selected entries — a window now has to span the whole run
    //     to own every sample of any single entry.
    //  2. CANARY: each pass opens with a fixed reference query (q09:
    //     parquet scan + broadcast anti-join — the canary the round-4
    //     re-measurements were gated on); its per-pass times are emitted
    //     as "canary_sec" so a reader can tell which passes were clean.
    //     A canary far above its BASELINE.md level (~0.2-0.5 s at sf0.1)
    //     marks that pass's numbers suspect.
    val canaryName = "q09_customers_without_big_orders"
    val canary = scala.collection.mutable.ArrayBuffer[Double]()
    def runCanary(): Unit = canary +=
      (try time { SparkEntry.queries(canaryName)(spark, sfDir).count(); () }
       catch { case _: Throwable => -1.0 })

    // the cache manager is cleared before EVERY query iteration —
    // queries cache intermediates (q81/q83/q85 share their cents
    // histogram that way), and cached plans canonicalize equal across
    // invocations, so without the clear later passes would time cache
    // reads, not the query. OS page cache staying warm across passes is
    // the intended steady state.
    val qnames = SparkEntry.queries.toSeq.sortBy(_._1).map(_._1)
      .filter(selected)
    for (_ <- 1 to 3) {
      spark.sharedState.cacheManager.clearCache()
      runCanary()
      qnames.foreach { name =>
        spark.sharedState.cacheManager.clearCache()
        sample(name) { SparkEntry.queries(name)(spark, sfDir).count(); () }
      }
    }

    // encode/decode throughput at the reference's batch sizes, with the
    // reference's full ExampleMessage shape. Same 3-pass round-robin as
    // the queries (warm steady-state, as pytest-benchmark — the
    // reference harness — reports); inputs are prepared and CACHED once
    // before the passes, so no clearCache here. A point whose SETUP
    // fails is recorded under its own key (not a neighbor's). Selection
    // is per-point (`Bench pa_decode_10000` runs that point alone).
    val md = Schemas.msg("ExampleMessage")
    val reg = Schemas.registry
    val gen = new MsgGen(42L)
    val points = scala.collection.mutable.ArrayBuffer[(String, () => Unit)]()
    for (n <- Seq(10, 100, 1000, 10000)) {
      val (encKey, decKey) = (s"pa_encode_$n", s"pa_decode_$n")
      val (encDistKey, decDistKey) = (s"pa_encode_dist_$n", s"pa_decode_dist_$n")
      // messages are generated for every n regardless of selection so the
      // seeded RNG stream (and thus each point's data) is identical
      // whatever subset runs
      val msgs = Vector.fill(n)(gen.message(md))
      if (selected(encKey)) points += encKey -> (() => {
        Protarrow.messagesToDataFrame(spark, msgs, md, GraftConfig(), reg).count(); ()
      })
      // distributed encode twin at the largest batch: messages already
      // living on executors (cached Dataset, spread over the cores)
      // encode per partition — the measured counterpart of the
      // driver-local messagesToDataFrame, as the dist decode point is
      // for dataFrameToMessages. The java-deserialization of the cached
      // messages is part of the measured path by design: that is what
      // reading executor-resident message objects costs.
      if (n == 10000 && selected(encDistKey)) {
        try {
          val ds = spark.createDataset(msgs)(Encoders.javaSerialization[DynamicMessage])
            .repartition(cpus).cache()
          ds.count()
          points += encDistKey -> (() => {
            Protarrow.messagesDatasetToDataFrame(ds, md, GraftConfig(), reg).count(); ()
          })
        } catch { case e: Throwable => fail(encDistKey, e) }
      }
      // wire-bytes encode twin — the production distributed-encode shape
      // (micro-batch Kafka payloads → typed rows, fromProtoBinary):
      // executor-resident input is compact wire bytes, not POJOs, so this
      // point isolates the codec from pa_encode_dist's java-deserialization
      // of cached message objects
      val encWireKey = s"pa_encode_wire_$n"
      if (n == 10000 && selected(encWireKey)) {
        try {
          val wire = spark.createDataset(msgs.map(m => ProtoWire.encode(m, reg)))(Encoders.BINARY)
            .repartition(cpus).cache()
          wire.count()
          points += encWireKey -> (() => {
            Protarrow.fromProtoBinary(wire, md, GraftConfig(), reg).count(); ()
          })
        } catch { case e: Throwable => fail(encWireKey, e) }
      }
      if (selected(decKey) || (n == 10000 && selected(decDistKey))) {
        // materialized once outside the timers: the decode points measure
        // the decode only, as in prior rounds. Failure domains are split:
        // the SHARED setup (df) belongs to every point that needed it, but
        // the dist twin's OWN setup (repartition+cache) belongs to the
        // dist key alone — pa_decode_10000 must never be marked failed by
        // a step it doesn't run (it runs off `df` directly).
        val df = try {
          val d = Protarrow.messagesToDataFrame(spark, msgs, md, GraftConfig(), reg)
            .cache()
          d.count()
          Some(d)
        } catch { case e: Throwable =>
          if (selected(decKey)) fail(decKey, e)
          if (n == 10000 && selected(decDistKey)) fail(decDistKey, e)
          None
        }
        df.foreach { df =>
          // driver-collect API floor (table_to_messages contract) ...
          if (selected(decKey)) points += decKey -> (() => {
            Protarrow.dataFrameToMessages(df, md, GraftConfig(), reg); ()
          })
          // ... vs the distributed twin: decode stays on executors
          // (toProtoBinary), only wire-bytes counts return. The
          // driver-built batch is ONE partition (LocalRelation); spread
          // it outside the timers so the point measures the distributed
          // decode, not an accidental single-task layout
          if (n == 10000 && selected(decDistKey)) {
            try {
              val dfd = df.repartition(cpus).cache()
              dfd.count()
              points += decDistKey -> (() => {
                Protarrow.toProtoBinary(dfd, md, GraftConfig(), reg).count(); ()
              })
            } catch { case e: Throwable => fail(decDistKey, e) }
          }
        }
      }
    }
    for (_ <- 1 to 3) {
      runCanary()
      points.foreach { case (key, f) => sample(key)(f()) }
    }

    samples.foreach { case (k, ts) => results(k) = ts.min }
    def r4(v: Double): String = "%.4f".format(v)
    val regressions = results.collect {
      case (k, v) if baseline.get(k).exists(Harness.regressed(k, v, _)) =>
        k -> JsonOut.str(s"${r4(v)} vs baseline ${r4(baseline(k))}")
    }
    // Layout for the driver's 2000-char TAIL capture: the per-query map
    // (~3 KB at 100+ entries even at 4-decimal seconds) cannot fully fit,
    // so it goes FIRST and the summary the round record needs — metric,
    // total, canaries, ERRORS, sf — goes LAST, guaranteed inside the
    // tail window. (Round-5's artifact had the opposite order and
    // preserved neither summary nor errors.) Still one JSON line.
    val total = r4(results.values.sum)
    val summary = Seq(
      "canary_query" -> JsonOut.str(canaryName),
      "canary_sec" -> JsonOut.arr(canary.map(r4)),
      "regressions" -> JsonOut.obj(regressions),
      "errors" -> JsonOut.obj(errors.map { case (k, v) => k -> JsonOut.str(v) }),
      "sf" -> JsonOut.str(sfDir))
    val line = JsonOut.obj(Seq(
      "queries" -> JsonOut.obj(results.map { case (k, v) => k -> r4(v) }),
      "n_queries" -> results.size.toString, "metric" -> JsonOut.str("total"),
      "value" -> total, "unit" -> JsonOut.str("sec")) ++ summary)
    println(line)
    // ALSO persist the line: the round harness extracts this JSON from
    // captured sbt stdout and has twice recorded `parsed: null` when its
    // extraction missed (BENCH_r09/r10) — a file artifact survives any
    // stdout-capture failure. Full runs only, so a quick subset/canary
    // invocation never overwrites the round record.
    if (args.isEmpty) try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get("records/bench_last.json"),
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case _: Throwable => () } // bench output must never fail the run
    // r13: a COMPACT summary as the FINAL stdout line. The full line above
    // is ~6 kB at 233 entries, so a bounded tail capture (the round
    // harness keeps 2000 chars) truncates its head and has never parsed
    // it; this line is ≤ ~0.5 kB — totals, canary, errors, sf, cpus — and
    // always lands complete inside any tail window. Per-query numbers stay
    // in the full line and in records/bench_last.json.
    println(JsonOut.obj(Seq("metric" -> JsonOut.str("total"), "value" -> total,
      "unit" -> JsonOut.str("sec"), "n_queries" -> results.size.toString) ++ summary ++ Seq(
      "cpus" -> cpus.toString, "queries_file" -> JsonOut.str("records/bench_last.json"))))
    spark.stop()
  }
}
