package graft

import scala.collection.mutable
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import graft.proto._
import graft.conv.GraftConfig
import graft.Harness.{Timed, r4}

/** Per-round benchmark main (driver contract): times every registered
  * query at SPARK_GRAFT_SF_DIR plus the reference's encode/decode harness
  * shape — random ExampleMessage batches at 10/100/1k/10k rows
  * (benchmarks/test_benchmark.py:8-21) — and prints ONE JSON line.
  *
  * Failures are NOT swallowed: a query that throws is reported in the
  * "errors" object and records no time, so a broken query can never
  * masquerade as a ~0 s speedup.
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

  /** `a`, built once outside the timers, as a getter that rethrows a
    * failed build: each point that needed it then records the failure
    * under its own key, and never under a neighbor's. */
  private def prepared[A](a: => A): () => A =
    try { val v = a; () => v } catch { case e: Throwable => () => throw e }

  /** The encode/decode points at the reference's batch sizes, with the
    * reference's full ExampleMessage shape, timed warm as pytest-benchmark
    * (the reference harness) reports. Their inputs are built and CACHED
    * once, so they take no cache reset. Selection is per point
    * (`Bench pa_decode_10000` runs that point alone). */
  private def points(spark: SparkSession, selected: String => Boolean): Seq[Timed] = {
    def cached[T](ds: Dataset[T]): Dataset[T] = { val c = ds.cache(); c.count(); c }
    val cpus = Harness.cpus
    val md = Schemas.msg("ExampleMessage")
    val reg = Schemas.registry
    val cfg = GraftConfig()
    val gen = new MsgGen(42L)
    val points = mutable.ArrayBuffer[Timed]()
    def point(key: String)(f: => Unit): Unit = points += Timed(key, () => f)
    for (n <- Seq(10, 100, 1000, 10000)) {
      val (encKey, decKey) = (s"pa_encode_$n", s"pa_decode_$n")
      val (encDistKey, decDistKey) = (s"pa_encode_dist_$n", s"pa_decode_dist_$n")
      val encWireKey = s"pa_encode_wire_$n"
      // messages are generated for every n regardless of selection so the
      // seeded RNG stream (and thus each point's data) is identical
      // whatever subset runs
      val msgs = Vector.fill(n)(gen.message(md))
      if (selected(encKey))
        point(encKey) { Protarrow.messagesToDataFrame(spark, msgs, md, cfg, reg).count() }
      // distributed encode twin at the largest batch: messages already
      // living on executors (cached Dataset, spread over the cores)
      // encode per partition — the measured counterpart of the
      // driver-local messagesToDataFrame, as the dist decode point is
      // for dataFrameToMessages. The java-deserialization of the cached
      // messages is part of the measured path by design: that is what
      // reading executor-resident message objects costs.
      if (n == 10000 && selected(encDistKey)) {
        val ds = prepared(cached(spark.createDataset(msgs)(
          Encoders.javaSerialization[DynamicMessage]).repartition(cpus)))
        point(encDistKey) { Protarrow.messagesDatasetToDataFrame(ds(), md, cfg, reg).count() }
      }
      // wire-bytes encode twin — the production distributed-encode shape
      // (micro-batch Kafka payloads → typed rows, fromProtoBinary):
      // executor-resident input is compact wire bytes, not POJOs, so this
      // point isolates the codec from pa_encode_dist's java-deserialization
      // of cached message objects
      if (n == 10000 && selected(encWireKey)) {
        val wire = prepared(cached(spark.createDataset(
          msgs.map(m => ProtoWire.encode(m, reg)))(Encoders.BINARY).repartition(cpus)))
        point(encWireKey) { Protarrow.fromProtoBinary(wire(), md, cfg, reg).count() }
      }
      val dist = n == 10000 && selected(decDistKey)
      if (selected(decKey) || dist) {
        // materialized once outside the timers: the decode points measure
        // the decode only. The shared `df` belongs to both decode points,
        // the dist twin's own repartition to the dist key alone
        val df = prepared(cached(Protarrow.messagesToDataFrame(spark, msgs, md, cfg, reg)))
        // driver-collect API floor (table_to_messages contract) ...
        if (selected(decKey))
          point(decKey) { Protarrow.dataFrameToMessages(df(), md, cfg, reg) }
        // ... vs the distributed twin: decode stays on executors
        // (toProtoBinary), only wire-bytes counts return. The
        // driver-built batch is ONE partition (LocalRelation); spread
        // it outside the timers so the point measures the distributed
        // decode, not an accidental single-task layout
        if (dist) {
          val dfd = prepared(cached(df().repartition(cpus)))
          point(decDistKey) { Protarrow.toProtoBinary(dfd(), md, cfg, reg).count() }
        }
      }
    }
    points.toSeq
  }

  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir
    // entries > 2x their recorded clean-window baseline
    // (records/bench_baseline.json — a copy of the last canary-clean full
    // run; re-baseline by replacing it) are listed machine-readably in
    // "regressions", only when this run reads the baseline's sf dir; on a
    // degraded host window the canary_sec field is the tiebreaker. Read
    // before any query runs, so a malformed baseline fails the run up
    // front.
    val baseline = Harness.baseline(
      sys.env.getOrElse("SPARK_GRAFT_BASELINE", "records/bench_baseline.json"))
    val spark = Harness.session()

    // untimed warm-up: JVM/codegen/parquet-reader initialization otherwise
    // lands entirely on the alphabetically-first query (~4 s) and distorts
    // its number; no query data is cached here
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()

    // args = entry-name prefixes to run (iteration aid); no args runs
    // everything, including the encode/decode points
    val selected = Harness.selects(args.toSeq, _: String)

    // CANARY: this host shows multi-minute 30-50x degradation windows
    // (BASELINE.md), so each pass opens with a fixed reference query (q09:
    // parquet scan + broadcast anti-join); its per-pass times are emitted
    // as "canary_sec" so a reader can tell which passes were clean. A
    // canary far above its BASELINE.md level (~0.2-0.5 s at sf0.1) marks
    // that pass's numbers suspect.
    val canaryName = "q09_customers_without_big_orders"
    val canary = Harness.entry(spark, canaryName, sfDir)
    val canarySec = mutable.ArrayBuffer[Double]()
    def runCanary(): Unit = canarySec +=
      (try Harness.time(canary.run()) catch { case _: Throwable => -1.0 })

    // the entries run first: their cache reset would drop the points'
    // cached inputs
    val entries = Harness.run(3,
      SparkEntry.queries.keys.toSeq.sorted.filter(selected).map(Harness.entry(spark, _, sfDir)),
      () => { canary.reset(); runCanary() })
    val pointRun = Harness.run(3, points(spark, selected), () => runCanary())

    val results = entries.mins ++ pointRun.mins
    val errors = entries.errors ++ pointRun.errors
    val regressions = baseline.regressions(sfDir, results)
      .map { case (k, note) => k -> JsonOut.str(note) }
    val total = results.map(_._2).sum
    val summary = Seq("n_queries" -> results.size.toString,
      "canary_query" -> JsonOut.str(canaryName),
      "canary_sec" -> JsonOut.arr(canarySec.map(r4)),
      "regressions" -> JsonOut.obj(regressions))
    // The per-query map (~6 kB at 233 entries) cannot fit a 2000-char
    // tail capture, so the record puts it first and the summary a round
    // record needs last.
    val line = Harness.record("total", total,
      Some(JsonOut.obj(results.map { case (k, v) => k -> r4(v) })), errors, summary: _*)
    println(line)
    // ALSO persist the line: a file artifact survives any stdout-capture
    // failure of the round harness. Full runs only, so a quick subset or
    // canary invocation never overwrites the round record.
    if (args.isEmpty) try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get("records/bench_last.json"),
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case _: Throwable => () } // bench output must never fail the run
    // a COMPACT summary as the FINAL stdout line: the full line's head is
    // cut by a bounded tail capture, while this one (≤ ~0.5 kB: totals,
    // canary, errors, sf, cpus) always lands complete inside any tail
    // window. Per-query numbers stay in the full line and in
    // records/bench_last.json.
    println(Harness.record("total", total, None, errors, summary ++ Seq(
      "cpus" -> Harness.cpus.toString,
      "queries_file" -> JsonOut.str("records/bench_last.json")): _*))
    spark.stop()
  }
}
