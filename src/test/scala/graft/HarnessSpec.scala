package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.Harness.Timed

/** The shared main harness: the bench baseline reader, the regression
  * rule, the one session conf the specs run under, and the entry runner
  * with its selection rule and record line. */
class HarnessSpec extends SparkSpec {

  test("baseline reads every entry of the pretty-printed bench record") {
    val b = Harness.baseline("records/bench_baseline.json")
    assert(b.secs.size === 233)
    assert(b.secs("q09_customers_without_big_orders") > 0)
    assert(b.sf.endsWith("/sf0.1"))
    assert(Harness.baseline("records/no_such_file.json").secs.isEmpty)
  }

  test("regressions: flagged only when the run reads the baseline's sf dir") {
    val b = Harness.Baseline("/data/sf0.1", Map("q01" -> 0.3, "q02" -> 1.0))
    val results = Seq("q01" -> 1.1, "q02" -> 1.5, "q03" -> 9.0)
    assert(b.regressions("/data/sf0.1", results) === Seq("q01" -> "1.1000 vs baseline 0.3000"))
    assert(b.regressions("/data/sf0.01", results).isEmpty,
      "a time at another scale factor says nothing about the baseline's")
    assert(Harness.baseline("records/no_such_file.json")
      .regressions(Harness.sfDir, results).isEmpty)
  }

  test("regression rule: 2x above the 0.5 s floor, 2.0 s for pa_* points") {
    assert(Harness.regressed("q01", 2.1, 1.0))
    assert(!Harness.regressed("q01", 1.9, 1.0))
    assert(!Harness.regressed("q01", 0.9, 0.3))
    assert(Harness.regressed("q01", 1.1, 0.3))
    assert(!Harness.regressed("pa_decode_10000", 1.8, 0.8))
    assert(Harness.regressed("q01", 1.8, 0.8))
    assert(Harness.regressed("pa_decode_10000", 6.3, 3.0))
  }

  test("the spec session runs under Harness.session's conf") {
    assert(spark eq Harness.session(4))
    val conf = spark.sparkContext.getConf
    Seq(
      "spark.master" -> "local[4]",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "4000000",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true"
    ).foreach { case (k, v) => assert(conf.get(k) === v, k) }
    assert(org.apache.logging.log4j.LogManager.getRootLogger.getLevel.name === "WARN")
  }

  test("runner: a key that throws records its reject, no time, and is not run again") {
    var calls = Map.empty[String, Int].withDefaultValue(0)
    def counted(key: String)(f: Int => Unit) = Timed(key, () => {
      calls += key -> (calls(key) + 1); f(calls(key))
    })
    val boom = new IllegalStateException("boom")
    val run = Harness.run(3, Seq(
      counted("ok")(_ => ()),
      counted("first")(_ => throw boom),
      counted("second")(n => if (n == 2) throw boom)))
    assert(calls === Map("ok" -> 3, "first" -> 1, "second" -> 2))
    assert(run.errors === Seq("first" -> Harness.reject(boom), "second" -> Harness.reject(boom)))
    assert(run.samples.map(_._1) === Seq("ok"))
    assert(run.mins.map(_._1) === Seq("ok"))
  }

  test("runner: samples come back in pass order and the min is over passes") {
    val sleeps = Iterator(200L, 0L, 100L)
    val run = Harness.run(3, Seq(Timed("k", () => Thread.sleep(sleeps.next()))))
    val Seq(s1, s2, s3) = run.samples.toMap.apply("k")
    assert(s1 >= 0.2 && s3 >= 0.1 && s2 < 0.1)
    assert(run.mins === Seq("k" -> s2))
  }

  test("runner: the cache is reset before each registered-entry sample, not before a point") {
    val cm = spark.sharedState.cacheManager
    val cachedInput = spark.range(7).toDF("n").cache()
    cachedInput.count()
    var entrySawEmpty, pointSawEmpty = Seq.empty[Boolean]
    val entry = Harness.entry(spark, "q01_pricing_summary", sfDir).copy(run = () => {
      entrySawEmpty :+= cm.isEmpty
      cachedInput.cache().count()
    })
    val point = Timed("pa_point", () => pointSawEmpty :+= cm.isEmpty)
    val run = Harness.run(2, Seq(entry, point))
    assert(run.errors.isEmpty)
    assert(entrySawEmpty === Seq(true, true))
    assert(pointSawEmpty === Seq(false, false))
    cachedInput.unpersist()
  }

  test("runner: an entry's reset releases the checkpoints earlier samples left") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val entry = Harness.entry(spark, "q81_winsorized_agg", sfDir)
    entry.run()
    val left = sc.getPersistentRDDs.keySet -- before
    assert(left.nonEmpty, "q81's reuse point is a local checkpoint of a persisted RDD")
    entry.reset()
    assert((sc.getPersistentRDDs.keySet & left).isEmpty,
      "the next sample must start with no block of the last one's checkpoints")
  }

  test("record line: one line of JSON, even when an error message holds a newline") {
    val line = Harness.record("total", 1.5, Some(JsonOut.obj(Seq("q01" -> "1.5000"))),
      Seq("q02" -> Harness.reject(new RuntimeException("line one\nline two\t\"quoted\""))),
      "n_queries" -> "1")
    assert(!line.contains('\n'))
    val json = new ObjectMapper().readTree(line)
    assert(json.path("metric").asText === "total")
    assert(json.path("value").asDouble === 1.5)
    assert(json.path("unit").asText === "sec")
    assert(json.path("queries").path("q01").asDouble === 1.5)
    assert(json.path("errors").path("q02").asText ===
      "RuntimeException: line one\nline two\t\"quoted\"")
    assert(json.path("sf").asText === Harness.sfDir)
    assert(json.path("n_queries").asText === "1")
    assert(!new ObjectMapper().readTree(
      Harness.record("total", 0, None, Nil)).has("queries"))
  }

  test("selection: space-separated name prefixes, none selects every entry") {
    val names = SparkEntry.queries.keys.toSeq.sorted
    assert(names.filter(Harness.selects(Seq("q81", "q83"), _)) ===
      Seq("q81_winsorized_agg", "q83_mad_outliers"))
    val points = for (op <- Seq("encode", "decode"); n <- Seq(10, 100, 1000, 10000))
      yield s"pa_${op}_$n"
    assert(points.filter(Harness.selects(Seq("pa_decode_10"), _)) ===
      Seq("pa_decode_10", "pa_decode_100", "pa_decode_1000", "pa_decode_10000"))
    assert(names.filter(Harness.selects(Nil, _)) === names)
    assert(Harness.planArgs(Seq("/data/x", "q81")) === ("/data/x", Seq("q81_winsorized_agg")))
    assert(Harness.planArgs(Seq("q83"))._2 === Seq("q83_mad_outliers"))
    assert(Harness.planArgs(Nil)._2 === names)
    val e = intercept[IllegalArgumentException](Harness.planArgs(Seq("/data/x", "q81", "zz_none")))
    assert(e.getMessage.contains("zz_none") && !e.getMessage.contains("q81"))
  }

  test("runner smoke: two registered entries at sf0.001") {
    val names = Seq("q01_pricing_summary", "q09_customers_without_big_orders")
    val run = Harness.run(2, names.map(Harness.entry(spark, _, sfDir)))
    assert(run.errors.isEmpty)
    assert(run.samples.map(_._1) === names)
    run.samples.foreach { case (_, ts) => assert(ts.size === 2 && ts.forall(_ > 0)) }
  }
}
