package graft

/** The shared main harness: the bench baseline reader, the regression
  * rule, and the one session conf the specs run under. */
class HarnessSpec extends SparkSpec {

  test("baseline reads every entry of the pretty-printed bench record") {
    val b = Harness.baseline("records/bench_baseline.json")
    assert(b.size === 233)
    assert(b("q09_customers_without_big_orders") > 0)
    assert(Harness.baseline("records/no_such_file.json").isEmpty)
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
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "4000000"
    ).foreach { case (k, v) => assert(conf.get(k) === v, k) }
    assert(org.apache.logging.log4j.LogManager.getRootLogger.getLevel.name === "WARN")
  }
}
