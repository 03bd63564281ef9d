package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Loader-contract canary: pins the logical schema [[T]] promises to every
  * downstream operator, independent of the physical parquet layout the
  * testdata generator happened to ship. When the driver regenerates
  * `/root/testdata` with a different physical encoding, THIS spec fails
  * with one named assertion instead of 18 scattered analysis errors
  * (the round-5 failure mode: `events.ts` flipped TIMESTAMP(NANOS) →
  * `timestamp[us]` and every nano-arithmetic consumer broke downstream).
  */
class LoaderContractSpec extends SparkSpec {

  private val sfDirs =
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
      .filter(d => new java.io.File(d).isDirectory)

  test("events.ts surfaces as epoch-nano LongType at every SF") {
    assert(sfDirs.nonEmpty, "no testdata dirs found")
    for (dir <- sfDirs) {
      val ev = T(spark, dir, "events")
      assert(ev.schema("ts").dataType == LongType,
        s"$dir: events.ts must be LongType epoch-nanos, got ${ev.schema("ts").dataType}")
      // value sanity: 2024-01-01..2025-01-01 in epoch nanos — catches a
      // unit mistake (µs or ms surfacing as "nanos") as loudly as a type one
      val r = ev.agg(min("ts"), max("ts")).head()
      val (lo, hi) = (r.getLong(0), r.getLong(1))
      assert(lo >= 1700000000000000000L && hi < 1800000000000000000L,
        s"$dir: events.ts range [$lo, $hi] is not plausible 2024-era epoch-nanos")
    }
  }

  test("key columns of the other tables keep their contracted types") {
    for (dir <- sfDirs) {
      def dt(table: String, col: String): DataType =
        T(spark, dir, table).schema(col).dataType
      assert(dt("lineitem", "l_orderkey") == LongType)
      assert(dt("lineitem", "l_quantity") == DoubleType)
      assert(Seq(TimestampType, TimestampNTZType).contains(dt("lineitem", "l_shipdate")),
        s"$dir: l_shipdate must read as a timestamp")
      assert(dt("orders", "o_orderkey") == LongType)
      assert(Seq(TimestampType, TimestampNTZType).contains(dt("orders", "o_orderdate")))
      assert(dt("customer", "c_custkey") == LongType)
      assert(dt("documents", "doc_id") == LongType)
      assert(dt("documents", "text") == StringType)
      assert(dt("embeddings", "vec_id") == LongType)
      assert(dt("embeddings", "embedding") == ArrayType(FloatType, containsNull = true))
      assert(dt("events", "event_id") == LongType)
      assert(dt("events", "props") == StringType)
    }
  }

  test("T normalizes a timestamp[us] ts fixture to the same nanos as a long one") {
    // write the SAME instants twice — once µs-typed, once long-typed — and
    // assert T() reads identical epoch-nanos from both. This pins the
    // normalization itself, not just today's testdata encoding.
    import spark.implicits._
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_loader_contract"
    val nanos = Seq(1704067200000000000L, 1704067200123456000L, 1735689599999999000L)

    val usDir = s"$base/us"
    nanos.toDF("n")
      .select((col("n") / 1000L).cast("long").as("us"))
      .select(timestamp_micros(col("us")).cast(TimestampNTZType).as("ts"))
      .write.mode("overwrite").parquet(s"$usDir/events.parquet")

    val longDir = s"$base/long"
    nanos.toDF("ts").write.mode("overwrite").parquet(s"$longDir/events.parquet")

    val fromUs = T(spark, usDir, "events")
    assert(fromUs.schema("ts").dataType == LongType)
    val fromLong = T(spark, longDir, "events")
    assert(fromLong.schema("ts").dataType == LongType)

    val a = fromUs.orderBy("ts").as[Long].collect().toSeq
    val b = fromLong.orderBy("ts").as[Long].collect().toSeq
    assert(a == b, s"µs-typed read $a != long-typed read $b")
    assert(a == nanos.sorted)

    // the naive read is zone-free: Asia/Singapore was UTC+7:30 in 1970 and
    // is UTC+8 now, so a conversion through the session zone reads 30 min off
    val inZone = Confs.withConfs(spark, Seq("spark.sql.session.timeZone" -> "Asia/Singapore")) {
      T(spark, usDir, "events").orderBy("ts").as[Long].collect().toSeq
    }
    assert(inZone == nanos.sorted, s"µs-typed read under Asia/Singapore: $inZone")
  }
}
