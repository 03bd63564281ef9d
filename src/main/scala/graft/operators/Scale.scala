package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale techniques as first-class, testable helpers (100 TB posture):
  * skew-salted joins and bucketed co-located joins. Each has a
  * correctness gate (the salted join is oracle-checked against the plain
  * join SQL) and a plan gate (specs assert the bucketed join has no
  * shuffle).
  */
object Scale {

  /** Salted equi-join for skewed keys: the build side is exploded
    * `saltFactor`× (one copy per salt value), the probe side gets a
    * per-ROW salt, so one hot key's rows spread over `saltFactor`
    * reducers instead of one. Results are identical to a plain inner
    * join.
    *
    * The salt MUST vary within a key: a salt derived from the join key
    * alone sends every row of the hot key to the same reducer and defeats
    * the whole technique (SkewBench measures exactly this). A full-row
    * hash is used here — deterministic (so runs are reproducible and the
    * DuckDB oracle can mirror the result) yet spread across salts for the
    * hot key's many distinct rows; in production a `rand()` salt is
    * equally correct because salting never changes results, only
    * placement.
    *
    * At 100 TB: use when one side has heavy hitters AQE's skew-join split
    * can't fix (e.g. a single key holding >1 partition of rows). */
  def saltedJoin(probe: DataFrame, build: DataFrame, probeKey: Column,
      buildKey: Column, saltFactor: Int): DataFrame = {
    require(!probe.columns.contains("__salt") && !build.columns.contains("__salt"),
      "saltedJoin reserves the __salt column name")
    // hash() rejects MapType columns (and map equality is ill-defined
    // anyway) — salt over the hashable columns only; any row-varying
    // subset spreads a hot key, it need not be the full row
    val hashable = probe.schema.fields
      .filterNot(_.dataType.isInstanceOf[org.apache.spark.sql.types.MapType])
      .map(f => col(f.name)).toIndexedSeq
    require(hashable.nonEmpty, "saltedJoin needs at least one non-map probe column")
    val salted = build
      .withColumn("__salt", explode(lit((0 until saltFactor).toArray)))
    val probeSalted = probe
      .withColumn("__salt",
        pmod(hash(hashable: _*), lit(saltFactor)).cast("int"))
    probeSalted.join(salted,
      probeKey === buildKey && probeSalted("__salt") === salted("__salt"))
      .drop("__salt")
  }

  /** q26: the salted join produces exactly the plain-join aggregate —
    * correctness proof for the technique (the oracle runs the unsalted
    * SQL). */
  val q26SaltedJoin = Q(
    "q26_salted_join",
    """SELECT o_orderpriority, COUNT(*) AS n,
       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE) AS qty
       FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       GROUP BY o_orderpriority ORDER BY o_orderpriority""") { (spark, dir) =>
    import Num._
    val li = T(spark, dir, "lineitem").select("l_orderkey", "l_quantity")
    val o = T(spark, dir, "orders").select("o_orderkey", "o_orderpriority")
    saltedJoin(li, o, col("l_orderkey"), col("o_orderkey"), saltFactor = 8)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty"))
      .orderBy("o_orderpriority")
  }

  /** Cache key for a derived /tmp layout: the source dir PLUS a
    * fingerprint of the source parquet's file stats (name, size, mtime).
    * Keying by dir alone survives a testdata REGENERATION — the round-5
    * failure mode at the type level, but a same-schema regeneration would
    * be worse: the cached layout would silently serve STALE ROWS and the
    * oracle (which reads the live table) would hash-mismatch. A content
    * fingerprint makes regenerated sources land on a fresh layout path. */
  private[graft] def sourceKey(dir: String, table: String): String = {
    val f = new java.io.File(s"$dir/$table.parquet")
    val stats: Seq[(String, Long, Long)] =
      if (f.isDirectory)
        f.listFiles().map(p => (p.getName, p.length, p.lastModified)).sortBy(_._1).toSeq
      else Seq((f.getName, f.length, f.lastModified))
    java.lang.Integer.toHexString((dir, table, stats).hashCode)
  }

  /** Hive-partitioned rewrite of `orders` (…/o_year=YYYY/part-*.parquet),
    * written once per source-dir CONTENT and reused — the layout a 100 TB
    * fact table actually ships in. Idempotent: keyed by [[sourceKey]],
    * gated on the _SUCCESS marker; a torn write (no marker) is
    * rewritten. Same rows as the driver's orders table, only
    * re-laid-out. */
  private[operators] def partitionedOrders(spark: org.apache.spark.sql.SparkSession,
      dir: String): String = {
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_part_orders_${sourceKey(dir, "orders")}"
    if (!new java.io.File(s"$out/_SUCCESS").exists()) {
      T(spark, dir, "orders")
        .withColumn("o_year", year(col("o_orderdate")))
        .write.mode("overwrite").partitionBy("o_year").parquet(out)
    }
    out
  }

  /** q63: the 100×-scale scan-posture demo — a query over the
    * year-partitioned orders layout whose plan MUST prune to one
    * partition directory (PartitionFilters on o_year) and push the data
    * predicate into the parquet reader (PushedFilters on o_totalprice);
    * PlanSpec gates both. At 100 TB this is the difference between
    * reading one year and reading the table. The oracle runs the
    * equivalent predicate over the flat table — identical rows prove the
    * re-layout is pure physics, not semantics. Also exercises the
    * partitioned-parquet SINK ([[partitionedOrders]]), the write shape
    * every operator here would produce at scale. */
  val q63PartitionPrunedScan = Q(
    "q63_partition_pruned_scan",
    """SELECT CAST(month(o_orderdate) AS BIGINT) AS month, COUNT(*) AS n,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE) AS revenue
       FROM orders
       WHERE year(o_orderdate) = 1997 AND o_totalprice > 50000.0
       GROUP BY month ORDER BY month""") { (spark, dir) =>
    import Num._
    spark.read.parquet(partitionedOrders(spark, dir))
      .filter(col("o_year") === 1997 && col("o_totalprice") > 50000.0d)
      .groupBy(month(col("o_orderdate")).cast("long").as("month"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
      .orderBy("month")
  }

  /** Bucketed re-layout of lineitem+orders (8 buckets on the join key,
    * sorted within buckets), written once per source dir via
    * `saveAsTable` — bucketing metadata lives in the catalog, so the
    * guard is `tableExists` (the in-memory catalog dies with the JVM;
    * a fresh JVM rewrites, mode Overwrite). Table names carry the dir
    * key so two SF dirs in one session cannot alias. */
  private[operators] def bucketedTables(
      spark: org.apache.spark.sql.SparkSession, dir: String): (String, String) = {
    val key = java.lang.Integer.toHexString(dir.hashCode)
    val tmp = System.getProperty("java.io.tmpdir")
    val (liT, oT) = (s"graft_b_lineitem_$key", s"graft_b_orders_$key")
    if (!spark.catalog.tableExists(liT)) {
      T(spark, dir, "lineitem").select("l_orderkey", "l_extendedprice")
        .write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$tmp/graft_bkt_li_$key").saveAsTable(liT)
    }
    if (!spark.catalog.tableExists(oT)) {
      T(spark, dir, "orders").select("o_orderkey", "o_orderpriority")
        .write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$tmp/graft_bkt_o_$key").saveAsTable(oT)
    }
    (liT, oT)
  }

  /** q64: the co-located-join posture demo — lineitem⋈orders over the
    * bucketed layout ([[bucketedTables]]), sort-merge joined (`merge`
    * hint beats the sf0.01 broadcast threshold) with ZERO hash
    * exchanges end-to-end: both scans are pre-bucketed on the join key,
    * and the group-by keys include that key, so the join's
    * HashPartitioning satisfies the aggregation's distribution too.
    * PlanSpec gates `Bucketed: true` on both scans and the absence of
    * any `Exchange hashpartitioning`. At 100 TB this is THE fact-fact
    * join shape: bucket both tables once at ingest, join and aggregate
    * forever after without moving either. The oracle runs the plain
    * join — identical rows prove the layout is physics, not semantics. */
  val q64BucketedJoin = Q(
    "q64_bucketed_join",
    """SELECT l.l_orderkey AS okey, o.o_orderpriority AS pri,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE) AS rev
       FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
       GROUP BY okey, pri ORDER BY okey""") { (spark, dir) =>
    import Num._
    val (liT, oT) = bucketedTables(spark, dir)
    spark.table(liT).hint("merge")
      .join(spark.table(oT).hint("merge"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey").as("okey"), col("o_orderpriority").as("pri"))
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("rev"))
      .orderBy("okey")
  }

  /** Bin width for [[q65RangeJoin]]: 10 minutes in nanos, equal to the
    * interval length so every interval overlaps at most 2 bins. */
  private[operators] val RangeBinNs = 600000000000L

  /** Binned point-in-interval range join. A naive `p.ts BETWEEN a.s AND
    * a.e` theta join is a BroadcastNestedLoopJoin — O(N·M) compares and a
    * broadcast of a whole side, dead at scale. The binned form makes it
    * an EQUI-join: pick a bin width W ≥ the max interval length, explode
    * each interval into the (≤2) bins it overlaps, map each point to its
    * single bin, hash-join on bin, and apply the BETWEEN as a residual
    * filter. Each (interval, point) pair meets in exactly one bin — the
    * point's — so no dedup is needed. Shuffle is on bin; a hot time bin
    * at scale is handled like any hot key (AQE skew split — the salting
    * in [[saltedJoin]] composes if needed).
    *
    * q65: for each 'purchase' event, count and sum the OTHER events
    * landing in the 10 minutes after it — the "what happens right after
    * a conversion" attribution shape. The oracle runs the naive BETWEEN
    * join; identical results prove the binning is physics, not
    * semantics. PlanSpec gates that the join really is a hash/merge
    * equi-join, not a nested loop. */
  val q65RangeJoin = Q(
    "q65_range_join",
    s"""WITH a AS (SELECT event_id AS a_id, epoch_ns(ts) AS s,
                         epoch_ns(ts) + $RangeBinNs AS e
                  FROM events WHERE event_type = 'purchase'),
        p AS (SELECT event_id, epoch_ns(ts) AS tsn, value FROM events)
        SELECT a_id, COUNT(*) AS n,
               CAST(CAST(SUM(CAST(value AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE) AS sum_value
        FROM a JOIN p ON p.tsn BETWEEN a.s AND a.e AND p.event_id <> a.a_id
        GROUP BY a_id ORDER BY a_id""") { (spark, dir) =>
    import Num._
    val ev = T(spark, dir, "events").selectExpr("event_id", "ts as tsn", "value",
      "event_type")
    val anchors = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("a_id"), col("tsn").as("s"),
        (col("tsn") + RangeBinNs).as("e"))
      .withColumn("bin", explode(expr(s"sequence(s div $RangeBinNs, e div $RangeBinNs)")))
    val points = ev.select(col("event_id"), col("tsn"), col("value"))
      .withColumn("bin", expr(s"tsn div $RangeBinNs"))
    anchors.join(points,
        anchors("bin") === points("bin") &&
          col("tsn").between(col("s"), col("e")) && col("event_id") =!= col("a_id"))
      .groupBy("a_id")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .orderBy("a_id")
  }

  /** Interval lengths for [[q69IntervalJoin]]: each 'view' opens a
    * 10-minute window, each 'error' a 7-minute window. Both are ≤
    * [[RangeBinNs]], so each interval overlaps at most 2 bins. */
  private val ViewIntervalNs = 600000000000L
  private val ErrorIntervalNs = 420000000000L

  /** Binned interval-OVERLAP join — the interval×interval extension of
    * [[q65RangeJoin]]'s point-in-interval shape. Both relations are
    * intervals here, so both sides explode into the (≤2) bins they
    * cover and the pair (a, b) is claimed by exactly ONE bin — the bin
    * of the overlap's start, `greatest(a.s, b.s) div W` — via a
    * residual predicate. That home-bin rule replaces the DISTINCT a
    * naive explode-both-sides join would need (dedup-by-construction:
    * no wide distinct over the matched pairs, which at 100 TB would be
    * a second full shuffle of the output). The join itself is a hash
    * equi-join on the bin (PlanSpec gates no nested loop); the residual
    * `a.s <= b.e AND b.s <= a.e` runs post-match. Output size is
    * physics: all overlapping pairs is inherently ∝ (per-bin density)²,
    * so a hot bin (flash crowd) is a hot KEY — AQE skew split and q26's
    * salting compose, and SkewBench's q65 line already measures the
    * identical bin distribution under a 10k-event pile-up.
    *
    * q69: every (view-window, error-window) pair that overlaps in time
    * with the overlap duration — "which errors were on screen during a
    * view session". The oracle runs the naive BETWEEN theta join;
    * identical rows prove the binning+home-bin rule is physics, not
    * semantics. */
  val q69IntervalJoin = Q(
    "q69_interval_join",
    s"""WITH a AS (SELECT event_id AS a_id, epoch_ns(ts) AS s,
                          epoch_ns(ts) + $ViewIntervalNs AS e
                   FROM events WHERE event_type = 'view'),
        b AS (SELECT event_id AS b_id, epoch_ns(ts) AS s,
                     epoch_ns(ts) + $ErrorIntervalNs AS e
              FROM events WHERE event_type = 'error')
        SELECT a_id, b_id,
               least(a.e, b.e) - greatest(a.s, b.s) AS overlap_ns
        FROM a JOIN b ON a.s <= b.e AND b.s <= a.e
        ORDER BY a_id, b_id""") { (spark, dir) =>
    val ev = T(spark, dir, "events").selectExpr("event_id", "ts as tsn", "event_type")
    def intervals(etype: String, lenNs: Long, idAs: String) = ev
      .filter(col("event_type") === etype)
      .select(col("event_id").as(idAs), col("tsn").as(s"${idAs}_s"),
        (col("tsn") + lenNs).as(s"${idAs}_e"))
      .withColumn("bin", explode(
        expr(s"sequence(${idAs}_s div $RangeBinNs, ${idAs}_e div $RangeBinNs)")))
    val a = intervals("view", ViewIntervalNs, "a_id")
    val b = intervals("error", ErrorIntervalNs, "b_id")
    a.join(b,
        a("bin") === b("bin") &&
          col("a_id_s") <= col("b_id_e") && col("b_id_s") <= col("a_id_e") &&
          a("bin") === expr(s"greatest(a_id_s, b_id_s) div $RangeBinNs"))
      .select(col("a_id"), col("b_id"),
        (least(col("a_id_e"), col("b_id_e"))
          - greatest(col("a_id_s"), col("b_id_s"))).as("overlap_ns"))
      .orderBy("a_id", "b_id")
  }

  /** Runtime bloom-filter join pruning (semi-join reduction) — the third
    * structural scale upgrade next to bucketing (q64) and salting (q26).
    * When a join's build side is made small by a SELECTIVE predicate, the
    * optimizer can build a bloom filter over the surviving join keys and
    * push `might_contain(key)` into the FACT side's scan stage, so rows
    * that cannot match are dropped BEFORE the shuffle — at 100 TB that is
    * the difference between shuffling the whole fact table and shuffling
    * the few percent that survive. Spark's `InjectRuntimeFilter` rule does
    * this when `spark.sql.optimizer.runtime.bloomFilter.enabled` is on and
    * the fact-side scan exceeds `applicationSideScanSizeThreshold`
    * (default 10 GB — sized for exactly the 100 TB regime; the demo lowers
    * it to 0 because the test tables are MBs, a real cluster keeps the
    * default). The confs are set only while this plan is optimized and
    * restored after: the injected bloom is frozen into the returned
    * DataFrame's executed plan (PlanSpec gates `might_contain` + the
    * SMJ), while later queries in the same session re-optimize under the
    * session's own settings. Results are byte-identical with or without
    * the bloom — the oracle runs the plain join. */
  val q66RuntimeFilter = Q(
    "q66_runtime_filter",
    """SELECT l_returnflag, COUNT(*) AS n,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4)) * (1 - CAST(l_discount AS DECIMAL(12,4)))) AS VARCHAR) AS DOUBLE) AS revenue
       FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 150000
       GROUP BY l_returnflag ORDER BY l_returnflag""") { (spark, dir) =>
    import Num._
    Confs.withConfs(spark, Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      // the rule only fires for probably-SHUFFLE joins: at test SF both
      // sides sit under the broadcast threshold, which on a real 100 TB
      // fact table they never would — model that regime, don't fake data
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")) {
      val li = T(spark, dir, "lineitem")
        .select("l_orderkey", "l_returnflag", "l_extendedprice", "l_discount")
      val ords = T(spark, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_totalprice") > 150000)
        .select("o_orderkey")
      // merge hint: a broadcast join would already co-locate the filter
      // with the scan — the bloom exists for the shuffle-join regime
      val df = li.hint("merge")
        .join(ords, col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
            .cast("double").as("revenue"))
        .orderBy("l_returnflag")
      df.queryExecution.executedPlan // force optimization under the confs
      df
    }
  }

  /** Query window for [[q67RangeLayout]]: [2024-01-08, 2024-01-15) UTC
    * in epoch-nanos — one week of the one-month events fixture. */
  private[operators] val RangeLoNs = 1704672000000000000L
  private[operators] val RangeHiNs = 1705276800000000000L

  /** The time-ordered layout [[q67RangeLayout]] reads: events rewritten
    * with `repartitionByRange(ts)` + `sortWithinPartitions(ts)`, so each
    * file covers a disjoint time slice and rows are sorted inside it —
    * parquet then records tight ts min/max per file and row group, and a
    * time-windowed scan skips everything outside the window at the
    * reader level. Idempotent per source dir (same guard shape as
    * [[partitionedOrders]]). */
  private[operators] def rangeLayoutDf(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    T(spark, dir, "events")
      .repartitionByRange(8, col("ts"))
      .sortWithinPartitions("ts")

  private[operators] def rangeSortedEvents(spark: org.apache.spark.sql.SparkSession,
      dir: String): String = {
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_range_events_${sourceKey(dir, "events")}"
    // the reuse guard checks the CONTRACT, not just existence: a copy
    // written under an older loader (ts as raw timestamp) must be
    // rewritten, or every consumer's long arithmetic breaks at analysis
    val reusable = new java.io.File(s"$out/_SUCCESS").exists() &&
      spark.read.parquet(out).schema("ts").dataType ==
        org.apache.spark.sql.types.LongType
    if (!reusable) {
      rangeLayoutDf(spark, dir).write.mode("overwrite").parquet(out)
    }
    out
  }

  /** q67: the third storage-layout posture demo, completing the trilogy —
    * q63 directory-prunes a hive-partitioned layout, q64 co-locates a
    * bucketed one, q67 time-clusters a range-sorted one. A week-window
    * aggregation over the re-laid-out events: the predicate reaches the
    * parquet reader (PushedFilters plan-gated), where the layout's tight
    * per-file/row-group ts min/max turns it into wholesale skipping —
    * at 100 TB a month-long table answers a one-week query reading ~1/4
    * of its files instead of all of them. The write side is plan-gated
    * too (RangePartitioning + Sort). The oracle runs the same window
    * over the original flat table — identical results prove the layout
    * is physics, not semantics. */
  val q67RangeLayout = Q(
    "q67_range_layout",
    s"""SELECT event_type, COUNT(*) AS n,
       CAST(CAST(SUM(CAST(value AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE) AS sum_value
       FROM events
       WHERE epoch_ns(ts) >= $RangeLoNs AND epoch_ns(ts) < $RangeHiNs
       GROUP BY event_type ORDER BY event_type""") { (spark, dir) =>
    import Num._
    spark.read.parquet(rangeSortedEvents(spark, dir))
      .filter(col("ts") >= RangeLoNs && col("ts") < RangeHiNs)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .orderBy("event_type")
  }

  /** 16-bit → 32-bit Morton bit spread (the classic magic-mask chain:
    * 0x00FF00FF / 0x0F0F0F0F / 0x33333333 / 0x55555555). Pure
    * shift/and/or on longs — every step is a codegen'd built-in. */
  private def spread16(c: Column): Column = {
    val a = c.bitwiseOR(shiftleft(c, 8)).bitwiseAND(lit(0x00FF00FFL))
    val b = a.bitwiseOR(shiftleft(a, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val d = b.bitwiseOR(shiftleft(b, 2)).bitwiseAND(lit(0x33333333L))
    d.bitwiseOR(shiftleft(d, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** Z-order (Morton) interleave of two 16-bit normalized dimensions. */
  private[operators] def zOrder(d0: Column, d1: Column): Column =
    spread16(d0).bitwiseOR(shiftleft(spread16(d1), 1))

  /** The z-ordered layout [[q68ZOrderLayout]] reads: events rewritten
    * range-partitioned + sorted on the Morton interleave of
    * (user_id, ts), both normalized to 16 bits against their actual
    * min/max (integer arithmetic only — the ts step divides BEFORE any
    * multiply, so nothing overflows at nano resolution). A single-column
    * range sort (q67) gives perfect skipping on ONE dimension and none on
    * the other; z-order trades a little of each for skipping on BOTH —
    * the layout a 100 TB events table wants when queries slice user AND
    * time. Same contract-checking reuse guard as [[rangeSortedEvents]]. */
  private[operators] def zOrderedEvents(spark: org.apache.spark.sql.SparkSession,
      dir: String): String = {
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_zorder_events_${sourceKey(dir, "events")}"
    val reusable = new java.io.File(s"$out/_SUCCESS").exists() &&
      spark.read.parquet(out).schema("ts").dataType ==
        org.apache.spark.sql.types.LongType
    if (!reusable) {
      val ev = T(spark, dir, "events")
      val b = ev.agg(min("user_id"), max("user_id"), min("ts"), max("ts")).head()
      val (minU, maxU, minT, maxT) =
        (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
      val uStep = (maxU - minU) / 65535L + 1L
      val tStep = (maxT - minT) / 65535L + 1L
      ev.withColumn("zval", zOrder(
          expr(s"(user_id - ${minU}L) div ${uStep}L"),
          expr(s"(ts - ${minT}L) div ${tStep}L")))
        .repartitionByRange(8, col("zval"))
        .sortWithinPartitions("zval")
        .drop("zval")
        .write.mode("overwrite").parquet(out)
    }
    out
  }

  /** Query band for [[q68ZOrderLayout]]'s user dimension: the second
    * quartile of the id range, bounds computed with the same integer
    * formula in both dialects. */
  private[operators] def userBand(spark: org.apache.spark.sql.SparkSession,
      dir: String): (Long, Long) = {
    val b = T(spark, dir, "events").agg(min("user_id"), max("user_id")).head()
    val (minU, maxU) = (b.getLong(0), b.getLong(1))
    (minU + (maxU - minU) / 4, minU + 2 * ((maxU - minU) / 4))
  }

  /** q68: the FOURTH storage-layout posture — multi-dimensional
    * clustering. q63 prunes directories, q64 co-locates buckets, q67
    * skips row groups on one sorted dimension; q68 z-orders TWO
    * dimensions (user_id, ts) so a query slicing both — a user cohort
    * inside a time window, the shape of per-user event analytics at
    * 100 TB — skips on both at once: Morton clustering keeps rows close
    * in BOTH dimensions physically adjacent, so each file/row-group's
    * user_id AND ts min/max are simultaneously tight. The oracle runs
    * the identical slice on the flat table: the layout is physics, not
    * semantics. ScaleSpec measures the skipping (scan rows ≪ table
    * rows); PlanSpec gates that both predicates reach the reader. */
  val q68ZOrderLayout = Q(
    "q68_zorder_layout",
    s"""WITH b AS (SELECT MIN(user_id) AS lo,
                          (MAX(user_id) - MIN(user_id)) // 4 AS q FROM events)
       SELECT event_type, COUNT(*) AS n,
       CAST(CAST(SUM(CAST(value AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE) AS sum_value
       FROM events, b
       WHERE user_id >= b.lo + b.q AND user_id < b.lo + 2 * b.q
         AND epoch_ns(ts) >= $RangeLoNs AND epoch_ns(ts) < $RangeHiNs
       GROUP BY event_type ORDER BY event_type""") { (spark, dir) =>
    import Num._
    val (uLo, uHi) = userBand(spark, dir)
    spark.read.parquet(zOrderedEvents(spark, dir))
      .filter(col("user_id") >= uLo && col("user_id") < uHi &&
        col("ts") >= RangeLoNs && col("ts") < RangeHiNs)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .orderBy("event_type")
  }

  /** Persisted per-group partial-aggregate state over the HISTORY slice
    * of lineitem (l_orderkey % 10 != 0), for [[x100IncrementalAgg]]:
    *  - scalar partials per l_returnflag: count, DECIMAL quantity sum,
    *    min/max — each exactly mergeable with any future partial;
    *  - the distinct (l_returnflag, l_suppkey) pairs — the exact-
    *    mergeable form of COUNT(DISTINCT): bounded by flags×suppliers,
    *    tiny relative to the fact table, and a delta merges by union +
    *    distinct without ever revisiting history rows.
    * Written once per source content ([[sourceKey]]). At 100 TB the
    * history/delta split is arrival-date PARTITIONS (the modulo split
    * here is the deterministic stand-in the oracle can mirror) and this
    * state is the materialized rollup a pipeline maintains per
    * partition-add. */
  private[operators] def x100HistoryState(
      spark: org.apache.spark.sql.SparkSession, dir: String): (String, String) = {
    val key = sourceKey(dir, "lineitem")
    val tmp = System.getProperty("java.io.tmpdir")
    val scalarsP = s"$tmp/graft_x100_scalars_$key"
    val pairsP = s"$tmp/graft_x100_pairs_$key"
    if (!new java.io.File(s"$scalarsP/_SUCCESS").exists()
      || !new java.io.File(s"$pairsP/_SUCCESS").exists()) {
      val hist = T(spark, dir, "lineitem").filter(col("l_orderkey") % 10 =!= 0)
      hist.groupBy("l_returnflag").agg(
        count(lit(1)).as("n"), sum(Num.dec(col("l_quantity"))).as("qty"),
        min(col("l_quantity")).as("min_qty"), max(col("l_quantity")).as("max_qty"))
        .write.mode("overwrite").parquet(scalarsP)
      hist.select("l_returnflag", "l_suppkey").distinct()
        .write.mode("overwrite").parquet(pairsP)
    }
    (scalarsP, pairsP)
  }

  /** x100: INCREMENTAL aggregate maintenance — merge a new delta into
    * persisted partial states instead of rescanning history. The
    * materialized-rollup pattern every 100 TB pipeline runs on
    * partition arrival: count/sum/min/max merge as scalars, DECIMAL
    * sums merge exactly (order-independent), and COUNT(DISTINCT) merges
    * via the persisted distinct-pairs table (union + distinct + count —
    * exact, and the state is dimension-sized, not fact-sized). The
    * whole query touches the delta rows plus two state tables; history
    * is never re-read. The oracle recomputes the identical aggregate
    * from the FULL table in one pass — byte-equal results prove the
    * incremental decomposition. (The approximate-mergeable variant —
    * DataSketches HLL partials through hll_union_agg — is spec-pinned
    * in ScaleSpec equal to the single-pass sketch; its estimate can't
    * be oracle-hashed because DuckDB's approx sketch differs.) */
  val x100IncrementalAgg = Q(
    "x100_incremental_agg",
    """SELECT l_returnflag, COUNT(*) AS n,
       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE) AS qty,
       MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
       COUNT(DISTINCT l_suppkey) AS n_suppliers
       FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""") { (spark, dir) =>
    val (scalarsP, pairsP) = x100HistoryState(spark, dir)
    val delta = T(spark, dir, "lineitem").filter(col("l_orderkey") % 10 === 0)
    val dScal = delta.groupBy("l_returnflag").agg(
      count(lit(1)).as("n"), sum(Num.dec(col("l_quantity"))).as("qty"),
      min(col("l_quantity")).as("min_qty"), max(col("l_quantity")).as("max_qty"))
    val scal = spark.read.parquet(scalarsP).unionByName(dScal)
      .groupBy("l_returnflag").agg(
        sum(col("n")).as("n"), sum(col("qty")).cast("double").as("qty"),
        min(col("min_qty")).as("min_qty"), max(col("max_qty")).as("max_qty"))
    val supp = spark.read.parquet(pairsP)
      .unionByName(delta.select("l_returnflag", "l_suppkey").distinct())
      .distinct()
      .groupBy("l_returnflag").agg(count(lit(1)).as("n_suppliers"))
    scal.join(supp, "l_returnflag")
      .select("l_returnflag", "n", "qty", "min_qty", "max_qty", "n_suppliers")
      .orderBy("l_returnflag")
  }

  /** q72: CDC upsert/delete MERGE — apply a (small) change batch to a
    * (huge) base table: updated rows replace, tombstones delete,
    * untouched rows pass through. The Delta-style MERGE shape without a
    * table format, written so THE BASE NEVER SHUFFLES: changed keys are
    * tiny relative to the base (the CDC premise), so untouched rows
    * survive a BROADCAST anti-join — a map-side filter over the base
    * scan — and the resolved changes union in afterwards. No window over
    * the base, no exchange keyed on the merge key (PlanSpec gates both);
    * at 100 TB this is the difference between rewriting the table and
    * streaming it through unmoved. Change resolution (latest version
    * per key) happens on the CHANGES side alone — here one version, the
    * general multi-version case is a window over the change batch only.
    * The change batch is synthesized deterministically from orders
    * (keys %7 = 0 get o_totalprice + 1000; keys %11 = 0 excluding those
    * are tombstoned) so the oracle can mirror it exactly; results prove
    * the merge algebra, not the change feed. */
  val q72UpsertMerge = Q(
    "q72_upsert_merge",
    """WITH base AS (SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders),
       upd AS (SELECT o_orderkey, o_orderpriority, o_totalprice + 1000.0 AS o_totalprice,
                      FALSE AS del
               FROM base WHERE o_orderkey % 7 = 0),
       dele AS (SELECT o_orderkey, o_orderpriority, o_totalprice, TRUE AS del
                FROM base WHERE o_orderkey % 11 = 0 AND o_orderkey % 7 <> 0),
       changes AS (SELECT * FROM upd UNION ALL SELECT * FROM dele),
       untouched AS (SELECT b.* FROM base b
                     WHERE b.o_orderkey NOT IN (SELECT o_orderkey FROM changes)),
       merged AS (SELECT o_orderkey, o_orderpriority, o_totalprice FROM untouched
                  UNION ALL
                  SELECT o_orderkey, o_orderpriority, o_totalprice FROM changes
                  WHERE NOT del)
       SELECT o_orderpriority, COUNT(*) AS n,
              CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE) AS total
       FROM merged GROUP BY o_orderpriority ORDER BY o_orderpriority""") { (spark, dir) =>
    import Num._
    val base = T(spark, dir, "orders")
      .select("o_orderkey", "o_orderpriority", "o_totalprice")
    val upd = base.filter(col("o_orderkey") % 7 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1000.0d)
      .withColumn("del", lit(false))
    val dele = base.filter(col("o_orderkey") % 11 === 0 && col("o_orderkey") % 7 =!= 0)
      .withColumn("del", lit(true))
    val changes = upd.unionByName(dele)
    val merged = base
      .join(broadcast(changes.select("o_orderkey")), Seq("o_orderkey"), "left_anti")
      .unionByName(changes.filter(!col("del")).drop("del"))
    merged.groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .orderBy("o_orderpriority")
  }

  /** One-time text-format re-layouts of a lineitem projection (CSV and
    * JSON-lines), written to tmpdir keyed by [[sourceKey]] (the source
    * table's content) and rewritten unless a finished write (`_SUCCESS`)
    * is there. Explicit schemas on read — at
    * 100 TB schema INFERENCE is a full extra scan of the corpus, so
    * the engine never relies on it; both formats stay splittable (CSV
    * single-line records, JSON as JSONL), so the scans parallelize
    * like parquet, minus the columnar pruning these queries don't need. */
  private[operators] def textLayouts(
      spark: org.apache.spark.sql.SparkSession, dir: String): (String, String) = {
    val key = sourceKey(dir, "lineitem")
    val tmp = System.getProperty("java.io.tmpdir")
    val (csvP, jsonP) = (s"$tmp/graft_csv_li_$key", s"$tmp/graft_json_li_$key")
    val src = T(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        col("l_quantity"), col("l_shipdate"))
    if (!new java.io.File(s"$csvP/_SUCCESS").exists())
      src.write.mode("overwrite").option("header", "true").csv(csvP)
    if (!new java.io.File(s"$jsonP/_SUCCESS").exists())
      src.write.mode("overwrite").json(jsonP)
    (csvP, jsonP)
  }

  /** The explicit read schema for the three re-laid-out formats.
    * l_shipdate is TIMESTAMP_NTZ — the testdata ships the column as a
    * (midnight) timestamp, and claiming DATE here would silently
    * truncate on the text formats and hard-fail on ORC (no
    * bigint→date evolution); the round-trip gate demands the NATIVE
    * type end-to-end. */
  private val liTextSchema = "l_orderkey bigint, l_linenumber int, " +
    "l_returnflag string, l_quantity double, l_shipdate timestamp_ntz"

  /** The round-trip aggregate both text-source queries and their oracle
    * share: if the write→read round trip loses or reformats ANY value
    * (double shortest-repr, date ISO form, delimiter quoting), the
    * per-flag sums/extremes diverge from the parquet-direct oracle and
    * the row hash goes red — the gate IS the losslessness contract. */
  private def roundTripAgg(df: DataFrame): DataFrame = {
    import Num._
    df.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(col("l_orderkey")).cast("long").as("sum_key"),
        dsum(col("l_quantity")).as("sum_qty"),
        min(col("l_shipdate")).as("min_ship"),
        max(col("l_shipdate")).as("max_ship"))
      .orderBy("l_returnflag")
  }

  private val roundTripOracle =
    """SELECT l_returnflag, COUNT(*) AS n,
       CAST(SUM(l_orderkey) AS BIGINT) AS sum_key,
       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE) AS sum_qty,
       MIN(l_shipdate) AS min_ship, MAX(l_shipdate) AS max_ship
       FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""

  /** q90: CSV source/sink round trip — lineitem written as headered CSV
    * and read back with an EXPLICIT schema, then aggregated; the oracle
    * computes the same aggregate straight from the parquet table, so a
    * lossy double/date/quoting round trip cannot pass. */
  val q90CsvRoundtrip = Q("q90_csv_roundtrip", roundTripOracle) { (spark, dir) =>
    val (csvP, _) = textLayouts(spark, dir)
    roundTripAgg(spark.read.schema(liTextSchema)
      .option("header", "true").csv(csvP))
  }

  /** q91: JSON-lines source/sink round trip — same contract as
    * [[q90CsvRoundtrip]] over `spark.read.json` (one JSON object per
    * line keeps the scan splittable; explicit schema skips inference). */
  val q91JsonRoundtrip = Q("q91_json_roundtrip", roundTripOracle) { (spark, dir) =>
    val (_, jsonP) = textLayouts(spark, dir)
    roundTripAgg(spark.read.schema(liTextSchema).json(jsonP))
  }

  /** q93: ORC source/sink round trip — the third columnar format beside
    * parquet (ORC ships in Spark; predicate pushdown and column pruning
    * work like parquet's). Same gate as [[q90CsvRoundtrip]]: the oracle
    * aggregates the parquet original, so any value drift in the
    * write->read round trip goes hash-red. DuckDB cannot read ORC, which
    * is exactly why the oracle takes the recompute-from-parquet form. */
  val q93OrcRoundtrip = Q("q93_orc_roundtrip", roundTripOracle) { (spark, dir) =>
    val key = sourceKey(dir, "lineitem")
    val orcP = s"${System.getProperty("java.io.tmpdir")}/graft_orc_li_$key"
    // zlib, not the zstd default: ORC's zstd needs a native codec absent
    // from this runtime (write succeeds, read fails) — and _SUCCESS-gate
    // the layout so a torn write is rewritten, not trusted
    if (!new java.io.File(s"$orcP/_SUCCESS").exists())
      T(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_quantity"), col("l_shipdate"))
        .write.mode("overwrite").option("compression", "zlib").orc(orcP)
    roundTripAgg(spark.read.schema(liTextSchema).orc(orcP))
  }

  val all: Seq[Q] = Seq(q26SaltedJoin, q63PartitionPrunedScan,
    q64BucketedJoin, q65RangeJoin, q66RuntimeFilter, q67RangeLayout,
    q68ZOrderLayout, q69IntervalJoin, x100IncrementalAgg, q72UpsertMerge,
    q90CsvRoundtrip, q91JsonRoundtrip, q93OrcRoundtrip)
}
