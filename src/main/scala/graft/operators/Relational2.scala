package graft.operators

import org.apache.spark.sql.functions._
import Ckpt.Reuse
import org.apache.spark.sql.expressions.Window
import Num._

/** Part-B completion set: outer joins, GROUPING SETS, array functions over
  * deterministic collected lists, RANGE window frames, approximate
  * distinct. */
object Relational2 {

  /** Left outer join with null-producing right side. */
  val q21LeftJoin = Q(
    "q21_left_join",
    """SELECT n_nationkey, n_name, COALESCE(s.cnt, 0) AS n_suppliers
       FROM nation LEFT JOIN
         (SELECT s_nationkey, COUNT(*) AS cnt FROM supplier GROUP BY 1) s
       ON n_nationkey = s.s_nationkey
       ORDER BY n_nationkey""") { (spark, dir) =>
    val n = T(spark, dir, "nation")
    val s = T(spark, dir, "supplier").groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("cnt"))
    n.join(s, col("n_nationkey") === col("s_nationkey"), "left")
      .select(col("n_nationkey"), col("n_name"),
        coalesce(col("cnt"), lit(0L)).as("n_suppliers"))
      .orderBy("n_nationkey")
  }

  /** Explicit GROUPING SETS (beyond rollup/cube). */
  val q22GroupingSets = Q(
    "q22_grouping_sets",
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE) AS qty
       FROM lineitem
       GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
       ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""") { (spark, dir) =>
    // Spark dialect: the direct decimal→double cast here IS correctly
    // rounded (BigDecimal.doubleValue); the VARCHAR mediation is an
    // oracle-side (DuckDB) fix only — Spark SQL also rejects bare VARCHAR
    Views.sql(spark, "lineitem_gs" -> T(spark, dir, "lineitem"))(
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(12,4))) AS DOUBLE) AS qty
         FROM lineitem_gs
         GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
         ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""")
  }

  /** Array functions over a deterministic collected list: sort_array +
    * transform/filter/aggregate/slice on real grouped data. Array-valued
    * results are surfaced via [[Csv]] (driver hash-safety); the raw-array
    * forms are spec-covered. */
  val q23ArrayFns = Q(
    "q23_array_fns",
    s"""SELECT l_orderkey,
       ${Csv.duck("list_sort(list(l_linenumber))")} AS lines,
       len(list_sort(list(l_linenumber))) AS n_lines,
       ${Csv.duck("list_transform(list_sort(list(l_linenumber)), x -> x * 10)")} AS lines_x10,
       len(list_filter(list_sort(list(l_linenumber)), x -> x % 2 = 0)) AS n_even,
       list_reduce(list_prepend(CAST(0 AS BIGINT),
         list_transform(list_sort(list(l_linenumber)), x -> CAST(x AS BIGINT))),
         (a, x) -> a + x) AS line_sum,
       (list_sort(list(l_linenumber)))[1] AS first_line
       FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""") { (spark, dir) =>
    T(spark, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(col("l_linenumber"))).as("lines"))
      .selectExpr(
        "l_orderkey",
        s"${Csv.spark("lines")} as lines",
        "cast(size(lines) as bigint) as n_lines",
        s"${Csv.spark("transform(lines, x -> x * 10)")} as lines_x10",
        "cast(size(filter(lines, x -> x % 2 = 0)) as bigint) as n_even",
        "aggregate(transform(lines, x -> cast(x as bigint)), cast(0 as bigint), (a, x) -> a + x) as line_sum",
        "lines[0] as first_line")
      .orderBy("l_orderkey")
  }

  /** RANGE window frame (value-based, not row-based): revenue of orders
    * within ±2 days of each order, per customer. */
  val q24RangeFrame = Q(
    "q24_range_frame",
    """SELECT o_custkey, o_orderkey,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4)))
            OVER (PARTITION BY o_custkey ORDER BY CAST(epoch_ns(o_orderdate) // 86400000000000 AS BIGINT)
                  RANGE BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS VARCHAR) AS DOUBLE) AS nearby_rev
       FROM orders
       ORDER BY o_custkey, o_orderkey""") { (spark, dir) =>
    val day = expr("cast(unix_timestamp(o_orderdate) div 86400 as bigint)")
    val w = Window.partitionBy(col("o_custkey")).orderBy(day)
      .rangeBetween(-2, 2)
    T(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        sum(dec(col("o_totalprice"))).over(w).cast("double").as("nearby_rev"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Approximate distinct (HLL++). The sketch estimate itself is
    * engine-specific (not comparable value-for-value across engines), so
    * the driver-facing output carries the exact counts plus the
    * deterministic `within_5pct` verdict of the estimate — the oracle
    * asserts the accuracy contract holds; the raw estimate and rel-error
    * stay spec-pinned (RelationalSpec). */
  val q25ApproxDistinct = Q(
    "q25_approx_distinct",
    """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact_parts,
       TRUE AS within_5pct
       FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""") { (spark, dir) =>
    T(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_partkey")).as("approx_parts"),
        countDistinct(col("l_partkey")).as("exact_parts"))
      .select(col("l_returnflag"), col("exact_parts"),
        (abs(col("approx_parts") - col("exact_parts")).cast("double") /
          col("exact_parts") <= 0.05).as("within_5pct"))
      .orderBy("l_returnflag")
  }

  /** MinHash signatures as a per-document expression pipeline (the same
    * array math as d28: hash each shingle once, take 12 permuted mins —
    * no explode, no per-shingle-row aggregation state). The mergeable
    * typed-Aggregator form ([[graft.functions.MinHashAgg]]) is kept for
    * streaming/incremental use and its spec pins agreement with this
    * formula; the registered query uses the expression path because the
    * explode+UDAF shape pays per-shingle-row serialization of the
    * Array[Long] buffer (~6x slower at sf0.1) for no benefit in batch. */
  val d32MinhashAgg = Q(
    "d32_minhash_agg",
    s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        sh AS (SELECT doc_id,
               CASE WHEN len(t) >= 3 THEN list_distinct(list_transform(
                      range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
                    ELSE []::VARCHAR[] END AS s FROM tok),
        sh2 AS (SELECT doc_id, list_transform(s, x -> ${H.d("x")}) AS th FROM sh)
        SELECT doc_id, ${Csv.duck(s"(${Dedup.sigDuck})")} AS sig
        FROM sh2 WHERE len(th) > 0 ORDER BY doc_id""") { (spark, dir) =>
    // th comes from the JVM shingle-hash kernel — a plan-level barrier, so
    // the 12 permutations of sigSpark read the materialized array instead
    // of re-inlining the md5 transform 12x (projection collapse did exactly
    // that to the expression form: 27 s -> ~2 s at sf0.1)
    Dedup.shingleHashes(spark, dir)
      .filter("size(th) > 0")
      .selectExpr("doc_id", s"${Csv.spark(s"(${Dedup.sigSpark})")} as sig")
      .orderBy("doc_id")
  }

  /** Pivot (long → wide): per-returnflag quantity split into one column
    * per linestatus. Pivot values are EXPLICIT (`Seq("F","O")`) — the
    * two-argument form runs a driver-side distinct scan to discover them,
    * an extra pass over the fact table that a 100 TB job must not pay.
    * Catalyst rewrites explicit-value pivot into a single partial+final
    * aggregate of `sum(CASE WHEN ...)` — one shuffle, no joins; the
    * oracle states that rewrite directly. Sums follow the Num decimal
    * convention; an absent (flag, status) combination is NULL on both
    * engines. */
  val q28Pivot = Q(
    "q28_pivot",
    """SELECT l_returnflag,
       CAST(CAST(SUM(CASE WHEN l_linestatus = 'F'
                     THEN CAST(l_quantity AS DECIMAL(12,4)) END) AS VARCHAR) AS DOUBLE) AS qty_f,
       CAST(CAST(SUM(CASE WHEN l_linestatus = 'O'
                     THEN CAST(l_quantity AS DECIMAL(12,4)) END) AS VARCHAR) AS DOUBLE) AS qty_o
       FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""") { (spark, dir) =>
    T(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(Num.dsum(col("l_quantity")))
      .select(col("l_returnflag"), col("F").as("qty_f"), col("O").as("qty_o"))
      .orderBy("l_returnflag")
  }

  /** Unpivot/melt (wide → long): per-segment customer metrics melted into
    * (segment, metric, value) rows via the native `Dataset.unpivot`
    * operator (Expand under the hood — map-side row replication, no
    * shuffle beyond the feeding aggregate). Metrics share one double
    * type, as unpivot requires; the oracle is the portable UNION ALL
    * statement of the same melt. */
  val q29Unpivot = Q(
    "q29_unpivot",
    """WITH a AS (SELECT c_mktsegment, CAST(COUNT(*) AS DOUBLE) AS n_customers,
                  CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE) AS total_acctbal
                  FROM customer GROUP BY c_mktsegment)
       SELECT c_mktsegment, 'n_customers' AS metric, n_customers AS value FROM a
       UNION ALL
       SELECT c_mktsegment, 'total_acctbal' AS metric, total_acctbal AS value FROM a
       ORDER BY c_mktsegment, metric""") { (spark, dir) =>
    T(spark, dir, "customer")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).cast("double").as("n_customers"),
        Num.dsum(col("c_acctbal")).as("total_acctbal"))
      .unpivot(Array(col("c_mktsegment")),
        Array(col("n_customers"), col("total_acctbal")), "metric", "value")
      .orderBy("c_mktsegment", "metric")
  }

  /** Distribution window functions — quartile bucketing (ntile) and the
    * two normalized ranks. The window order is (acctbal, custkey):
    * UNIQUE, so rank == row_number and both percent_rank ((r-1)/(n-1))
    * and cume_dist (r/n) are integer-derived double divisions — the two
    * engines agree bit-for-bit. An order with ties would be
    * nondeterministic in ntile on BOTH engines (tied rows land in
    * arbitrary tiles), which is why the tiebreaker is part of the
    * operator, not a test convenience. */
  val q58Ntile = Q(
    "q58_ntile",
    """SELECT c_mktsegment, c_custkey, c_acctbal,
       CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
       PERCENT_RANK() OVER w AS pr,
       CUME_DIST() OVER w AS cd
       FROM customer
       WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
       ORDER BY c_mktsegment, c_acctbal, c_custkey""") { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal"), col("c_custkey"))
    T(spark, dir, "customer")
      .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
        ntile(4).over(w).cast("long").as("quartile"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"))
      .orderBy("c_mktsegment", "c_acctbal", "c_custkey")
  }

  /** Map-typed scalar functions over real grouped data: per order, the
    * linenumber→quantity map (map_from_entries over SORTED entries —
    * collect_list order is nondeterministic, and map_from_entries throws
    * on duplicate keys, so entries are pre-aggregated per (order, line)),
    * then size / map_keys / element_at lookups. The oracle states the
    * same VALUES relationally — MapType is a Spark-side capability;
    * what must agree cross-engine is the semantics, and only
    * integer-keyed projections are stringified (double→string rendering
    * differs between engines). */
  val q59MapFns = Q(
    "q59_map_fns",
    """WITH per AS (SELECT l_orderkey, l_linenumber AS k,
                    CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE) AS v
                    FROM lineitem GROUP BY 1, 2)
       SELECT l_orderkey,
              COUNT(*) AS n_lines,
              array_to_string(list_sort(list(k)), ',') AS keys_csv,
              MAX(CASE WHEN k = 1 THEN v END) AS qty_line1,
              CAST(MAX(CASE WHEN k = 7 THEN 1 ELSE 0 END) AS BOOLEAN) AS has_line7
       FROM per GROUP BY l_orderkey ORDER BY l_orderkey""") { (spark, dir) =>
    val per = T(spark, dir, "lineitem")
      .groupBy(col("l_orderkey"), col("l_linenumber").as("k"))
      .agg(dsum(col("l_quantity")).as("v"))
    per.groupBy("l_orderkey")
      .agg(map_from_entries(array_sort(
        collect_list(struct(col("k"), col("v"))))).as("m"))
      .select(col("l_orderkey"),
        size(col("m")).cast("long").as("n_lines"),
        array_join(expr("transform(array_sort(map_keys(m)), x -> cast(x as string))"), ",")
          .as("keys_csv"),
        element_at(col("m"), 1).as("qty_line1"),
        element_at(col("m"), 7).isNotNull.as("has_line7"))
      .orderBy("l_orderkey")
  }

  /** Ranking with ties — rank() (gapped) and dense_rank() (gapless) over
    * REAL ties: orders ranked by order month within priority, where many
    * orders share a month. Ties are the point: rank/dense_rank assign the
    * same value to every tied row (deterministic regardless of row order
    * within the tie), while row_number — which must be fully tie-broken
    * (ym, o_orderkey) to be deterministic — differs from rank on every
    * tied row, making the three functions' divergence part of the checked
    * values. Completes the SURVEY §2 window-function row. */
  val q61RankDenseRank = Q(
    "q61_rank_dense_rank",
    """WITH o AS (SELECT o_orderkey, o_orderpriority,
                  CAST(strftime(o_orderdate, '%Y%m') AS BIGINT) AS ym FROM orders)
       SELECT o_orderkey, o_orderpriority, ym,
              CAST(RANK() OVER w AS BIGINT) AS rnk,
              CAST(DENSE_RANK() OVER w AS BIGINT) AS drnk,
              CAST(ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                      ORDER BY ym, o_orderkey) AS BIGINT) AS rn
       FROM o WINDOW w AS (PARTITION BY o_orderpriority ORDER BY ym)
       ORDER BY o_orderkey""") { (spark, dir) =>
    val wTies = Window.partitionBy(col("o_orderpriority")).orderBy(col("ym"))
    val wFull = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("ym"), col("o_orderkey"))
    T(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"),
        date_format(col("o_orderdate"), "yyyyMM").cast("long").as("ym"))
      .select(col("o_orderkey"), col("o_orderpriority"), col("ym"),
        rank().over(wTies).cast("long").as("rnk"),
        dense_rank().over(wTies).cast("long").as("drnk"),
        row_number().over(wFull).cast("long").as("rn"))
      .orderBy("o_orderkey")
  }

  /** Correlated scalar subquery — orders above their own customer's
    * average order value. Written as a subquery on BOTH engines: on the
    * Spark side this exercises Catalyst's decorrelation
    * (RewriteCorrelatedScalarSubquery turns the per-row subquery into
    * one aggregate + join — plan-gated: no per-row re-execution
    * survives). The average follows the exact-decimal convention
    * (decimal sum → correctly-rounded double → / count) so the filter
    * boundary is bit-identical across engines; Spark spells the
    * string type STRING where DuckDB spells it VARCHAR. */
  val q60CorrelatedSubquery = Q(
    "q60_correlated_subquery",
    """SELECT o_orderkey, o_custkey, o_totalprice
       FROM orders o
       WHERE o_totalprice >
         (SELECT CAST(CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE)
                 / COUNT(*)
          FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
       ORDER BY o_orderkey""") { (spark, dir) =>
    Views.sql(spark, "orders_cs" -> T(spark, dir, "orders"))(
      """SELECT o_orderkey, o_custkey, o_totalprice
         FROM orders_cs o
         WHERE o_totalprice >
           (SELECT CAST(CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(12,4))) AS STRING) AS DOUBLE)
                   / COUNT(*)
            FROM orders_cs o2 WHERE o2.o_custkey = o.o_custkey)
         ORDER BY o_orderkey""")
  }

  /** q74: statistical aggregate pack — variance, stddev, covariance,
    * Pearson correlation per group, computed EXACTLY cross-engine. The
    * built-in `var_pop`/`corr` stream doubles in engine-specific order
    * (Welford-style updates), so their results differ between Spark and
    * DuckDB in the last ulps — unhashable. Instead the moments are exact
    * DECIMAL sums (n, Σx, Σy, Σx², Σy², Σxy — order-independent like
    * every `Num.dsum`), each cast to double (correctly rounded on both
    * engines, the VARCHAR route on DuckDB per the [[Num]] trap note),
    * and the statistics derive from those six doubles via the IDENTICAL
    * expression tree on both sides — every step a correctly-rounded
    * IEEE op on identical inputs, so the outputs are bit-equal.
    *
    * Scale: this is the textbook mergeable-moments shape — one pass,
    * map-side partial sums, six numbers per group crossing the shuffle;
    * the same six partials power any incremental/streaming variant
    * (x100's pattern). */
  val q74StatMoments = Q(
    "q74_stat_moments", {
      def d2d(x: String) = s"CAST(CAST($x AS VARCHAR) AS DOUBLE)"
      s"""WITH m AS (SELECT l_returnflag, COUNT(*) AS n,
             ${d2d("SUM(CAST(l_quantity AS DECIMAL(12,4)))")} AS sx,
             ${d2d("SUM(CAST(l_extendedprice AS DECIMAL(12,4)))")} AS sy,
             -- DECIMAL(19,4) operands force DuckDB's int128 multiply path
             -- (a 12,4×12,4 product overflows its int64 plan); the values
             -- are the same rationals the Spark side sums at (12,4)×(12,4)
             ${d2d("SUM(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_quantity AS DECIMAL(19,4)))")} AS sxx,
             ${d2d("SUM(CAST(l_extendedprice AS DECIMAL(19,4)) * CAST(l_extendedprice AS DECIMAL(19,4)))")} AS syy,
             ${d2d("SUM(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_extendedprice AS DECIMAL(19,4)))")} AS sxy
             FROM lineitem GROUP BY l_returnflag),
          s AS (SELECT l_returnflag, n,
                       CAST(n AS DOUBLE) AS nd, sx, sy, sxx, syy, sxy FROM m)
          SELECT l_returnflag, n,
                 sx / nd AS mean_qty,
                 sxx / nd - (sx / nd) * (sx / nd) AS var_qty,
                 sqrt(sxx / nd - (sx / nd) * (sx / nd)) AS std_qty,
                 sy / nd AS mean_price,
                 sxy / nd - (sx / nd) * (sy / nd) AS covar_qp,
                 (sxy / nd - (sx / nd) * (sy / nd))
                   / (sqrt(sxx / nd - (sx / nd) * (sx / nd))
                      * sqrt(syy / nd - (sy / nd) * (sy / nd))) AS corr_qp
          FROM s ORDER BY l_returnflag"""
    }) { (spark, dir) =>
    val x = dec(col("l_quantity"))
    val y = dec(col("l_extendedprice"))
    T(spark, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(x).cast("double").as("sx"), sum(y).cast("double").as("sy"),
        sum(x * x).cast("double").as("sxx"), sum(y * y).cast("double").as("syy"),
        sum(x * y).cast("double").as("sxy"))
      .withColumn("nd", col("n").cast("double"))
      .select(col("l_returnflag"), col("n"),
        (col("sx") / col("nd")).as("mean_qty"),
        (col("sxx") / col("nd") - (col("sx") / col("nd")) * (col("sx") / col("nd")))
          .as("var_qty"),
        sqrt(col("sxx") / col("nd")
          - (col("sx") / col("nd")) * (col("sx") / col("nd"))).as("std_qty"),
        (col("sy") / col("nd")).as("mean_price"),
        (col("sxy") / col("nd") - (col("sx") / col("nd")) * (col("sy") / col("nd")))
          .as("covar_qp"),
        ((col("sxy") / col("nd") - (col("sx") / col("nd")) * (col("sy") / col("nd")))
          / (sqrt(col("sxx") / col("nd")
              - (col("sx") / col("nd")) * (col("sx") / col("nd")))
            * sqrt(col("syy") / col("nd")
              - (col("sy") / col("nd")) * (col("sy") / col("nd"))))).as("corr_qp"))
      .orderBy("l_returnflag")
  }

  /** q75: multiset set operations — INTERSECT ALL / EXCEPT ALL, the
    * duplicate-preserving tier q10's DISTINCT set ops don't cover
    * (multiplicities: min for intersect, difference for except). Spark's
    * `intersectAll`/`exceptAll` plan as aggregate+join on (value,
    * count) — one shuffle each, partials absorb duplicates map-side, no
    * row-level anti-join blowup. */
  val q75MultisetOps = Q(
    "q75_multiset_ops",
    """SELECT 'except_all' AS tag, k FROM
         (SELECT c_nationkey AS k FROM customer
          EXCEPT ALL SELECT s_nationkey FROM supplier)
       UNION ALL
       SELECT 'inter_all' AS tag, k FROM
         (SELECT c_nationkey AS k FROM customer
          INTERSECT ALL SELECT s_nationkey FROM supplier)
       ORDER BY tag, k""") { (spark, dir) =>
    val ck = T(spark, dir, "customer").select(col("c_nationkey").as("k"))
    val sk = T(spark, dir, "supplier").select(col("s_nationkey").as("k"))
    val exceptA = ck.exceptAll(sk).select(lit("except_all").as("tag"), col("k"))
    val interA = ck.intersectAll(sk).select(lit("inter_all").as("tag"), col("k"))
    exceptA.unionByName(interA).orderBy(col("tag"), col("k"))
  }

  /** q76: percent-of-total (ratio_to_report) — each nation's share of its
    * region's order revenue, plus the within-region revenue rank. The
    * share is derived from EXACT decimal totals (order-independent sums;
    * the window SUM over decimals is exact too), each cast to double
    * correctly rounded on both engines (VARCHAR route on DuckDB per the
    * [[Num]] trap), then ONE division — bit-equal cross-engine.
    *
    * Scale: the windows run over the AGGREGATED per-nation rows (25
    * rows), never the fact stream — aggregate-then-window is the
    * ratio-to-report shape at any scale; the orders⋈customer join is the
    * only fact-sized work. */
  val q76ShareOfTotal = Q(
    "q76_share_of_total",
    """WITH nt AS (SELECT c_nationkey AS nk,
                          SUM(CAST(o_totalprice AS DECIMAL(12,4))) AS t
                   FROM orders JOIN customer ON o_custkey = c_custkey
                   GROUP BY 1),
       j AS (SELECT n_regionkey AS rk, n_name, nk, t
             FROM nt JOIN nation ON nk = n_nationkey),
       w AS (SELECT rk, n_name, nk,
                    CAST(CAST(t AS VARCHAR) AS DOUBLE) AS nation_total,
                    CAST(CAST(SUM(t) OVER (PARTITION BY rk) AS VARCHAR) AS DOUBLE)
                      AS region_total,
                    ROW_NUMBER() OVER (PARTITION BY rk ORDER BY t DESC, nk) AS rnk
             FROM j)
       SELECT rk, nk, n_name, nation_total, region_total,
              nation_total / region_total AS share,
              CAST(rnk AS BIGINT) AS rnk
       FROM w ORDER BY rk, rnk""") { (spark, dir) =>
    val nt = T(spark, dir, "orders")
      .join(T(spark, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nk"))
      .agg(sum(dec(col("o_totalprice"))).as("t"))
    val j = nt.join(T(spark, dir, "nation"), col("nk") === col("n_nationkey"))
      .select(col("n_regionkey").as("rk"), col("n_name"), col("nk"), col("t"))
    val byRegion = Window.partitionBy(col("rk"))
    val w = j
      .withColumn("nation_total", col("t").cast("double"))
      .withColumn("region_total", sum(col("t")).over(byRegion).cast("double"))
      .withColumn("rnk",
        row_number().over(byRegion.orderBy(col("t").desc, col("nk"))).cast("long"))
    w.select(col("rk"), col("nk"), col("n_name"), col("nation_total"),
        col("region_total"),
        (col("nation_total") / col("region_total")).as("share"), col("rnk"))
      .orderBy("rk", "rnk")
  }

  /** The (flag, cents, cnt) lineitem price histogram of q81/q83/q85 —
    * the ONE row-level pass each robust-statistics entry needs. Each
    * call scans lineitem once and checkpoints the cells, so an entry's
    * later stages read cells, never rows, and no entry shares state with
    * another; cells are bounded by the VALUE DOMAIN (distinct cents per
    * flag), so holding them is a cells-sized cost at any corpus size. */
  private def centsHist(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    T(spark, dir, "lineitem")
      .selectExpr("l_returnflag as flag",
        "cast(cast(l_extendedprice as decimal(12,4)) * 100 as bigint) as c")
      .groupBy("flag", "c").agg(count(lit(1)).as("cnt")).ckpt

  /** Winsorized robust aggregation: per return flag, clamp
    * l_extendedprice to its exact nearest-rank p05/p95 and report the
    * winsorized mean plus clamp counts — the outlier-robust statistics
    * layer (quality-score floors/ceilings, loss-spike trimming, price
    * sanity bounds) every large pipeline needs before averaging.
    *
    * Exact quantiles AT SCALE via the value histogram, not a sort: prices
    * quantize losslessly to integer CENTS (via DECIMAL — a double *100
    * would round across the cent boundary), and the (flag, cents)
    * histogram is bounded by the VALUE DOMAIN (~10^7 cells for any
    * realistic price range), not by the corpus — at 100 TB the groupBy
    * absorbs rows into domain-bounded cells map-side, and the per-flag
    * cumulative window runs over cells only. (If the domain itself ever
    * grows past single-task comfort, the cum-sum takes x99's two-phase
    * bucket shape; the scaladoc there is the recipe.) Thresholds are
    * nearest-rank (⌈q·n⌉ via integer arithmetic — interpolated
    * percentile_cont would hand both engines a last-ulp coin flip):
    * always REAL data values, so the clamped sum stays pure-integer
    * cents; the only doubles are final correctly-rounded casts/divides.
    * The clamp join broadcasts 3 threshold rows. */
  val q81WinsorizedAgg = Q(
    "q81_winsorized_agg",
    """WITH li AS (SELECT l_returnflag AS flag,
                CAST(CAST(l_extendedprice AS DECIMAL(12,4)) * 100 AS BIGINT) AS c
                  FROM lineitem),
       h AS (SELECT flag, c, COUNT(*) AS cnt FROM li GROUP BY 1, 2),
       w AS (SELECT flag, c, cnt,
                    SUM(cnt) OVER (PARTITION BY flag ORDER BY c) AS cum,
                    SUM(cnt) OVER (PARTITION BY flag) AS n
             FROM h),
       thr AS (SELECT flag,
                      MIN(CASE WHEN cum >= ((n * 5) + 99) // 100 THEN c END) AS lo,
                      MIN(CASE WHEN cum >= ((n * 95) + 99) // 100 THEN c END) AS hi
               FROM w GROUP BY flag),
       cl AS (SELECT li.flag, lo, hi,
                     CASE WHEN c < lo THEN lo WHEN c > hi THEN hi ELSE c END AS cw,
                     CASE WHEN c < lo THEN 1 ELSE 0 END AS is_lo,
                     CASE WHEN c > hi THEN 1 ELSE 0 END AS is_hi
              FROM li JOIN thr ON li.flag = thr.flag)
       SELECT flag AS l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_rows,
              CAST(SUM(cw) AS DOUBLE) / COUNT(*) / 100.0 AS wmean,
              CAST(SUM(is_lo) AS BIGINT) AS n_clamped_lo,
              CAST(SUM(is_hi) AS BIGINT) AS n_clamped_hi,
              CAST(lo AS DOUBLE) / 100.0 AS p05,
              CAST(hi AS DOUBLE) / 100.0 AS p95
       FROM cl GROUP BY flag, lo, hi ORDER BY l_returnflag""") { (spark, dir) =>
    // ONE row-level pass (the checkpointed histogram); thresholds AND the
    // clamped sums both derive from the cells — clamp(c)·cnt summed over
    // cells equals the row-level clamped sum exactly, so the corpus is
    // never rescanned for the clamp (the oracle's row-level form is the
    // same multiset, just unweighted)
    val h = centsHist(spark, dir)
    val thr = histCum(h).groupBy("flag").agg(
      min(when(col("cum") >= expr("((n * 5) + 99) div 100"), col("c"))).as("lo"),
      min(when(col("cum") >= expr("((n * 95) + 99) div 100"), col("c"))).as("hi"))
    h.join(broadcast(thr), "flag")
      .select(col("flag"), col("lo"), col("hi"), col("cnt"),
        (when(col("c") < col("lo"), col("lo"))
          .when(col("c") > col("hi"), col("hi")).otherwise(col("c"))
          * col("cnt")).as("cw"),
        when(col("c") < col("lo"), col("cnt")).otherwise(lit(0L)).as("is_lo"),
        when(col("c") > col("hi"), col("cnt")).otherwise(lit(0L)).as("is_hi"))
      .groupBy("flag", "lo", "hi")
      .agg(sum(col("cnt")).as("n_rows"),
        sum(col("cw")).as("sum_cw"), sum(col("is_lo")).as("n_clamped_lo"),
        sum(col("is_hi")).as("n_clamped_hi"))
      .select(col("flag").as("l_returnflag"), col("n_rows"),
        (col("sum_cw").cast("double") / col("n_rows") / lit(100.0)).as("wmean"),
        col("n_clamped_lo"), col("n_clamped_hi"),
        (col("lo").cast("double") / lit(100.0)).as("p05"),
        (col("hi").cast("double") / lit(100.0)).as("p95"))
      .orderBy("l_returnflag")
  }

  /** Histogram-bucket width for [[histCum]]: 2^16 cents per range bucket
    * keeps any realistic price domain under a few hundred buckets while
    * bounding every within-bucket window at 65536 cells. */
  private val HistBucketW = 65536L

  /** Adds exact cumulative counts (`cum`) and per-flag totals (`n`) to a
    * PRE-COUNTED (flag, c, cnt) value histogram — BUCKET-PARALLEL, the
    * x99 two-phase shape: cells range-bucket by `c div 2^16`, each
    * bucket's running sum is a bounded sorted run, and the per-bucket
    * offsets (B tiny rows per flag) close the prefix. No task ever
    * sorts a whole flag's cell domain, so the quantile machinery
    * survives a domain 100× wider unchanged. */
  private[operators] def histCum(h: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val byFlagB = Window.partitionBy(col("flag"), col("b"))
    val byFlag = Window.partitionBy(col("flag"))
    val hb = h.withColumn("b", expr(s"c div $HistBucketW"))
    // offsets: exclusive prefix of bucket totals — B rows per flag, the
    // partitionBy(flag) windows only ever see bucket counts
    val off = hb.groupBy("flag", "b").agg(sum(col("cnt")).as("bcnt"))
      .withColumn("off", coalesce(sum(col("bcnt")).over(
        byFlag.orderBy(col("b")).rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("n", sum(col("bcnt")).over(byFlag))
      .select("flag", "b", "off", "n")
    hb.withColumn("cumIn", sum(col("cnt")).over(byFlagB.orderBy(col("c"))))
      .join(broadcast(off), Seq("flag", "b"))
      .withColumn("cum", col("off") + col("cumIn"))
  }

  /** q83: robust outlier detection via median absolute deviation — per
    * return flag, the exact nearest-rank MEDIAN price, the exact median
    * of absolute deviations from it (MAD), and how many rows sit beyond
    * 3×MAD — the outlier-flagging rule that survives the outliers it
    * hunts (a mean/stddev rule gets dragged by the very tail it should
    * flag; quality-score spikes, price glitches, loss blowups all get
    * the MAD treatment).
    *
    * Both quantiles are q81's domain-bounded integer-cents histogram
    * machinery ([[histCum]]) — the deviation histogram is domain-bounded too (devs
    * live in the same cents range). Everything through the 3×MAD
    * comparison is bigint; the only doubles are the final threshold
    * casts. Thresholds broadcast (3 rows) into a map-side flag +
    * partial-aggregated count. */
  val q83MadOutliers = Q(
    "q83_mad_outliers",
    """WITH li AS (SELECT l_returnflag AS flag,
                CAST(CAST(l_extendedprice AS DECIMAL(12,4)) * 100 AS BIGINT) AS c
                  FROM lineitem),
       h1 AS (SELECT flag, c, COUNT(*) AS cnt FROM li GROUP BY 1, 2),
       w1 AS (SELECT flag, c,
                     SUM(cnt) OVER (PARTITION BY flag ORDER BY c) AS cum,
                     SUM(cnt) OVER (PARTITION BY flag) AS n
              FROM h1),
       med AS (SELECT flag,
                      MIN(CASE WHEN cum >= ((n * 50) + 99) // 100 THEN c END) AS med
               FROM w1 GROUP BY flag),
       dv AS (SELECT li.flag, ABS(c - med) AS dev, med
              FROM li JOIN med ON li.flag = med.flag),
       h2 AS (SELECT flag, dev, COUNT(*) AS cnt FROM dv GROUP BY 1, 2),
       w2 AS (SELECT flag, dev,
                     SUM(cnt) OVER (PARTITION BY flag ORDER BY dev) AS cum,
                     SUM(cnt) OVER (PARTITION BY flag) AS n
              FROM h2),
       mad AS (SELECT flag,
                      MIN(CASE WHEN cum >= ((n * 50) + 99) // 100 THEN dev END) AS mad
               FROM w2 GROUP BY flag)
       SELECT dv.flag AS l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_rows,
              CAST(med AS DOUBLE) / 100.0 AS median_price,
              CAST(mad AS DOUBLE) / 100.0 AS mad_price,
              CAST(SUM(CASE WHEN dev > 3 * mad THEN 1 ELSE 0 END) AS BIGINT)
                AS n_outliers,
              CAST(SUM(CASE WHEN dev > 3 * mad THEN 1 ELSE 0 END)
                     * 1000000 // COUNT(*) AS BIGINT)
                AS outlier_ppm
       FROM dv JOIN mad ON dv.flag = mad.flag
       GROUP BY dv.flag, med, mad ORDER BY l_returnflag""") { (spark, dir) =>
    // ONE row-level pass: the deviation histogram and the outlier counts
    // both derive from the price CELLS (|c−med| with the cell's count),
    // never from a second corpus scan — the same multiset the oracle's
    // row-level dv computes, pre-aggregated.
    //
    // r13 fuse: the price-axis cum runs ONCE (checkpointed cells-sized
    // frame feeding both the median and the fold), and the deviation cells are
    // the FOLDED price cells directly — no groupBy(flag, dev) regroup.
    // [[histCum]]'s running sum uses Spark's default RANGE frame, so the
    // two price cells that share one dev value (med−d and med+d) form a
    // tie group whose cum equals the grouped histogram's cum at d, and
    // MIN(dev | cum ≥ ⌈n/2⌉) picks the identical mad; the final sums run
    // over the same multiset the grouped form aggregated.
    val h = centsHist(spark, dir)
    val cum1 = histCum(h).select("flag", "c", "cnt", "cum", "n").ckpt
    val med = cum1.groupBy("flag").agg(
      min(when(col("cum") >= expr("((n * 50) + 99) div 100"), col("c"))).as("med"))
    val fold = cum1.join(broadcast(med), "flag")
      .select(col("flag"), col("med"), abs(col("c") - col("med")).as("c"),
        col("cnt"))
    val cumd = histCum(fold).ckpt
    val mad = cumd.groupBy("flag").agg(
      min(when(col("cum") >= expr("((n * 50) + 99) div 100"), col("c"))).as("mad"))
    cumd.join(broadcast(mad), "flag")
      .groupBy("flag", "med", "mad")
      .agg(sum(col("cnt")).as("n_rows"),
        sum(when(col("c") > lit(3) * col("mad"), col("cnt")).otherwise(lit(0L)))
          .as("n_outliers"))
      .select(col("flag").as("l_returnflag"), col("n_rows"),
        (col("med").cast("double") / lit(100.0)).as("median_price"),
        (col("mad").cast("double") / lit(100.0)).as("mad_price"),
        col("n_outliers"),
        expr("n_outliers * 1000000 div n_rows").as("outlier_ppm"))
      .orderBy("l_returnflag")
  }

  /** q84: per-group z-score feature standardization — the ML-prep step
    * that rescales every feature to (x − mean)/stddev within its group
    * before training. Statistics come from EXACT decimal moments (q74's
    * contract: n, Σx, Σx² summed as decimals, each cast to double
    * correctly rounded) and the mean/var/z derivations are the IDENTICAL
    * IEEE expression tree in both dialects, so 600k output doubles match
    * bit-for-bit where a built-in stddev would stream engine-ordered.
    *
    * Shape: ONE aggregate (5 flag groups, map-side partials absorb the
    * scan) broadcast back over the fact stream — the stats join never
    * shuffles the rows, standardization is map-side. */
  val q84ZscoreNormalize = Q(
    "q84_zscore_normalize",
    """WITH st AS (SELECT l_returnflag AS flag, COUNT(*) AS n,
                CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE) AS sq,
                CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_quantity AS DECIMAL(19,4))) AS VARCHAR) AS DOUBLE) AS sqq,
                CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE) AS sp,
                CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,4)) * CAST(l_extendedprice AS DECIMAL(19,4))) AS VARCHAR) AS DOUBLE) AS spp
                FROM lineitem GROUP BY 1)
       SELECT l_orderkey, l_linenumber, l_returnflag,
              (CAST(CAST(l_quantity AS DECIMAL(12,4)) AS DOUBLE) - (sq / n))
                / sqrt(((sqq - ((sq * sq) / n)) / n)) AS z_qty,
              (CAST(CAST(l_extendedprice AS DECIMAL(12,4)) AS DOUBLE) - (sp / n))
                / sqrt(((spp - ((sp * sp) / n)) / n)) AS z_price
       FROM lineitem JOIN st ON l_returnflag = st.flag
       ORDER BY l_orderkey, l_linenumber""") { (spark, dir) =>
    val li = T(spark, dir, "lineitem")
    val st = li.groupBy(col("l_returnflag").as("flag"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("l_quantity"))).cast("double").as("sq"),
        sum(dec(col("l_quantity")) * dec(col("l_quantity"))).cast("double").as("sqq"),
        sum(dec(col("l_extendedprice"))).cast("double").as("sp"),
        sum(dec(col("l_extendedprice")) * dec(col("l_extendedprice"))).cast("double").as("spp"))
    li.join(broadcast(st), col("l_returnflag") === col("flag"))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        ((dec(col("l_quantity")).cast("double") - (col("sq") / col("n")))
          / sqrt((col("sqq") - ((col("sq") * col("sq")) / col("n"))) / col("n")))
          .as("z_qty"),
        ((dec(col("l_extendedprice")).cast("double") - (col("sp") / col("n")))
          / sqrt((col("spp") - ((col("sp") * col("sp")) / col("n"))) / col("n")))
          .as("z_price"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** q85: equi-depth histogram construction — per flag, the 9 exact
    * nearest-rank decile boundaries of l_extendedprice with the exact
    * row count at-or-below each: the optimizer-statistics / data-profile
    * artifact (equi-depth bins are what query planners and drift
    * monitors keep per column). Same domain-bounded cents histogram and
    * bucket-parallel [[histCum]] prefix as q81/q83; the 9-row decile
    * spine joins broadcast, so the whole decile table costs one
    * row-level pass + cell-level stages. All integer (boundaries are
    * real data values; the final dollars are single correctly-rounded
    * casts). */
  val q85EquidepthHist = Q(
    "q85_equidepth_hist",
    """WITH li AS (SELECT l_returnflag AS flag,
                CAST(CAST(l_extendedprice AS DECIMAL(12,4)) * 100 AS BIGINT) AS c
                  FROM lineitem),
       h AS (SELECT flag, c, COUNT(*) AS cnt FROM li GROUP BY 1, 2),
       w AS (SELECT flag, c,
                    SUM(cnt) OVER (PARTITION BY flag ORDER BY c) AS cum,
                    SUM(cnt) OVER (PARTITION BY flag) AS n
             FROM h),
       ks AS (SELECT unnest(range(1, 10)) AS k),
       d AS (SELECT flag, k,
                    MIN(CASE WHEN cum >= ((n * k * 10) + 99) // 100 THEN c END)
                      AS boundary,
                    MIN(CASE WHEN cum >= ((n * k * 10) + 99) // 100 THEN cum END)
                      AS n_at_or_below
             FROM w, ks GROUP BY flag, k)
       SELECT flag AS l_returnflag, CAST(k AS BIGINT) AS decile,
              CAST(boundary AS DOUBLE) / 100.0 AS boundary_price,
              CAST(n_at_or_below AS BIGINT) AS n_at_or_below
       FROM d ORDER BY l_returnflag, decile""") { (spark, dir) =>
    import spark.implicits._
    val h = centsHist(spark, dir)
    val ks = (1 to 9).toDF("k")
    // n_at_or_below is the cum AT the boundary cell: since the boundary
    // is min c with cum >= thresh, its cum is min cum >= thresh too
    // (cum is monotone in c) — both MINs pick the same cell
    histCum(h).crossJoin(broadcast(ks))
      .groupBy("flag", "k")
      .agg(min(when(col("cum") >= expr("((n * k * 10) + 99) div 100"),
        col("c"))).as("boundary"),
        min(when(col("cum") >= expr("((n * k * 10) + 99) div 100"),
          col("cum"))).as("n_at_or_below"))
      .select(col("flag").as("l_returnflag"), col("k").cast("long").as("decile"),
        (col("boundary").cast("double") / lit(100.0)).as("boundary_price"),
        col("n_at_or_below"))
      .orderBy("l_returnflag", "decile")
  }

  /** q88: referential-integrity audit — every FK violation class of the
    * star schema in ONE result: lineitems without their order, orders
    * without their customer, orders with no lineitems, customers with no
    * orders (the last two are inactivity signals rather than corruption,
    * and real audits report both kinds side by side). Each class is an
    * anti-join counted to a single row; at 100 TB each anti-join
    * broadcasts its smaller key side or shuffles on the key with
    * partials, and the union is 4 rows. The data-quality gate a pipeline
    * runs BEFORE joins silently drop or duplicate rows downstream.
    *
    * Oracle uses NOT EXISTS, not NOT IN: on the dirty data an RI audit
    * exists for, NOT IN collapses to 0 when ANY pk is NULL and drops
    * NULL-fk rows, while the Spark side's left_anti counts both — NOT
    * EXISTS (fk = pk) matches the anti-join exactly under NULLs (the
    * q09 precedent). */
  val q88RiAudit = Q(
    "q88_ri_audit",
    """SELECT 'lineitem_without_order' AS violation, COUNT(*) AS n
       FROM lineitem l WHERE NOT EXISTS
         (SELECT 1 FROM orders o WHERE l.l_orderkey = o.o_orderkey)
       UNION ALL
       SELECT 'order_without_customer', COUNT(*)
       FROM orders o WHERE NOT EXISTS
         (SELECT 1 FROM customer c WHERE o.o_custkey = c.c_custkey)
       UNION ALL
       SELECT 'order_without_lineitem', COUNT(*)
       FROM orders o WHERE NOT EXISTS
         (SELECT 1 FROM lineitem l WHERE o.o_orderkey = l.l_orderkey)
       UNION ALL
       SELECT 'customer_without_order', COUNT(*)
       FROM customer c WHERE NOT EXISTS
         (SELECT 1 FROM orders o WHERE c.c_custkey = o.o_custkey)
       ORDER BY violation""") { (spark, dir) =>
    val li = T(spark, dir, "lineitem")
    val o = T(spark, dir, "orders")
    val c = T(spark, dir, "customer")
    def miss(left: org.apache.spark.sql.DataFrame, lk: String,
        right: org.apache.spark.sql.DataFrame, rk: String,
        name: String): org.apache.spark.sql.DataFrame =
      left.join(right, col(lk) === col(rk), "left_anti")
        .agg(count(lit(1)).as("n"))
        .select(lit(name).as("violation"), col("n"))
    miss(li, "l_orderkey", o, "o_orderkey", "lineitem_without_order")
      .unionByName(miss(o, "o_custkey", c, "c_custkey", "order_without_customer"))
      .unionByName(miss(o, "o_orderkey", li, "l_orderkey", "order_without_lineitem"))
      .unionByName(miss(c, "c_custkey", o, "o_custkey", "customer_without_order"))
      .orderBy("violation")
  }

  /** q95: correlated LATERAL subquery — per-nation top-2 customers via
    * `, LATERAL (SELECT ... WHERE correlated ORDER BY ... LIMIT 2)`, the
    * SQL form users port from Postgres/DuckDB. The statement is
    * IDENTICAL on both engines; correctness is that Spark's lateral
    * decorrelation (DecorrelateInnerQuery — rewrites the per-row
    * subquery into a ranked join, q60's contract extended to LIMIT
    * under correlation) produces exactly the literal per-row semantics
    * DuckDB executes. Deterministic tie-break (acctbal DESC, name).
    * Scale: post-decorrelation this is the q05 per-group top-k shape —
    * one shuffle + rank, never an N×M nested loop; PlanSpec pins no
    * cartesian and a window/limit in the plan. */
  val q95LateralTopk = Q(
    "q95_lateral_topk",
    """SELECT n_name, c_name, c_acctbal FROM nation n,
       LATERAL (SELECT c_name, c_acctbal FROM customer
                WHERE c_nationkey = n.n_nationkey
                ORDER BY c_acctbal DESC, c_name LIMIT 2) l
       ORDER BY n_name, c_acctbal DESC, c_name""") { (spark, dir) =>
    Views.sql(spark, "q95_nation" -> T(spark, dir, "nation"),
      "q95_customer" -> T(spark, dir, "customer"))(
      """SELECT n_name, c_name, c_acctbal FROM q95_nation n,
         LATERAL (SELECT c_name, c_acctbal FROM q95_customer
                  WHERE c_nationkey = n.n_nationkey
                  ORDER BY c_acctbal DESC, c_name LIMIT 2) l
         ORDER BY n_name, c_acctbal DESC, c_name""")
  }

  /** q96: NULL-semantics parity battery — one oracle row pinning the
    * NULL edge rules ports break on, each as its own column over a
    * 5-row inline fixture (both dialects build the identical VALUES —
    * no table needed): aggregates skip NULLs but COUNT(*) doesn't;
    * COUNT(DISTINCT) ignores NULLs; null-safe equality (Spark `<=>`,
    * standard IS NOT DISTINCT FROM) vs `=`; NULL propagation through
    * arithmetic; COALESCE pickup; CASE's NULL-is-false arm; and
    * GREATEST/LEAST ignoring NULLs (a spot engines genuinely differ —
    * both these engines skip NULLs rather than propagate). Every result
    * is CAST to BIGINT per the oracle typing rule. */
  val q96NullSemantics = Q(
    "q96_null_semantics",
    """WITH t(k, v) AS (VALUES (1, 10), (2, NULL), (3, 30), (4, NULL), (5, 10))
       SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
              CAST(COUNT(v) AS BIGINT) AS n_nonnull,
              CAST(COUNT(DISTINCT v) AS BIGINT) AS n_distinct,
              CAST(SUM(v) AS BIGINT) AS sum_skips_nulls,
              CAST(MIN(v) AS BIGINT) AS min_skips_nulls,
              CAST(SUM(CASE WHEN v = 10 THEN 1 ELSE 0 END) AS BIGINT) AS eq_matches,
              CAST(SUM(CASE WHEN v IS NOT DISTINCT FROM NULL THEN 1 ELSE 0 END) AS BIGINT)
                AS nullsafe_null_matches,
              CAST(SUM(CASE WHEN v + 1 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                AS arith_propagates,
              CAST(SUM(COALESCE(v, 0)) AS BIGINT) AS coalesce_sum,
              CAST(SUM(CASE WHEN v > 15 THEN 1 ELSE 0 END) AS BIGINT)
                AS case_null_is_false,
              CAST(MAX(GREATEST(v, 5)) AS BIGINT) AS greatest_skips_nulls
       FROM t""") { (spark, dir) =>
    spark.sql(
      """WITH t(k, v) AS (VALUES (1, 10), (2, NULL), (3, 30), (4, NULL), (5, 10))
         SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                CAST(COUNT(v) AS BIGINT) AS n_nonnull,
                CAST(COUNT(DISTINCT v) AS BIGINT) AS n_distinct,
                CAST(SUM(v) AS BIGINT) AS sum_skips_nulls,
                CAST(MIN(v) AS BIGINT) AS min_skips_nulls,
                CAST(SUM(CASE WHEN v = 10 THEN 1 ELSE 0 END) AS BIGINT) AS eq_matches,
                CAST(SUM(CASE WHEN v <=> NULL THEN 1 ELSE 0 END) AS BIGINT)
                  AS nullsafe_null_matches,
                CAST(SUM(CASE WHEN v + 1 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                  AS arith_propagates,
                CAST(SUM(COALESCE(v, 0)) AS BIGINT) AS coalesce_sum,
                CAST(SUM(CASE WHEN v > 15 THEN 1 ELSE 0 END) AS BIGINT)
                  AS case_null_is_false,
                CAST(MAX(GREATEST(v, 5)) AS BIGINT) AS greatest_skips_nulls
         FROM t""")
  }

  /** q97: TEMPORAL-semantics parity battery — q96's companion for the
    * other classic porting breakage class, pinned on the nastiest
    * fixture date there is (2000-02-29, a leap day in a century year):
    * field extraction, day-of-week NAMING (the numeric dow conventions
    * genuinely differ across engines — DuckDB counts Sunday=0, Spark
    * Sunday=1 — so the portable form is the name, and this row pins
    * that), month-end clamping of add-months (Jan 31 + 1 month must
    * land on Feb 29), last_day, leap-aware date differences,
    * month truncation, and the epoch round trip. Everything surfaces
    * as VARCHAR/BIGINT so the driver hash compares rendered semantics,
    * not engine-internal temporal types. Both sessions run UTC. */
  val q97TemporalSemantics = Q(
    "q97_temporal_semantics",
    """SELECT
         CAST(year(DATE '2000-02-29') AS BIGINT) AS y,
         CAST(month(DATE '2000-02-29') AS BIGINT) AS mo,
         CAST(day(DATE '2000-02-29') AS BIGINT) AS d,
         dayname(DATE '2000-02-29') AS dow_name,
         CAST(last_day(DATE '2000-02-01') AS VARCHAR) AS feb_last,
         CAST(DATE '2000-01-31' + INTERVAL 1 MONTH AS DATE)::VARCHAR AS jan31_plus_month,
         CAST(date_diff('day', DATE '2000-02-28', DATE '2000-03-01') AS BIGINT) AS leap_span_days,
         CAST(CAST(date_trunc('month', TIMESTAMP '2000-02-29 13:45:10') AS TIMESTAMP) AS VARCHAR) AS month_trunc,
         CAST(epoch(TIMESTAMP '2000-02-29 00:00:00') AS BIGINT) AS epoch_s,
         CAST(to_timestamp(951782400)::TIMESTAMP AS VARCHAR) AS from_epoch""") {
    (spark, dir) =>
    spark.sql(
      """SELECT
           CAST(year(DATE '2000-02-29') AS BIGINT) AS y,
           CAST(month(DATE '2000-02-29') AS BIGINT) AS mo,
           CAST(day(DATE '2000-02-29') AS BIGINT) AS d,
           date_format(DATE '2000-02-29', 'EEEE') AS dow_name,
           CAST(last_day(DATE '2000-02-01') AS STRING) AS feb_last,
           CAST(add_months(DATE '2000-01-31', 1) AS STRING) AS jan31_plus_month,
           CAST(datediff(DATE '2000-03-01', DATE '2000-02-28') AS BIGINT) AS leap_span_days,
           CAST(date_trunc('month', TIMESTAMP '2000-02-29 13:45:10') AS STRING) AS month_trunc,
           CAST(unix_timestamp(TIMESTAMP '2000-02-29 00:00:00') AS BIGINT) AS epoch_s,
           CAST(timestamp_seconds(951782400) AS STRING) AS from_epoch""")
  }

  /** The q98 battery — ONE statement both engines parse (probed
    * identical on all nine edges): negative-start substring, partial
    * lpad fill, 1-based instr, translate, repeat, reverse, standard
    * TRIM(BOTH ... FROM ...), split_part, and instr on an overlapping
    * pattern (first match). */
  private val q98Sql =
    """SELECT substring('abcdef', -3, 2) AS sub_neg,
              lpad('x', 5, 'ab') AS lpad_fill,
              CAST(instr('hello world', 'o') AS BIGINT) AS instr_1based,
              translate('abcabc', 'ab', 'xy') AS translated,
              repeat('ab', 3) AS repeated,
              reverse('abc') AS reversed,
              trim(BOTH 'x' FROM 'xxhixx') AS trimmed_chars,
              split_part('a,b,c', ',', 2) AS split_mid,
              CAST(instr('banana', 'na') AS BIGINT) AS instr_overlap"""

  /** q98: STRING-semantics parity battery — q96/q97's companion for the
    * third breakage class. The statement is shared VERBATIM between
    * the dialects, so the oracle row pins that these nine edge
    * behaviors (negative substring origins, pad truncation, 1-based
    * search, overlapping-pattern first match, char-set trim) are
    * engine-identical — the edges a port silently shifts by one. */
  val q98StringSemantics = Q("q98_string_semantics", q98Sql) { (spark, dir) =>
    spark.sql(q98Sql)
  }

  val all: Seq[Q] = Seq(q21LeftJoin, q22GroupingSets, q23ArrayFns,
    q24RangeFrame, q25ApproxDistinct, d32MinhashAgg, q28Pivot, q29Unpivot,
    q58Ntile, q59MapFns, q60CorrelatedSubquery, q61RankDenseRank,
    q74StatMoments, q75MultisetOps, q76ShareOfTotal, q81WinsorizedAgg,
    q83MadOutliers, q84ZscoreNormalize, q85EquidepthHist, q88RiAudit,
    q95LateralTopk, q96NullSemantics, q97TemporalSemantics, q98StringSemantics)
}
