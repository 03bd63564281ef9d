package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import Ckpt.Reuse
import org.apache.spark.sql.functions._
import Num._

/** The literal TPC-H 22-query conformance suite (q31–q50 + q50b/q50c) —
  * the lingua-franca benchmark for a "Spark-native analytics engine",
  * run over the driver's TPC-H-ish tables and oracle-checked by DuckDB
  * executing the canonical SQL on the same parquet.
  *
  * The driver schema (TESTDATA.md) is TPC-H-SHAPED, not TPC-H-complete:
  * there is no `partsupp` table and no `l_commitdate` / `l_receiptdate` /
  * `l_shipmode` / `l_shipinstruct` / `p_container` / `p_mfgr` /
  * `o_comment` / `c_phone` / address columns. Every query below keeps
  * the CANONICAL STRUCTURE (the join graph, the subquery/EXISTS shape,
  * the aggregate, the top-k) and substitutes the nearest available
  * predicate where a column is missing; each substitution is documented
  * on the query. The three recurring substitutions:
  *
  *  - `partsupp` → derived from the fact table: `ps(ps_partkey,
  *    ps_suppkey)` = DISTINCT (l_partkey, l_suppkey), with
  *    `ps_supplycost` = MIN(l_extendedprice / l_quantity) per pair
  *    (Q2/Q16/Q20) or retailprice-proportional cost (Q9). IEEE division
  *    and MIN are bit-deterministic in both engines, so the derived
  *    costs hash-match.
  *  - "late delivery" (`l_receiptdate > l_commitdate`) →
  *    `l_shipdate > o_orderdate + INTERVAL 60 DAY` (Q4 uses 30) — the
  *    same shipped-late semantics expressible in this schema.
  *  - dates shifted into the populated window (orders 1995-01..2001-08;
  *    canonical windows citing 1993/1994 move to 1996/1997).
  *
  * Money math follows [[Num]]: DECIMAL(12,4) sums (order-independent →
  * stable under any partitioning), surfaced as double through the
  * VARCHAR-cast route on the oracle side. Counts and years are CAST to
  * BIGINT on both sides per the oracle typing rule ([[Q]] scaladoc).
  *
  * Scale posture (the 100 TB reading): region/nation are broadcast
  * everywhere; part/supplier/customer join via shuffle (they scale with
  * SF — only the genuinely SF-invariant dims broadcast); every
  * aggregation is a hash aggregate with map-side partials; scalar
  * subqueries (Q11's threshold, Q15's max, Q17's per-part avg, Q22's
  * avg balance) become 1-row (or per-key) frames that BROADCAST into
  * the probe — never a driver collect. Exact-decimal reformulations
  * replace correlated float division (Q17's `qty < 0.2*avg` becomes
  * `5*qty*cnt < sum` — integer/decimal exact on both engines).
  */
object TpcH {

  private def ts(s: String): Column = to_timestamp(lit(s + " 00:00:00"))
  private def bd(s: String) = lit(new java.math.BigDecimal(s))

  /** Exact-sum revenue term: DECIMAL extprice * (1 - discount). */
  private def rev: Column = dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))
  private val RevSql =
    "CAST(l_extendedprice AS DECIMAL(12,4)) * (1 - CAST(l_discount AS DECIMAL(12,4)))"
  /** Oracle-side exact decimal sum surfaced as a correctly-rounded double
    * (the VARCHAR route — see the [[Num]] trap note). */
  private def dsumSql(inner: String) =
    s"CAST(CAST(SUM($inner) AS VARCHAR) AS DOUBLE)"

  /** Q1 Pricing Summary Report — verbatim (every column exists). */
  val tpch01 = Q(
    "q31_tpch01",
    s"""SELECT l_returnflag, l_linestatus,
       ${dsumSql("CAST(l_quantity AS DECIMAL(12,4))")} AS sum_qty,
       ${dsumSql("CAST(l_extendedprice AS DECIMAL(12,4))")} AS sum_base_price,
       ${dsumSql(RevSql)} AS sum_disc_price,
       ${dsumSql(s"$RevSql * (1 + CAST(l_tax AS DECIMAL(12,4)))")} AS sum_charge,
       ${dsumSql("CAST(l_quantity AS DECIMAL(12,4))")} / COUNT(*) AS avg_qty,
       ${dsumSql("CAST(l_extendedprice AS DECIMAL(12,4))")} / COUNT(*) AS avg_price,
       ${dsumSql("CAST(l_discount AS DECIMAL(12,4))")} / COUNT(*) AS avg_disc,
       COUNT(*) AS count_order
       FROM lineitem
       WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
       GROUP BY l_returnflag, l_linestatus
       ORDER BY l_returnflag, l_linestatus""") { (spark, dir) =>
    T(spark, dir, "lineitem")
      .filter(col("l_shipdate") <= ts("1998-09-02"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        sum(rev).cast("double").as("sum_disc_price"),
        sum(rev * (lit(1) + dec(col("l_tax")))).cast("double").as("sum_charge"),
        dmean(col("l_quantity")).as("avg_qty"),
        dmean(col("l_extendedprice")).as("avg_price"),
        dmean(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** Q2 Minimum Cost Supplier. partsupp derived (header note):
    * supplycost = MIN unit price the supplier ever charged for the part.
    * `p_type LIKE '%BRASS'` → `p_type = 'PROMO'`; output keeps the
    * existing columns (p_brand stands in for p_mfgr; address/phone
    * dropped). The correlated MIN-cost subquery keeps its shape: a
    * per-part minimum over EUROPE-region suppliers joined back on
    * equality. */
  val tpch02 = Q(
    "q32_tpch02",
    """WITH ps AS (SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
                          MIN(l_extendedprice / l_quantity) AS ps_supplycost
                   FROM lineitem GROUP BY 1, 2)
       SELECT s_acctbal, s_name, n_name, p_partkey, p_brand
       FROM part, ps, supplier, nation, region
       WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey
         AND p_size = 15 AND p_type = 'PROMO'
         AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
         AND r_name = 'EUROPE'
         AND ps_supplycost = (
           SELECT MIN(ps2.ps_supplycost)
           FROM ps ps2, supplier s2, nation n2, region r2
           WHERE ps2.ps_partkey = p_partkey AND s2.s_suppkey = ps2.ps_suppkey
             AND s2.s_nationkey = n2.n_nationkey
             AND n2.n_regionkey = r2.r_regionkey AND r2.r_name = 'EUROPE')
       ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
       LIMIT 100""") { (spark, dir) =>
    val ps = T(spark, dir, "lineitem")
      .groupBy(col("l_partkey").as("ps_partkey"), col("l_suppkey").as("ps_suppkey"))
      .agg(min(col("l_extendedprice") / col("l_quantity")).as("ps_supplycost"))
    val eligible = ps
      .join(T(spark, dir, "supplier"), col("ps_suppkey") === col("s_suppkey"))
      .join(broadcast(T(spark, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(T(spark, dir, "region").filter(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      // r12: consumed by the per-part min AND the final join — without the
      // checkpoint, the lineitem-wide ps aggregation ran twice per query
      .ckpt
    val minCost = eligible.groupBy(col("ps_partkey").as("mc_partkey"))
      .agg(min(col("ps_supplycost")).as("mc_cost"))
    eligible
      .join(minCost, col("ps_partkey") === col("mc_partkey") &&
        col("ps_supplycost") === col("mc_cost"))
      .join(T(spark, dir, "part")
          .filter(col("p_size") === 15 && col("p_type") === "PROMO"),
        col("ps_partkey") === col("p_partkey"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("p_partkey"), col("p_brand"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"), col("p_partkey"))
      .limit(100)
  }

  /** Q3 Shipping Priority — verbatim minus the (missing) o_shippriority
    * output column; order date surfaces as epoch-µs BIGINT (naive-as-UTC,
    * the repo's timestamp convention) so the driver hash is dtype-exact. */
  val tpch03 = Q(
    "q33_tpch03",
    s"""SELECT l_orderkey, ${dsumSql(RevSql)} AS revenue,
       CAST(epoch_us(o_orderdate) AS BIGINT) AS o_date_us
       FROM customer, orders, lineitem
       WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
         AND l_orderkey = o_orderkey
         AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
         AND l_shipdate  > TIMESTAMP '1995-03-15 00:00:00'
       GROUP BY l_orderkey, o_orderdate
       ORDER BY revenue DESC, o_date_us, l_orderkey
       LIMIT 10""") { (spark, dir) =>
    T(spark, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      .join(T(spark, dir, "orders").filter(col("o_orderdate") < ts("1995-03-15")),
        col("c_custkey") === col("o_custkey"))
      .join(T(spark, dir, "lineitem").filter(col("l_shipdate") > ts("1995-03-15")),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("l_orderkey"),
        expr("unix_micros(cast(o_orderdate as timestamp_ltz))").as("o_date_us"))
      .agg(sum(rev).cast("double").as("revenue"))
      .select(col("l_orderkey"), col("revenue"), col("o_date_us"))
      .orderBy(col("revenue").desc, col("o_date_us"), col("l_orderkey"))
      .limit(10)
  }

  /** Q4 Order Priority Checking. "commit < receipt" → shipped >30 days
    * after order (header note); the EXISTS stays a left-semi join whose
    * condition references both sides. Window 1996-Q3. */
  val tpch04 = Q(
    "q34_tpch04",
    """SELECT o_orderpriority, COUNT(*) AS order_count
       FROM orders
       WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
         AND o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
         AND EXISTS (SELECT 1 FROM lineitem
                     WHERE l_orderkey = o_orderkey
                       AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
       GROUP BY o_orderpriority
       ORDER BY o_orderpriority""") { (spark, dir) =>
    T(spark, dir, "orders")
      .filter(col("o_orderdate") >= ts("1996-07-01") &&
        col("o_orderdate") < ts("1996-10-01"))
      .join(T(spark, dir, "lineitem"),
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAY"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  /** Q5 Local Supplier Volume — verbatim (ASIA, 1996). The
    * c_nationkey = s_nationkey "local" condition is the defining join. */
  val tpch05 = Q(
    "q35_tpch05",
    s"""SELECT n_name, ${dsumSql(RevSql)} AS revenue
       FROM customer, orders, lineitem, supplier, nation, region
       WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
         AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
         AND r_name = 'ASIA'
         AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
       GROUP BY n_name
       ORDER BY revenue DESC, n_name""") { (spark, dir) =>
    T(spark, dir, "customer")
      .join(T(spark, dir, "orders")
          .filter(col("o_orderdate") >= ts("1996-01-01") &&
            col("o_orderdate") < ts("1997-01-01")),
        col("c_custkey") === col("o_custkey"))
      .join(T(spark, dir, "lineitem"), col("l_orderkey") === col("o_orderkey"))
      .join(T(spark, dir, "supplier"),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(T(spark, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(T(spark, dir, "region").filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(sum(rev).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** Q6 Forecasting Revenue Change — verbatim, window shifted to 1996. */
  val tpch06 = Q(
    "q36_tpch06",
    """SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                           * CAST(l_discount AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE)
              AS revenue
       FROM lineitem
       WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
         AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
         AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""") { (spark, dir) =>
    T(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= ts("1996-01-01") &&
        col("l_shipdate") < ts("1997-01-01") &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(sum(dec(col("l_extendedprice")) * dec(col("l_discount")))
        .cast("double").as("revenue"))
  }

  /** Q7 Volume Shipping — verbatim with this data's nation names
    * (NATION_1 ↔ NATION_2) and the populated 1996–1997 window. */
  val tpch07 = Q(
    "q37_tpch07",
    s"""SELECT supp_nation, cust_nation, l_year, ${dsumSql("volume")} AS revenue
       FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                    CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
                    $RevSql AS volume
             FROM supplier, lineitem, orders, customer, nation n1, nation n2
             WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
               AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
               AND c_nationkey = n2.n_nationkey
               AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                 OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
               AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
               AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00') shipping
       GROUP BY supp_nation, cust_nation, l_year
       ORDER BY supp_nation, cust_nation, l_year""") { (spark, dir) =>
    val n1 = T(spark, dir, "nation")
      .select(col("n_nationkey").as("n1_key"), col("n_name").as("supp_nation"))
    val n2 = T(spark, dir, "nation")
      .select(col("n_nationkey").as("n2_key"), col("n_name").as("cust_nation"))
    T(spark, dir, "supplier")
      .join(T(spark, dir, "lineitem")
          .filter(col("l_shipdate") >= ts("1996-01-01") &&
            col("l_shipdate") < ts("1998-01-01")),
        col("s_suppkey") === col("l_suppkey"))
      .join(T(spark, dir, "orders"), col("o_orderkey") === col("l_orderkey"))
      .join(T(spark, dir, "customer"), col("c_custkey") === col("o_custkey"))
      .join(broadcast(n1), col("s_nationkey") === col("n1_key"))
      .join(broadcast(n2), col("c_nationkey") === col("n2_key"))
      .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
        (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(sum(rev).cast("double").as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  /** Q8 National Market Share — NATION_3's share of EUROPE-region PROMO
    * volume by order year ('ECONOMY ANODIZED STEEL' → 'PROMO', AMERICA →
    * EUROPE so the share nation lies inside the region). The ratio is
    * computed double/double in the identical order on both sides. */
  val tpch08 = Q(
    "q38_tpch08",
    s"""SELECT o_year,
       CAST(CAST(SUM(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END) AS VARCHAR) AS DOUBLE)
         / CAST(CAST(SUM(volume) AS VARCHAR) AS DOUBLE) AS mkt_share
       FROM (SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
                    $RevSql AS volume, n2.n_name AS nation
             FROM part, lineitem, supplier, orders, customer,
                  nation n1, nation n2, region
             WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
               AND l_orderkey = o_orderkey AND o_custkey = c_custkey
               AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
               AND r_name = 'EUROPE' AND s_nationkey = n2.n_nationkey
               AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
               AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
               AND p_type = 'PROMO') all_nations
       GROUP BY o_year ORDER BY o_year""") { (spark, dir) =>
    val n1 = T(spark, dir, "nation")
      .select(col("n_nationkey").as("n1_key"), col("n_regionkey").as("n1_rk"))
    val n2 = T(spark, dir, "nation")
      .select(col("n_nationkey").as("n2_key"), col("n_name").as("nation"))
    T(spark, dir, "part").filter(col("p_type") === "PROMO")
      .join(T(spark, dir, "lineitem"), col("p_partkey") === col("l_partkey"))
      .join(T(spark, dir, "supplier"), col("s_suppkey") === col("l_suppkey"))
      .join(T(spark, dir, "orders")
          .filter(col("o_orderdate") >= ts("1996-01-01") &&
            col("o_orderdate") < ts("1998-01-01")),
        col("l_orderkey") === col("o_orderkey"))
      .join(T(spark, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("c_nationkey") === col("n1_key"))
      .join(broadcast(T(spark, dir, "region").filter(col("r_name") === "EUROPE")),
        col("n1_rk") === col("r_regionkey"))
      .join(broadcast(n2), col("s_nationkey") === col("n2_key"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg((sum(when(col("nation") === "NATION_3", rev).otherwise(bd("0").cast(Dec)))
        .cast("double") / sum(rev).cast("double")).as("mkt_share"))
      .orderBy(col("o_year"))
  }

  /** Q9 Product Type Profit. ps_supplycost → retailprice-proportional
    * cost (p_retailprice × 0.1 per unit, exact DECIMAL — see header);
    * '%green%' → '%red%' (p_name here is "color widget" two-word names).
    * Profit = revenue − unit cost × quantity, summed per (nation, year). */
  val tpch09 = Q(
    "q39_tpch09",
    s"""SELECT nation, o_year, ${dsumSql("amount")} AS sum_profit
       FROM (SELECT n_name AS nation,
                    CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
                    $RevSql - CAST(p_retailprice AS DECIMAL(12,4))
                              * CAST(0.1 AS DECIMAL(2,1))
                              * CAST(l_quantity AS DECIMAL(12,4)) AS amount
             FROM part, supplier, lineitem, orders, nation
             WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
               AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
               AND p_name LIKE '%red%') profit
       GROUP BY nation, o_year
       ORDER BY nation, o_year DESC""") { (spark, dir) =>
    T(spark, dir, "part").filter(col("p_name").like("%red%"))
      .join(T(spark, dir, "lineitem"), col("p_partkey") === col("l_partkey"))
      .join(T(spark, dir, "supplier"), col("s_suppkey") === col("l_suppkey"))
      .join(T(spark, dir, "orders"), col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(T(spark, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(sum(rev - dec(col("p_retailprice")) * bd("0.1") * dec(col("l_quantity")))
        .cast("double").as("sum_profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  /** Q10 Returned Item Reporting — verbatim minus the missing address/
    * phone/comment output columns; window 1996-Q1, top 20. */
  val tpch10 = Q(
    "q40_tpch10",
    s"""SELECT c_custkey, c_name, ${dsumSql(RevSql)} AS revenue, c_acctbal, n_name
       FROM customer, orders, lineitem, nation
       WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
         AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
         AND l_returnflag = 'R' AND c_nationkey = n_nationkey
       GROUP BY c_custkey, c_name, c_acctbal, n_name
       ORDER BY revenue DESC, c_custkey
       LIMIT 20""") { (spark, dir) =>
    T(spark, dir, "customer")
      .join(T(spark, dir, "orders")
          .filter(col("o_orderdate") >= ts("1996-01-01") &&
            col("o_orderdate") < ts("1996-04-01")),
        col("c_custkey") === col("o_custkey"))
      .join(T(spark, dir, "lineitem").filter(col("l_returnflag") === "R"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(T(spark, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg(sum(rev).cast("double").as("revenue"))
      .select(col("c_custkey"), col("c_name"), col("revenue"),
        col("c_acctbal"), col("n_name"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** Q11 Important Stock Identification. partsupp value → per-part
    * lineitem revenue routed through NATION_7 suppliers; the
    * HAVING-above-global-fraction scalar subquery keeps its shape as an
    * exact-decimal comparison (1000·value > total, fraction 0.001) with
    * the 1-row global total BROADCAST into the probe. */
  val tpch11 = Q(
    "q41_tpch11",
    s"""WITH v AS (SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(12,4))) AS val
                  FROM lineitem, supplier, nation
                  WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
                    AND n_name = 'NATION_7'
                  GROUP BY l_partkey)
       SELECT l_partkey, CAST(CAST(val AS VARCHAR) AS DOUBLE) AS value
       FROM v WHERE 1000 * val > (SELECT SUM(val) FROM v)
       ORDER BY value DESC, l_partkey""") { (spark, dir) =>
    val v = T(spark, dir, "lineitem")
      .join(T(spark, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(T(spark, dir, "nation").filter(col("n_name") === "NATION_7")),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("l_partkey"))
      .agg(sum(dec(col("l_extendedprice"))).as("val"))
      // r12: the Σval threshold and the filter probe share one aggregation
      .ckpt
    val total = v.agg(sum(col("val")).as("total"))
    v.crossJoin(broadcast(total))
      .filter(col("val") * 1000 > col("total"))
      .select(col("l_partkey"), col("val").cast("double").as("value"))
      .orderBy(col("value").desc, col("l_partkey"))
  }

  /** Q12 Shipping Modes and Order Priority. l_shipmode → l_returnflag as
    * the line-class group key; "received late" → shipped >60 days after
    * order (header note); 1996 window on ship date. */
  val tpch12 = Q(
    "q42_tpch12",
    """SELECT l_returnflag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
       FROM orders, lineitem
       WHERE o_orderkey = l_orderkey
         AND l_shipdate > o_orderdate + INTERVAL 60 DAY
         AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
         AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
       GROUP BY l_returnflag
       ORDER BY l_returnflag""") { (spark, dir) =>
    val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    T(spark, dir, "orders")
      .join(T(spark, dir, "lineitem")
          .filter(col("l_shipdate") >= ts("1996-01-01") &&
            col("l_shipdate") < ts("1997-01-01")),
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAY"))
      .groupBy(col("l_returnflag"))
      .agg(sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(hi, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy(col("l_returnflag"))
  }

  /** Q13 Customer Distribution. The o_comment NOT LIKE exclusion →
    * o_orderpriority <> '4-NOT SPECIFIED' (an order-subset exclusion of
    * the same shape); the left-outer join + two-level aggregate is
    * verbatim. */
  val tpch13 = Q(
    "q43_tpch13",
    """SELECT c_count, COUNT(*) AS custdist
       FROM (SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
             FROM customer LEFT OUTER JOIN orders
               ON c_custkey = o_custkey AND o_orderpriority <> '4-NOT SPECIFIED'
             GROUP BY c_custkey) c_orders
       GROUP BY c_count
       ORDER BY custdist DESC, c_count DESC""") { (spark, dir) =>
    T(spark, dir, "customer")
      .join(T(spark, dir, "orders").filter(col("o_orderpriority") =!= "4-NOT SPECIFIED"),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** Q14 Promotion Effect — verbatim: p_type LIKE 'PROMO%' exists
    * as-is in this data. Ratio double/double in identical order. */
  val tpch14 = Q(
    "q44_tpch14",
    s"""SELECT 100.0 * CAST(CAST(SUM(CASE WHEN p_type LIKE 'PROMO%'
                 THEN $RevSql ELSE 0 END) AS VARCHAR) AS DOUBLE)
              / ${dsumSql(RevSql)} AS promo_revenue
       FROM lineitem, part
       WHERE l_partkey = p_partkey
         AND l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
         AND l_shipdate <  TIMESTAMP '1996-10-01 00:00:00'""") { (spark, dir) =>
    T(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= ts("1996-09-01") &&
        col("l_shipdate") < ts("1996-10-01"))
      .join(T(spark, dir, "part"), col("l_partkey") === col("p_partkey"))
      .agg((lit(100.0) *
        sum(when(col("p_type").like("PROMO%"), rev).otherwise(bd("0").cast(Dec)))
          .cast("double") / sum(rev).cast("double")).as("promo_revenue"))
  }

  /** Q15 Top Supplier — the revenue view + max-equality join, verbatim
    * minus missing address/phone. The 1-row max broadcasts; equality on
    * exact decimals is engine-stable. */
  val tpch15 = Q(
    "q45_tpch15",
    s"""WITH revenue0 AS (SELECT l_suppkey AS supplier_no,
                                 SUM($RevSql) AS total_rev
                          FROM lineitem
                          WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                            AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
                          GROUP BY l_suppkey)
       SELECT s_suppkey, s_name,
              CAST(CAST(total_rev AS VARCHAR) AS DOUBLE) AS total_revenue
       FROM supplier, revenue0
       WHERE s_suppkey = supplier_no
         AND total_rev = (SELECT MAX(total_rev) FROM revenue0)
       ORDER BY s_suppkey""") { (spark, dir) =>
    val rev0 = T(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= ts("1996-01-01") &&
        col("l_shipdate") < ts("1996-04-01"))
      .groupBy(col("l_suppkey").as("supplier_no"))
      .agg(sum(rev).as("total_rev"))
      // r12: the max threshold and the join probe share one aggregation
      .ckpt
    val mx = rev0.agg(max(col("total_rev")).as("mx"))
    T(spark, dir, "supplier")
      .join(rev0.crossJoin(broadcast(mx)).filter(col("total_rev") === col("mx")),
        col("s_suppkey") === col("supplier_no"))
      .select(col("s_suppkey"), col("s_name"),
        col("total_rev").cast("double").as("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  /** Q16 Parts/Supplier Relationship. partsupp → DISTINCT fact pairs;
    * the s_comment "complaints" exclusion → s_acctbal < 0 (an equivalent
    * small NOT-IN supplier blacklist); brand/type/size predicate kept
    * with this data's domains (type prefix PROMO, brands #1–#25). */
  val tpch16 = Q(
    "q46_tpch16",
    """WITH ps AS (SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
                   FROM lineitem)
       SELECT p_brand, p_type, p_size,
              CAST(COUNT(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
       FROM ps, part
       WHERE p_partkey = ps_partkey
         AND p_brand <> 'Brand#13' AND p_type NOT LIKE 'PROMO%'
         AND p_size IN (49, 14, 23, 45, 19, 3, 36, 9)
         AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
       GROUP BY p_brand, p_type, p_size
       ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""") { (spark, dir) =>
    val ps = T(spark, dir, "lineitem")
      .select(col("l_partkey").as("ps_partkey"), col("l_suppkey").as("ps_suppkey"))
      .distinct()
    val bad = T(spark, dir, "supplier").filter(col("s_acctbal") < 0)
      .select(col("s_suppkey"))
    ps.join(broadcast(bad), col("ps_suppkey") === col("s_suppkey"), "left_anti")
      .join(T(spark, dir, "part")
          .filter(col("p_brand") =!= "Brand#13" && !col("p_type").like("PROMO%") &&
            col("p_size").isin(49, 14, 23, 45, 19, 3, 36, 9)),
        col("ps_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("ps_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
  }

  /** Q17 Small-Quantity-Order Revenue. p_container → p_size bound; the
    * correlated `l_quantity < 0.2 * AVG(per part)` becomes the exact
    * integer/decimal form `5·qty·cnt < sum_qty` (no float division —
    * see header), with the per-part stats joined back on partkey. */
  val tpch17 = Q(
    "q47_tpch17",
    s"""WITH pq AS (SELECT l_partkey AS pq_partkey, COUNT(*) AS cnt,
                          SUM(CAST(l_quantity AS DECIMAL(12,4))) AS sum_qty
                   FROM lineitem GROUP BY l_partkey)
       SELECT ${dsumSql("CAST(l_extendedprice AS DECIMAL(12,4))")} / 7.0
                AS avg_yearly,
              COUNT(*) AS n_lines
       FROM lineitem, part, pq
       WHERE p_partkey = l_partkey AND pq_partkey = l_partkey
         AND p_brand = 'Brand#11' AND p_size <= 10
         AND 5 * CAST(l_quantity AS DECIMAL(12,4)) * cnt < sum_qty""") { (spark, dir) =>
    // r12 optimization (guide §3.2 posture): pq rows for parts outside
    // the brand/size filter can never survive the equi-join, so the
    // per-part aggregate runs over the SEMI-JOIN-restricted lineitem —
    // the aggregation shrinks by the part filter's selectivity, and the
    // semi join shares its partkey exchange with the groupBy. Result
    // rows identical.
    val pSel = T(spark, dir, "part")
      .filter(col("p_brand") === "Brand#11" && col("p_size") <= 10)
    val pq = T(spark, dir, "lineitem")
      .join(pSel.select(col("p_partkey").as("sel_partkey")),
        col("l_partkey") === col("sel_partkey"), "left_semi")
      .groupBy(col("l_partkey").as("pq_partkey"))
      .agg(count(lit(1)).as("cnt"), sum(dec(col("l_quantity"))).as("sum_qty"))
    T(spark, dir, "lineitem")
      .join(pSel, col("p_partkey") === col("l_partkey"))
      .join(pq, col("pq_partkey") === col("l_partkey"))
      .filter(dec(col("l_quantity")) * 5 * col("cnt") < col("sum_qty"))
      .agg((sum(dec(col("l_extendedprice"))).cast("double") / 7.0).as("avg_yearly"),
        count(lit(1)).as("n_lines"))
  }

  /** Q18 Large Volume Customers — verbatim (sum(l_quantity) > 300, the
    * canonical threshold, lands 46 orders at sf0.01).
    *
    * Scale-invariant plan, the s43 precedent: customer⋈orders is
    * fact⋈fact (both grow with SF) and the `big` semi-join build is an
    * aggregate output that grows linearly — at bench SF Catalyst
    * broadcasts both by size and then re-plans them to shuffles at 10×,
    * which the volume gauntlet's strict new-exchange gate correctly
    * flags as a scale-DEPENDENT plan. The merge hints pin the
    * scale-correct shuffle joins at every size (the plan a 100 TB run
    * gets anyway); the dimension-class broadcasts elsewhere in the
    * suite are untouched. */
  val tpch18 = Q(
    "q48_tpch18",
    s"""WITH big AS (SELECT l_orderkey AS bk
                    FROM lineitem GROUP BY l_orderkey
                    HAVING SUM(CAST(l_quantity AS DECIMAL(12,4))) > 300)
       SELECT c_name, c_custkey, o_orderkey,
              CAST(epoch_us(o_orderdate) AS BIGINT) AS o_date_us, o_totalprice,
              ${dsumSql("CAST(l_quantity AS DECIMAL(12,4))")} AS sum_qty
       FROM customer, orders, lineitem, big
       WHERE o_orderkey = bk AND c_custkey = o_custkey AND l_orderkey = o_orderkey
       GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
       ORDER BY o_totalprice DESC, o_date_us, o_orderkey
       LIMIT 100""") { (spark, dir) =>
    // r12 optimization (guide §2.3): the HAVING filter and the reported
    // sum are the SAME per-order decimal aggregate — compute it once
    // (one lineitem scan + one partial-aggregated shuffle, instead of
    // two scans and a full-fact join) and carry the sum through the
    // join. Each big order is one row, so the old post-join GROUP BY
    // collapses to a projection; values identical (one exact decimal
    // sum per order, cast once — dsum's formula split across the join).
    val big = T(spark, dir, "lineitem")
      .groupBy(col("l_orderkey").as("bk"))
      .agg(sum(dec(col("l_quantity"))).as("bq"))
      .filter(col("bq") > 300)
    T(spark, dir, "customer")
      .join(T(spark, dir, "orders").hint("merge"),
        col("c_custkey") === col("o_custkey"))
      .hint("merge") // big-order aggregate vs customer-order frame:
      // both grow with the fact — shuffle at every size, like the rest
      .join(big, col("o_orderkey") === col("bk"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        expr("unix_micros(cast(o_orderdate as timestamp_ltz))").as("o_date_us"),
        col("o_totalprice"), col("bq").cast("double").as("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_date_us"), col("o_orderkey"))
      .limit(100)
  }

  /** Q19 Discounted Revenue — the three OR'd brand/size/quantity branches
    * (container and shipmode terms dropped with their columns); the OR
    * predicate evaluates AFTER the equi-join on partkey, exactly the
    * canonical plan Spark picks (join then filter — no cartesian). */
  val tpch19 = Q(
    "q49_tpch19",
    s"""SELECT ${dsumSql(RevSql)} AS revenue, COUNT(*) AS n_lines
       FROM lineitem, part
       WHERE p_partkey = l_partkey
         AND ((p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
               AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#14' AND p_size BETWEEN 1 AND 10
               AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#16' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 20 AND 30))""") { (spark, dir) =>
    T(spark, dir, "lineitem")
      .join(T(spark, dir, "part"), col("p_partkey") === col("l_partkey"))
      .filter((col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
        col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#14" && col("p_size").between(1, 10) &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#16" && col("p_size").between(1, 15) &&
          col("l_quantity").between(20, 30)))
      .agg(sum(rev).cast("double").as("revenue"), count(lit(1)).as("n_lines"))
  }

  /** Q20 Potential Part Promotion. availqty → all-time shipped quantity
    * per (part, supplier); "availqty > half the window demand" →
    * "the 1996 window moved more than half the pair's all-time quantity"
    * (2·window > total, exact decimals) — the same
    * part-name-filtered nested-IN chain ending in a supplier semi-join,
    * NATION_5 (AFRICA). */
  val tpch20 = Q(
    "q50_tpch20",
    """WITH pq AS (SELECT l_partkey, l_suppkey,
                          SUM(CAST(l_quantity AS DECIMAL(12,4))) AS qty_total,
                          SUM(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                                    AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
                                   THEN CAST(l_quantity AS DECIMAL(12,4))
                                   ELSE CAST(0 AS DECIMAL(12,4)) END) AS qty_window
                   FROM lineitem GROUP BY l_partkey, l_suppkey)
       SELECT s_suppkey, s_name
       FROM supplier, nation
       WHERE s_nationkey = n_nationkey AND n_name = 'NATION_5'
         AND s_suppkey IN (
           SELECT l_suppkey FROM pq
           WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
             AND 2 * qty_window > qty_total)
       ORDER BY s_suppkey""") { (spark, dir) =>
    val inWin = col("l_shipdate") >= ts("1996-01-01") &&
      col("l_shipdate") < ts("1997-01-01")
    val pq = T(spark, dir, "lineitem")
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(dec(col("l_quantity"))).as("qty_total"),
        sum(when(inWin, dec(col("l_quantity"))).otherwise(bd("0").cast(Dec)))
          .as("qty_window"))
    val eligible = pq
      .join(T(spark, dir, "part").filter(col("p_name").like("small%"))
          .select(col("p_partkey")),
        col("l_partkey") === col("p_partkey"), "left_semi")
      .filter(col("qty_window") * 2 > col("qty_total"))
      .select(col("l_suppkey"))
    T(spark, dir, "supplier")
      .join(broadcast(T(spark, dir, "nation").filter(col("n_name") === "NATION_5")),
        col("s_nationkey") === col("n_nationkey"))
      .join(eligible, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"))
      .orderBy(col("s_suppkey"))
  }

  /** Q21 Suppliers Who Kept Orders Waiting. "late" per the header rule;
    * nation NATION_4 (MIDDLE EAST). The oracle runs the canonical
    * EXISTS / NOT-EXISTS pair; the Spark plan computes the equivalent
    * per-order distinct-supplier counts once (n_supp ≥ 2 ⟺ the EXISTS;
    * n_late_supp = 1 ⟺ the NOT EXISTS for a late line's own supplier) —
    * one aggregate instead of two correlated rescans of lineitem. */
  val tpch21 = Q(
    "q50b_tpch21",
    """SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
       FROM supplier, lineitem l1, orders, nation
       WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
         AND o_orderstatus = 'F'
         AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
         AND EXISTS (SELECT 1 FROM lineitem l2
                     WHERE l2.l_orderkey = l1.l_orderkey
                       AND l2.l_suppkey <> l1.l_suppkey)
         AND NOT EXISTS (SELECT 1 FROM lineitem l3
                         WHERE l3.l_orderkey = l1.l_orderkey
                           AND l3.l_suppkey <> l1.l_suppkey
                           AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
         AND s_nationkey = n_nationkey AND n_name = 'NATION_4'
       GROUP BY s_name
       ORDER BY numwait DESC, s_name
       LIMIT 100""") { (spark, dir) =>
    val base = T(spark, dir, "lineitem")
      .join(T(spark, dir, "orders").filter(col("o_orderstatus") === "F"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"),
        (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAY")).as("late"))
    val perOrder = base.groupBy(col("l_orderkey").as("po_orderkey"))
      .agg(countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(when(col("late"), col("l_suppkey"))).as("n_late_supp"))
    base.filter(col("late"))
      .join(perOrder, col("l_orderkey") === col("po_orderkey"))
      .filter(col("n_supp") >= 2 && col("n_late_supp") === 1)
      .join(T(spark, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(T(spark, dir, "nation").filter(col("n_name") === "NATION_4")),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(100)
  }

  /** Q22 Global Sales Opportunity. Phone country code → c_nationkey (the
    * available geography key), odd keys 1–13; "no orders" (vacuous here:
    * every customer has orders) → "no orders since 2000-01-01", the same
    * anti-join shape with a live predicate. The positive-balance average
    * threshold keeps its scalar-subquery shape as the exact comparison
    * `bal·cnt > sum` against a broadcast 1-row aggregate. */
  val tpch22 = Q(
    "q50c_tpch22",
    s"""WITH pos AS (SELECT COUNT(*) AS cnt,
                           SUM(CAST(c_acctbal AS DECIMAL(12,4))) AS bal_sum
                    FROM customer
                    WHERE c_acctbal > 0.0
                      AND c_nationkey IN (1, 3, 5, 7, 9, 11, 13))
       SELECT CAST(c_nationkey AS BIGINT) AS cntrycode,
              COUNT(*) AS numcust,
              ${dsumSql("CAST(c_acctbal AS DECIMAL(12,4))")} AS totacctbal
       FROM customer, pos
       WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
         AND CAST(c_acctbal AS DECIMAL(12,4)) * cnt > bal_sum
         AND NOT EXISTS (SELECT 1 FROM orders
                         WHERE o_custkey = c_custkey
                           AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
       GROUP BY c_nationkey
       ORDER BY cntrycode""") { (spark, dir) =>
    val codes = Seq(1, 3, 5, 7, 9, 11, 13)
    val cust = T(spark, dir, "customer").filter(col("c_nationkey").isin(codes: _*))
    val pos = cust.filter(col("c_acctbal") > 0.0)
      .agg(count(lit(1)).as("cnt"), sum(dec(col("c_acctbal"))).as("bal_sum"))
    cust.crossJoin(broadcast(pos))
      .filter(dec(col("c_acctbal")) * col("cnt") > col("bal_sum"))
      .join(T(spark, dir, "orders").filter(col("o_orderdate") >= ts("2000-01-01")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey").cast("long").as("cntrycode"))
      .agg(count(lit(1)).as("numcust"),
        dsum(col("c_acctbal")).as("totacctbal"))
      .orderBy(col("cntrycode"))
  }

  val all: Seq[Q] = Seq(
    tpch01, tpch02, tpch03, tpch04, tpch05, tpch06, tpch07, tpch08,
    tpch09, tpch10, tpch11, tpch12, tpch13, tpch14, tpch15, tpch16,
    tpch17, tpch18, tpch19, tpch20, tpch21, tpch22)

  /** Queries whose selective predicates are DATA-DEPENDENTLY EMPTY at
    * sf0.001 (~6k-row lineitem): DuckDB runs the identical oracleSql to
    * 0 rows at sf0.001 and to 4 / 238 / 4 / 3 rows at sf0.01 (where the
    * driver oracle is green). The smoke suite asserts emptiness at
    * sf0.001 (so this exemption rots loudly if the data changes) AND
    * non-emptiness at sf0.01 (so a vacuously-broken query can't hide
    * behind the exemption). */
  val emptyAtTinySf: Set[String] =
    Set("q37_tpch07", "q41_tpch11", "q50_tpch20", "q50b_tpch21")
}
