package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** As-of (temporal) joins — an operator Spark lacks natively (SURVEY.md
  * custom-operator guidance: compose existing ops when semantics allow).
  *
  * Both operators use the union+window formulation: tag both sides, sort
  * within the key partition by (time, tag), and carry the last-seen left
  * value forward with `last(..., ignoreNulls)`. That is the scalable
  * as-of: ONE shuffle on the key, no range-condition join explosion, and
  * it degrades gracefully under skew (per-key window state is a single
  * value). DuckDB checks q56 with its native ASOF LEFT JOIN — two
  * different algorithms, same answer.
  */
object AsOf {

  /** Attribution inside one stream: for each purchase, the user's most
    * recent strictly-preceding view event. */
  val q55AsofAttribution = Q(
    "q55_asof_attribution",
    """WITH w AS (SELECT user_id, event_id, event_type,
         last_value(CASE WHEN event_type = 'view' THEN event_id END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS attributed_view
       FROM events)
       SELECT user_id, event_id, attributed_view
       FROM w WHERE event_type = 'purchase' ORDER BY user_id, event_id""") { (spark, dir) =>
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    T(spark, dir, "events")
      .withColumn("attributed_view",
        last(when(col("event_type") === "view", col("event_id")), ignoreNulls = true)
          .over(w))
      .filter(col("event_type") === "purchase")
      .select("user_id", "event_id", "attributed_view")
      .orderBy("user_id", "event_id")
  }

  /** The union every two-table as-of join here runs over: events
    * pre-aggregated to one per (user, second) as tag-0 rows (k, t,
    * event_id), orders as tag-1 rows (k, t, o_orderkey). */
  private def asofInputs(spark: SparkSession, dir: String): DataFrame = {
    val e = T(spark, dir, "events")
      .selectExpr("user_id as k", "ts div 1000000000 as t", "event_id")
      .groupBy("k", "t").agg(max(col("event_id")).as("event_id"))
      .select(col("k"), col("t"), lit(0).as("tag"), col("event_id"),
        lit(null).cast("long").as("o_orderkey"))
    val o = T(spark, dir, "orders")
      .selectExpr("o_custkey as k", "unix_timestamp(o_orderdate) as t",
        "o_orderkey")
      .select(col("k"), col("t"), lit(1).as("tag"),
        lit(null).cast("long").as("event_id"), col("o_orderkey"))
    e.unionByName(o)
  }

  /** Per-key order of [[asofInputs]]: events sort before orders at the
    * same second (tag 0 < 1), so "at-or-before" includes same-second
    * events. */
  private val byKey = Window.partitionBy(col("k")).orderBy(col("t"), col("tag"))

  /** DuckDB dialect of [[asofInputs]]: `e` (user_id, tsec, event_id) and
    * `o` (o_orderkey, o_custkey, osec). */
  private val duckAsofInputs =
    """e AS (SELECT user_id, epoch_ns(ts) // 1000000000 AS tsec,
                        MAX(event_id) AS event_id
                 FROM events GROUP BY 1, 2),
        o AS (SELECT o_orderkey, o_custkey,
                     epoch_ns(o_orderdate) // 1000000000 AS osec
              FROM orders)"""

  /** Two-table as-of join: each order matched to the customer's latest
    * event at-or-before the order date. Events are pre-aggregated to one
    * per (user, second) so the match is deterministic; the oracle uses
    * DuckDB's native ASOF LEFT JOIN while Spark runs the union+window
    * algorithm — independent implementations, identical results. */
  val q56AsofJoin = Q(
    "q56_asof_join",
    s"""WITH $duckAsofInputs
        SELECT o.o_orderkey, o.o_custkey, e.event_id AS asof_event
        FROM o ASOF LEFT JOIN e
          ON o.o_custkey = e.user_id AND o.osec >= e.tsec
        ORDER BY o_orderkey""") { (spark, dir) =>
    val w = byKey.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    asofInputs(spark, dir)
      .withColumn("asof_event", last(col("event_id"), ignoreNulls = true).over(w))
      .filter(col("tag") === 1)
      .select(col("o_orderkey"), col("k").as("o_custkey"), col("asof_event"))
      .orderBy("o_orderkey")
  }

  /** Match window for [[q77AsofTolerance]]: 7 days in seconds. */
  private val TolSec = 604800L

  /** q77: as-of join WITH TOLERANCE — q56's match, but a stale match
    * (latest event more than 7 days before the order) is rejected: the
    * feature-store contract ("the feature value as of serving time,
    * unless it's too old to trust") and the attribution-window contract
    * in one knob. Spark runs the union+window algorithm carrying BOTH
    * the last event id and its time over the same (key, time, tag)
    * partitioning — still ONE shuffle, two `last` frames over one sorted
    * run — with the gap bound applied after the carry; the DuckDB oracle
    * runs its native ASOF LEFT JOIN and bounds the gap afterwards.
    * Independent algorithms, identical answers, including the NULL for
    * beyond-tolerance matches (which a post-filtered join would DROP —
    * the left row must survive with a null feature, not vanish). */
  val q77AsofTolerance = Q(
    "q77_asof_tolerance",
    s"""WITH $duckAsofInputs
        SELECT o.o_orderkey, o.o_custkey,
               CASE WHEN e.tsec IS NOT NULL AND o.osec - e.tsec <= $TolSec
                    THEN e.event_id END AS asof_event
        FROM o ASOF LEFT JOIN e
          ON o.o_custkey = e.user_id AND o.osec >= e.tsec
        ORDER BY o_orderkey""") { (spark, dir) =>
    val w = byKey.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    asofInputs(spark, dir)
      .withColumn("asof_event0", last(col("event_id"), ignoreNulls = true).over(w))
      .withColumn("asof_t",
        last(when(col("tag") === 0, col("t")), ignoreNulls = true).over(w))
      .filter(col("tag") === 1)
      .withColumn("asof_event",
        when(col("asof_t").isNotNull && col("t") - col("asof_t") <= TolSec,
          col("asof_event0")))
      .select(col("o_orderkey"), col("k").as("o_custkey"), col("asof_event"))
      .orderBy("o_orderkey")
  }

  /** q82: NEAREST-event as-of join — each order matched to the
    * customer's event closest in time in EITHER direction (at-or-before
    * OR strictly-after), ties to the earlier side. The sensor-alignment /
    * nearest-measurement contract (q56 is the causal backward-only
    * variant; metrology and feature-imputation want nearest-either-way).
    *
    * Spark stays the union+window algorithm — the SAME one shuffle on the
    * key, now with four carried frames over one sorted run: the backward
    * pair (last event id+time at-or-before, q77's carry) and the forward
    * pair (first event id+time strictly after, the mirrored frame). The
    * pick is a map-side projection comparing the two gaps. Same-second
    * events sort before the order row (tag 0 < 1), so they are always on
    * the backward side with gap 0 and win every tie by construction —
    * which is exactly the tie rule. The DuckDB oracle runs TWO native
    * ASOF joins (>= backward, < forward) and picks the closer —
    * independent algorithm, identical answers, including both-NULL rows
    * (users with no events keep the order row with a NULL match). */
  val q82AsofNearest = Q(
    "q82_asof_nearest",
    s"""WITH $duckAsofInputs,
        b AS (SELECT o.o_orderkey, o.o_custkey, o.osec,
                     e.event_id AS bid, e.tsec AS bt
              FROM o ASOF LEFT JOIN e
                ON o.o_custkey = e.user_id AND o.osec >= e.tsec),
        f AS (SELECT o.o_orderkey, e.event_id AS fid, e.tsec AS ft
              FROM o ASOF LEFT JOIN e
                ON o.o_custkey = e.user_id AND o.osec < e.tsec)
        SELECT b.o_orderkey, b.o_custkey,
               CASE WHEN bt IS NOT NULL AND (ft IS NULL OR osec - bt <= ft - osec)
                    THEN bid ELSE fid END AS nearest_event
        FROM b JOIN f ON b.o_orderkey = f.o_orderkey
        ORDER BY b.o_orderkey""") { (spark, dir) =>
    val back = byKey.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = byKey.rowsBetween(1, Window.unboundedFollowing)
    asofInputs(spark, dir)
      .withColumn("bid", last(col("event_id"), ignoreNulls = true).over(back))
      .withColumn("bt",
        last(when(col("tag") === 0, col("t")), ignoreNulls = true).over(back))
      .withColumn("fid", first(col("event_id"), ignoreNulls = true).over(fwd))
      .withColumn("ft",
        first(when(col("tag") === 0, col("t")), ignoreNulls = true).over(fwd))
      .filter(col("tag") === 1)
      .withColumn("nearest_event",
        when(col("bt").isNotNull &&
          (col("ft").isNull || col("t") - col("bt") <= col("ft") - col("t")),
          col("bid")).otherwise(col("fid")))
      .select(col("o_orderkey"), col("k").as("o_custkey"), col("nearest_event"))
      .orderBy("o_orderkey")
  }

  val all: Seq[Q] =
    Seq(q55AsofAttribution, q56AsofJoin, q77AsofTolerance, q82AsofNearest)
}
