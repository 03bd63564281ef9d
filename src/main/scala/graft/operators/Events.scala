package graft.operators

import org.apache.spark.sql.functions._
import Ckpt.Reuse
import org.apache.spark.sql.expressions.Window
import Num._

/** Event-stream operators over `events` (batch forms of the streaming
  * surface — the Structured Streaming variants live in
  * [[graft.streaming.StreamOps]] and are spec-tested; these batch twins are
  * what the DuckDB oracle can check).
  *
  * `events.ts` surfaces as epoch-nano LongType whatever the physical
  * parquet encoding is (see [[T]]'s schema-driven normalization); DuckDB
  * reads the same column via `epoch_ns` — both sides window on the
  * identical integer nanos.
  */
object Events {

  /** Tumbling 1-hour windows: count / exact sum / distinct users per
    * (window, event_type). The batch twin of a watermarked streaming agg. */
  val q51EventWindows = Q(
    "q51_event_windows",
    """SELECT epoch_ns(ts) // 3600000000000 AS w, event_type,
       COUNT(*) AS n,
       CAST(CAST(SUM(CAST(value AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE) AS sum_value,
       COUNT(DISTINCT user_id) AS n_users
       FROM events GROUP BY 1, 2 ORDER BY w, event_type""") { (spark, dir) =>
    T(spark, dir, "events")
      .selectExpr("ts div 3600000000000 as w", "event_type", "value", "user_id")
      .groupBy("w", "event_type")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy("w", "event_type")
  }

  /** Sessionization: 30-minute-gap sessions per user via lag + running sum
    * (the batch twin of `session_window`). One shuffle on user_id; both
    * window functions reuse the same partitioning. */
  val q52Sessionization = Q(
    "q52_sessionization",
    """WITH x AS (SELECT user_id, event_id, epoch_ns(ts) AS tsn FROM events),
       l AS (SELECT user_id, event_id, tsn,
                    LAG(tsn) OVER (PARTITION BY user_id ORDER BY tsn, event_id) AS prev
             FROM x),
       f AS (SELECT user_id, event_id, tsn,
                    CASE WHEN prev IS NULL OR tsn - prev > 1800000000000
                         THEN 1 ELSE 0 END AS is_new
             FROM l),
       s AS (SELECT user_id, event_id, tsn,
                    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY tsn, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess
             FROM f)
       SELECT user_id, sess, COUNT(*) AS n_events,
              (MAX(tsn) - MIN(tsn)) // 1000000000 AS dur_s
       FROM s GROUP BY user_id, sess ORDER BY user_id, sess""") { (spark, dir) =>
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("tsn"), col("event_id"))
    T(spark, dir, "events")
      .selectExpr("user_id", "event_id", "ts as tsn")
      .withColumn("prev", lag(col("tsn"), 1).over(byUser))
      .withColumn("is_new",
        when(col("prev").isNull || col("tsn") - col("prev") > 1800000000000L, 1L)
          .otherwise(0L))
      .withColumn("sess", sum(col("is_new"))
        .over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sess")
      .agg(count(lit(1)).as("n_events"),
        // integer div, not double `/`: a double quotient can round across
        // the integer boundary before the cast, diverging from DuckDB's `//`
        expr("(max(tsn) - min(tsn)) div 1000000000").as("dur_s"))
      .orderBy("user_id", "sess")
  }

  /** Time-series resample + forward fill: a dense per-user daily spine
    * (corpus min..max day) where each day carries the user's LAST event
    * value that day, gaps forward-filled from the previous day with data
    * (NULL before a user's first event — filling from nothing would
    * fabricate data). The gap-filling shape behind feature tables and
    * dashboard series.
    *
    * Scale: the spine is users × days — days stay tiny (broadcast), so
    * the cross join replicates, never shuffles, the user side; the daily
    * last-pick and the fill are windows over (user_id[, day]), state
    * bounded per user by the day span. Deterministic pick: (tsn,
    * event_id) descending, never `last()` over an unordered group. */
  val q57ResampleFfill = Q(
    "q57_resample_ffill",
    """WITH x AS (SELECT user_id, event_id, value, epoch_ns(ts) AS tsn,
                         epoch_ns(ts) // 86400000000000 AS day FROM events),
       b AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM x),
       days AS (SELECT unnest(range(d0, d1 + 1)) AS day FROM b),
       users AS (SELECT DISTINCT user_id FROM x),
       spine AS (SELECT user_id, day FROM users, days),
       pick AS (SELECT user_id, day, value,
                       ROW_NUMBER() OVER (PARTITION BY user_id, day
                         ORDER BY tsn DESC, event_id DESC) AS rnk FROM x),
       lastev AS (SELECT user_id, day, value FROM pick WHERE rnk = 1),
       j AS (SELECT s.user_id, s.day,
                    CASE WHEN l.user_id IS NULL THEN 0 ELSE 1 END AS has_event,
                    l.value
             FROM spine s LEFT JOIN lastev l
               ON s.user_id = l.user_id AND s.day = l.day)
       SELECT user_id, day, CAST(has_event AS BIGINT) AS has_event,
              last_value(value IGNORE NULLS) OVER (PARTITION BY user_id
                ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS filled_value
       FROM j ORDER BY user_id, day""") { (spark, dir) =>
    val x = T(spark, dir, "events").selectExpr("user_id", "event_id", "value",
      "ts as tsn", "ts div 86400000000000 as day")
    val days = x.agg(min("day").as("d0"), max("day").as("d1"))
      .select(explode(expr("sequence(d0, d1)")).as("day"))
    val spine = x.select("user_id").distinct().crossJoin(broadcast(days))
    val wPick = Window.partitionBy(col("user_id"), col("day"))
      .orderBy(col("tsn").desc, col("event_id").desc)
    val lastev = x.withColumn("rnk", row_number().over(wPick))
      .filter(col("rnk") === 1)
      .select(col("user_id"), col("day"), col("value"), lit(1L).as("ev"))
    val wFill = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(lastev, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"),
        coalesce(col("ev"), lit(0L)).as("has_event"),
        last(col("value"), ignoreNulls = true).over(wFill).as("filled_value"))
      .orderBy("user_id", "day")
  }

  /** Conversion window for [[q70Funnel]]: 7 days in nanos. */
  private val FunnelWindowNs = 604800000000000L

  /** Funnel analysis: per user, the first 'view', the first 'click' after
    * that view, and the first 'purchase' after that click — all within 7
    * days of the view. The product-analytics sequence query (view →
    * click → purchase), and the shape behind multi-step training-data
    * provenance chains (crawled → filtered → selected).
    *
    * Shape: each funnel stage is a conditional MIN over the user's
    * partition, where the condition references the previous stage's
    * result — three Window operators over the SAME
    * `partitionBy(user_id)`, so Spark shuffles ONCE and pipelines all
    * three passes over the sorted runs (PlanSpec gates the single
    * exchange); the closing per-user collapse is a distinct on values
    * constant within the partition, which reuses that distribution too.
    * Per-user state is O(1) — full-partition MIN frames, no
    * quadratic-in-events anything — so 1000 executors split users
    * evenly at any event volume; a celebrity-user partition is one hot
    * key among 32 (AQE handles it like any other skew).
    *
    * Stage semantics are strict ordering (click strictly after view,
    * purchase strictly after click, both within view+7d) with NULL
    * propagation: no view → user excluded; no qualifying click →
    * click_ts and purchase_ts NULL (a purchase without a preceding
    * click does NOT count — that's the funnel contract). */
  val q70Funnel = Q(
    "q70_funnel",
    s"""WITH x AS (SELECT user_id, event_type, epoch_ns(ts) AS tsn FROM events),
        w1 AS (SELECT *, MIN(CASE WHEN event_type = 'view' THEN tsn END)
                         OVER (PARTITION BY user_id) AS view_ts FROM x),
        w2 AS (SELECT *, MIN(CASE WHEN event_type = 'click' AND tsn > view_ts
                                   AND tsn <= view_ts + $FunnelWindowNs THEN tsn END)
                         OVER (PARTITION BY user_id) AS click_ts FROM w1),
        w3 AS (SELECT *, MIN(CASE WHEN event_type = 'purchase' AND tsn > click_ts
                                   AND tsn <= view_ts + $FunnelWindowNs THEN tsn END)
                         OVER (PARTITION BY user_id) AS purchase_ts FROM w2)
        SELECT DISTINCT user_id, view_ts, click_ts, purchase_ts,
               CAST(1 + (CASE WHEN click_ts IS NOT NULL THEN 1 ELSE 0 END)
                      + (CASE WHEN purchase_ts IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS stage
        FROM w3 WHERE view_ts IS NOT NULL ORDER BY user_id""") { (spark, dir) =>
    val byUser = Window.partitionBy(col("user_id"))
    T(spark, dir, "events")
      .selectExpr("user_id", "event_type", "ts as tsn")
      .withColumn("view_ts",
        min(when(col("event_type") === "view", col("tsn"))).over(byUser))
      .withColumn("click_ts",
        min(when(col("event_type") === "click" && col("tsn") > col("view_ts")
          && col("tsn") <= col("view_ts") + FunnelWindowNs, col("tsn"))).over(byUser))
      .withColumn("purchase_ts",
        min(when(col("event_type") === "purchase" && col("tsn") > col("click_ts")
          && col("tsn") <= col("view_ts") + FunnelWindowNs, col("tsn"))).over(byUser))
      .filter(col("view_ts").isNotNull)
      .select("user_id", "view_ts", "click_ts", "purchase_ts")
      .distinct()
      .withColumn("stage",
        (lit(1) + when(col("click_ts").isNotNull, 1).otherwise(0)
          + when(col("purchase_ts").isNotNull, 1).otherwise(0)).cast("long"))
      .orderBy("user_id")
  }

  /** Sliding-window geometry for [[q71SlidingWindows]]: 1-hour windows
    * hopping every 15 minutes — each event lands in exactly 4 windows. */
  private val SlideNs = 900000000000L
  private val WinSlides = 4L // window length = WinSlides * SlideNs

  /** Hopping (sliding) windows: 1-hour windows every 15 minutes — the
    * overlapping-window twin of [[q51EventWindows]]'s tumbling agg and
    * the batch form of streaming `window(ts, "1 hour", "15 minutes")`.
    * Each event explodes into its fixed [[WinSlides]] covering windows
    * (map-only, bounded 4× row amplification), then one hash aggregation
    * on (window, event_type) — partials absorb the fan-out map-side, so
    * the shuffle carries group states, not exploded events. A flash-crowd
    * instant concentrates 4 window keys, not one — strictly better skew
    * spread than the tumbling case, same hot-key remedies. Window id is
    * the slide slot of the window START (w*SlideNs .. +1h). */
  val q71SlidingWindows = Q(
    "q71_sliding_windows",
    s"""WITH x AS (SELECT epoch_ns(ts) // $SlideNs AS slot, event_type, value,
                          user_id FROM events),
        w AS (SELECT slot - off AS w, event_type, value, user_id
              FROM x, range(0, $WinSlides) r(off))
        SELECT w, event_type, COUNT(*) AS n,
               CAST(CAST(SUM(CAST(value AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE) AS sum_value,
               COUNT(DISTINCT user_id) AS n_users
        FROM w GROUP BY w, event_type ORDER BY w, event_type""") { (spark, dir) =>
    T(spark, dir, "events")
      .selectExpr(s"ts div $SlideNs as slot", "event_type", "value", "user_id")
      .withColumn("off", explode(expr(s"sequence(0, ${WinSlides - 1})")))
      .withColumn("w", col("slot") - col("off"))
      .groupBy("w", "event_type")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy("w", "event_type")
  }

  /** Dedup window for [[q73WindowedDedup]]: 10 minutes in nanos. */
  private[graft] val DedupWinNs = 600000000000L

  /** Time-windowed dedup: within each 10-minute tumbling window keep the
    * FIRST event per (user_id, event_type) — the at-least-once-delivery /
    * double-fire suppression every event pipeline runs at ingest, with a
    * per-kept-row count of what it suppressed. Deterministic pick:
    * (tsn, event_id) ascending, never an unordered `first()`.
    *
    * Shape: ONE shuffle on (user, type, window) feeding both window
    * functions (same partitioning; the rank's sort also serves the
    * count). Window population is bounded by one user-type's traffic in
    * 10 minutes, so partitions stay even at any corpus size; a
    * flash-crowd user-type is one hot key among millions (AQE skew
    * handling, same posture as q51). The streaming twin is
    * [[graft.streaming.StreamOps.windowedFirstEvent]] — a watermarked
    * window aggregation whose per-window min_by state is O(1) per open
    * window (StreamingSpec pins it equal to this batch form). */
  val q73WindowedDedup = Q(
    "q73_windowed_dedup",
    s"""WITH x AS (SELECT event_id, user_id, event_type, epoch_ns(ts) AS tsn,
                          epoch_ns(ts) // $DedupWinNs AS w FROM events),
        r AS (SELECT *,
                     ROW_NUMBER() OVER (PARTITION BY user_id, event_type, w
                       ORDER BY tsn, event_id) AS rnk,
                     COUNT(*) OVER (PARTITION BY user_id, event_type, w) AS n_in_win
              FROM x)
        SELECT event_id, user_id, event_type, w, tsn,
               CAST(n_in_win - 1 AS BIGINT) AS n_dups
        FROM r WHERE rnk = 1 ORDER BY user_id, event_type, w""") { (spark, dir) =>
    val byKey = Window.partitionBy(col("user_id"), col("event_type"), col("w"))
    T(spark, dir, "events")
      .selectExpr("event_id", "user_id", "event_type", "ts as tsn",
        s"ts div $DedupWinNs as w")
      .withColumn("rnk",
        row_number().over(byKey.orderBy(col("tsn"), col("event_id"))))
      .withColumn("n_dups", count(lit(1)).over(byKey) - 1)
      .filter(col("rnk") === 1)
      .select("event_id", "user_id", "event_type", "w", "tsn", "n_dups")
      .orderBy("user_id", "event_type", "w")
  }

  /** Cohort week length for [[q78CohortRetention]]: 7 days in nanos. */
  private val CohortWeekNs = 604800000000000L

  /** Cohort retention: users bucketed by their FIRST-active week (the
    * cohort), then for each week offset the count of cohort members still
    * active and the retained fraction — the product-analytics retention
    * triangle, and the shape behind "how much of crawl snapshot N
    * survives into snapshot N+k" corpus-freshness tracking.
    *
    * Shape: groupBy (user_id, week) first, so map-side partials collapse
    * the event stream to user-weeks BEFORE any wide state (the shuffle
    * carries |users × active weeks|, not events); the cohort week is a
    * MIN window over the user partition; the closing (cohort, offset)
    * regroup and the per-cohort first_value share tiny post-aggregation
    * inputs. Every stage's key count shrinks monotonically — events →
    * user-weeks → cohort cells — which is exactly what survives a 100×
    * scale-up. retained_frac is bigint÷bigint in double: one correctly
    * rounded IEEE op, bit-equal cross-engine. Offset 0 always exists
    * (a user is active in their own cohort week), so first_value over
    * the offset order IS the cohort size. */
  val q78CohortRetention = Q(
    "q78_cohort_retention",
    s"""WITH uw AS (SELECT user_id, epoch_ns(ts) // $CohortWeekNs AS w
                    FROM events GROUP BY 1, 2),
        c AS (SELECT user_id, w, MIN(w) OVER (PARTITION BY user_id) AS cw
              FROM uw),
        r AS (SELECT cw AS cohort_w, w - cw AS wk_off, COUNT(*) AS n_users
              FROM c GROUP BY 1, 2)
        SELECT cohort_w, wk_off, CAST(n_users AS BIGINT) AS n_users,
               CAST(n_users AS DOUBLE)
                 / first_value(n_users) OVER (PARTITION BY cohort_w
                     ORDER BY wk_off) AS retained_frac
        FROM r ORDER BY cohort_w, wk_off""") { (spark, dir) =>
    val byUser = Window.partitionBy(col("user_id"))
    val byCohort = Window.partitionBy(col("cohort_w")).orderBy(col("wk_off"))
    T(spark, dir, "events")
      .selectExpr("user_id", s"ts div $CohortWeekNs as w")
      .distinct() // plans as keys-only HashAggregate: partials map-side
      .withColumn("cw", min(col("w")).over(byUser))
      .select(col("cw").as("cohort_w"), (col("w") - col("cw")).as("wk_off"))
      .groupBy("cohort_w", "wk_off").agg(count(lit(1)).as("n_users"))
      .withColumn("retained_frac",
        col("n_users").cast("double") / first(col("n_users")).over(byCohort))
      .orderBy("cohort_w", "wk_off")
  }

  /** Gap threshold for [[q79GapDetection]]: 2 hours in nanos. */
  private val GapNs = 7200000000000L

  /** Gap detection (gaps-and-islands, gap half): per user, every silence
    * longer than 2 hours between consecutive events — the
    * sensor-outage / pipeline-stall / ingestion-hole detector, and the
    * inverse of [[q52Sessionization]]'s islands. Deterministic order is
    * (tsn, event_id) so simultaneous events cannot flip the lag.
    *
    * Shape: ONE shuffle (the user_id window partition); the lag is a
    * sorted-run scan with O(1) state per row, output only the gap rows.
    * A user's partition is bounded by their own event count — even a
    * celebrity user is one hot key among 32 (AQE skew split), and no
    * cross-user state exists at any scale. */
  val q79GapDetection = Q(
    "q79_gap_detection",
    s"""WITH x AS (SELECT user_id, event_id, epoch_ns(ts) AS tsn FROM events),
        l AS (SELECT user_id, tsn,
                     LAG(tsn) OVER (PARTITION BY user_id
                       ORDER BY tsn, event_id) AS prev
              FROM x)
        SELECT user_id, prev AS gap_start, tsn AS gap_end,
               (tsn - prev) // 1000000000 AS gap_s
        FROM l WHERE prev IS NOT NULL AND tsn - prev > $GapNs
        ORDER BY user_id, gap_start""") { (spark, dir) =>
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("tsn"), col("event_id"))
    T(spark, dir, "events")
      .selectExpr("user_id", "event_id", "ts as tsn")
      .withColumn("prev", lag(col("tsn"), 1).over(byUser))
      .filter(col("prev").isNotNull && col("tsn") - col("prev") > GapNs)
      .select(col("user_id"), col("prev").as("gap_start"),
        col("tsn").as("gap_end"),
        expr("(tsn - prev) div 1000000000").as("gap_s"))
      .orderBy("user_id", "gap_start")
  }

  /** SCD2 history build: treat the event stream as a change log of each
    * user's `props` attribute and emit type-2 slowly-changing-dimension
    * rows — one validity interval [valid_from, valid_to) per VALUE RUN,
    * with the open current version carrying NULL valid_to. Consecutive
    * equal values collapse (only a CHANGE opens a version) — the
    * change-detection + interval-build shape behind every warehouse
    * dimension history and behind dataset-snapshot lineage tables.
    *
    * Shape: ONE shuffle — the change filter (lag) and the interval close
    * (lead) are windows over the SAME user_id partitioning, so Spark
    * plans one Exchange feeding both sorted passes; the lead runs on the
    * already-collapsed change rows. Per-user state is O(1) per row;
    * deterministic order (tsn, event_id) end-to-end. First-row keep is
    * `rnk = 1 OR value differs`, not a lag default sentinel — NULL props
    * on a first row stays a version instead of vanishing. */
  val q80Scd2History = Q(
    "q80_scd2_history",
    """WITH x AS (SELECT user_id, event_id, props, epoch_ns(ts) AS tsn FROM events),
       l AS (SELECT user_id, event_id, props, tsn,
                    LAG(props) OVER (PARTITION BY user_id
                      ORDER BY tsn, event_id) AS prev,
                    ROW_NUMBER() OVER (PARTITION BY user_id
                      ORDER BY tsn, event_id) AS rnk
             FROM x),
       ch AS (SELECT user_id, event_id, props, tsn FROM l
              WHERE rnk = 1 OR props IS DISTINCT FROM prev),
       v AS (SELECT user_id, props, tsn AS valid_from,
                    LEAD(tsn) OVER (PARTITION BY user_id
                      ORDER BY tsn, event_id) AS valid_to
             FROM ch)
       SELECT user_id, props, valid_from, valid_to,
              CAST(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS BIGINT)
                AS is_current
       FROM v ORDER BY user_id, valid_from""") { (spark, dir) =>
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("tsn"), col("event_id"))
    T(spark, dir, "events")
      .selectExpr("user_id", "event_id", "props", "ts as tsn")
      .withColumn("prev", lag(col("props"), 1).over(byUser))
      .withColumn("rnk", row_number().over(byUser))
      .filter(col("rnk") === 1 || !(col("props") <=> col("prev")))
      .withColumn("valid_to", lead(col("tsn"), 1).over(byUser))
      .select(col("user_id"), col("props"), col("tsn").as("valid_from"),
        col("valid_to"),
        when(col("valid_to").isNull, 1L).otherwise(0L).as("is_current"))
      .orderBy("user_id", "valid_from")
  }

  /** q86: period-over-period comparison — weekly event counts per type
    * with the previous week's count and the integer-ppm delta, the
    * week-over-week reporting shape behind every growth dashboard and
    * ingest-volume drift monitor. The lag runs over the AGGREGATED
    * series (weeks × types — tiny), never the event stream: partials
    * absorb the corpus map-side and the window state is one value per
    * type. First week per type keeps NULL prev/delta (nothing to
    * fabricate), identically in both dialects. */
  val q86PeriodOverPeriod = Q(
    "q86_period_over_period",
    s"""WITH w AS (SELECT epoch_ns(ts) // $CohortWeekNs AS wk, event_type,
                          COUNT(*) AS n
                   FROM events GROUP BY 1, 2)
        SELECT wk, event_type, CAST(n AS BIGINT) AS n,
               CAST(LAG(n) OVER (PARTITION BY event_type ORDER BY wk)
                    AS BIGINT) AS prev_n,
               (n - LAG(n) OVER (PARTITION BY event_type ORDER BY wk))
                 * 1000000 // LAG(n) OVER (PARTITION BY event_type ORDER BY wk)
                 AS delta_ppm
        FROM w ORDER BY event_type, wk""") { (spark, dir) =>
    val byType = Window.partitionBy(col("event_type")).orderBy(col("wk"))
    T(spark, dir, "events")
      .selectExpr(s"ts div $CohortWeekNs as wk", "event_type")
      .groupBy("wk", "event_type").agg(count(lit(1)).as("n"))
      .withColumn("prev_n", lag(col("n"), 1).over(byType))
      .withColumn("delta_ppm", expr("(n - prev_n) * 1000000 div prev_n"))
      .orderBy("event_type", "wk")
  }

  /** q89: NATIVE `session_window()` sessionization — the built-in a Spark
    * user reaches for first, now with its own oracle row (q52 proves the
    * lag formulation; this proves the built-in agrees with an independent
    * DuckDB gap-and-island derivation). Timestamps run in MICROS on both
    * sides (`session_window` needs TimestampType, which is µs): ts div
    * 1000 here, epoch_ns // 1000 in the oracle, so truncation is
    * identical and the comparison is exact.
    *
    * Boundary contract: `session_window` MERGES an event that lands
    * exactly one gap after its predecessor (the window [start, last+gap]
    * is inclusive at the merge check), i.e. a new session only at
    * diff > gap — the SAME rule as q52's lag form, so the two
    * sessionizations are interchangeable; SessionWindowSpec pins both
    * the equality and the exact-gap boundary itself.
    *
    * Scale: one shuffle on user_id (the session merge is Spark's own
    * UpdatingSessionsIterator — per-user state is one open session, same
    * posture as the q52 window), aggregates are partial-merged. */
  val q89SessionWindow = Q(
    "q89_session_window",
    """WITH x AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS tsu FROM events),
       l AS (SELECT user_id, event_id, tsu,
                    LAG(tsu) OVER (PARTITION BY user_id ORDER BY tsu, event_id) AS prev
             FROM x),
       f AS (SELECT user_id, event_id, tsu,
                    CASE WHEN prev IS NULL OR tsu - prev > 1800000000
                         THEN 1 ELSE 0 END AS is_new
             FROM l),
       s AS (SELECT user_id, tsu,
                    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY tsu, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess
             FROM f)
       SELECT user_id, MIN(tsu) AS sess_start,
              MAX(tsu) + 1800000000 AS sess_end,
              COUNT(*) AS n_events
       FROM s GROUP BY user_id, sess ORDER BY user_id, sess_start""") { (spark, dir) =>
    T(spark, dir, "events")
      .selectExpr("user_id", "timestamp_micros(ts div 1000) as tsm")
      .groupBy(col("user_id"), session_window(col("tsm"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("sess_start"),
        unix_micros(col("session_window.end")).as("sess_end"),
        col("n_events"))
      .orderBy("user_id", "sess_start")
  }

  /** q92: RECURSIVE CTE session chains — Spark 4's native
    * `WITH RECURSIVE` (SPARK-24497) exercised on a real path problem:
    * every session-start event walks its successor chain (the user's
    * next event within the 30-min gap) and the chain aggregate must
    * reproduce q52's session sizes and durations exactly — three
    * independent formulations of one contract (q52 lag windows, q89
    * session_window, q92 recursion; RecursiveChainSpec pins q92 == q52
    * row-for-row).
    *
    * The recursion is ACYCLIC BY CONSTRUCTION (successor timestamps
    * strictly advance, NULL at chain end), which matters because Spark
    * rejects UNION-distinct inside recursive CTEs — UNION ALL on a
    * cyclic graph would never terminate. Each event joins exactly one
    * chain, so the total recursive work is ONE row per event and the
    * recursion depth is the longest session (4 at sf0.1; the level
    * limit guards runaways). Both engines run the IDENTICAL statement
    * modulo `div`/`//`. Scale posture: each recursion level is one
    * (user_id, event_id)-keyed join — fine when sessions are short
    * (depth bounds rounds); for unbounded chains the window/
    * session_window forms remain the scale path, same relationship as
    * d34's loop vs its recursive oracle. */
  val q92RecursiveChain = Q(
    "q92_recursive_chain",
    """WITH RECURSIVE x AS (SELECT user_id, event_id, epoch_ns(ts) AS tsn FROM events),
       s AS (SELECT user_id, event_id, tsn,
                    LEAD(event_id) OVER (PARTITION BY user_id ORDER BY tsn, event_id) AS nid,
                    LEAD(tsn) OVER (PARTITION BY user_id ORDER BY tsn, event_id) AS nts,
                    LAG(tsn) OVER (PARTITION BY user_id ORDER BY tsn, event_id) AS pts
             FROM x),
       chain(user_id, root_id, event_id, tsn, root_tsn) AS (
         SELECT user_id, event_id, event_id, tsn, tsn FROM s
         WHERE pts IS NULL OR tsn - pts > 1800000000000
         UNION ALL
         SELECT c.user_id, c.root_id, s.nid, s.nts, c.root_tsn
         FROM chain c JOIN s ON s.user_id = c.user_id AND s.event_id = c.event_id
         WHERE s.nid IS NOT NULL AND s.nts - s.tsn <= 1800000000000)
       SELECT user_id, root_id, CAST(COUNT(*) AS BIGINT) AS n_events,
              CAST((MAX(tsn) - MIN(root_tsn)) // 1000000000 AS BIGINT) AS dur_s
       FROM chain GROUP BY user_id, root_id
       ORDER BY user_id, root_id""") { (spark, dir) =>
    // r12 optimization: the recursive step references `s` once per
    // iteration, and an inline CTE re-runs the LEAD/LAG windows (scan +
    // user_id shuffle + sort) at EVERY recursion level. Materializing
    // `s` as a checkpointed view makes each level one keyed join against
    // materialized rows — the windows run once, rows identical (the
    // checkpoint runs inside the timed query; the oracle statement is
    // unchanged).
    val s = Views.sql(spark, "q92_events" ->
      T(spark, dir, "events").selectExpr("user_id", "event_id", "ts as tsn"))(
      """SELECT user_id, event_id, tsn,
                LEAD(event_id) OVER (PARTITION BY user_id ORDER BY tsn, event_id) AS nid,
                LEAD(tsn) OVER (PARTITION BY user_id ORDER BY tsn, event_id) AS nts,
                LAG(tsn) OVER (PARTITION BY user_id ORDER BY tsn, event_id) AS pts
         FROM q92_events""")
      .ckpt
    // the anchor names every column: each recursion level's rows come
    // back as a LogicalRDD, and a duplicate name (event_id, tsn twice)
    // makes it drop their statistics (a LogicalRDD WARN per run), so the
    // next level's join plans against a default-size input
    Views.sql(spark, "q92_s" -> s)(
      """WITH RECURSIVE
         s AS (SELECT * FROM q92_s),
         chain(user_id, root_id, event_id, tsn, root_tsn) AS (
           SELECT user_id, event_id AS root_id, event_id, tsn, tsn AS root_tsn FROM s
           WHERE pts IS NULL OR tsn - pts > 1800000000000
           UNION ALL
           SELECT c.user_id, c.root_id, s.nid, s.nts, c.root_tsn
           FROM chain c JOIN s ON s.user_id = c.user_id AND s.event_id = c.event_id
           WHERE s.nid IS NOT NULL AND s.nts - s.tsn <= 1800000000000)
         SELECT user_id, root_id, CAST(COUNT(*) AS BIGINT) AS n_events,
                CAST((MAX(tsn) - MIN(root_tsn)) div 1000000000 AS BIGINT) AS dur_s
         FROM chain GROUP BY user_id, root_id
         ORDER BY user_id, root_id""")
  }

  val all: Seq[Q] =
    Seq(q51EventWindows, q52Sessionization, q57ResampleFfill, q70Funnel,
      q71SlidingWindows, q73WindowedDedup, q78CohortRetention,
      q79GapDetection, q80Scd2History, q86PeriodOverPeriod, q89SessionWindow,
      q92RecursiveChain)
}
