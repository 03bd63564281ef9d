package graft.operators

import graft.{Harness, SparkEntry, SparkSpec}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Smoke + shape checks for the Part-B relational surface. Value-level
  * correctness is enforced by the DuckDB oracle (tools/check.py locally,
  * the driver's t2 gate per round). */
class RelationalSpec extends SparkSpec {

  test("every query name is unique and every oracle key has a query") {
    val names = SparkEntry.allQueries.map(_.name)
    assert(names.distinct.size == names.size)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  // every registered query (all modules) must run and return rows at the
  // smallest SF — regressions surface without the oracle. Queries in
  // TpcH.emptyAtTinySf are data-dependently empty at sf0.001 (DuckDB
  // agrees on the same SQL): for those, pin emptiness at sf0.001 (the
  // exemption rots loudly if the data changes) and non-emptiness at
  // sf0.01 (a vacuously-broken query can't hide behind it).
  for (q <- SparkEntry.allQueries) {
    if (TpcH.emptyAtTinySf(q.name)) {
      test(s"${q.name} is empty at sf0.001 but returns rows at sf0.01") {
        assert(q.fn(spark, sfDir).count() == 0,
          s"${q.name} no longer empty at sf0.001 — drop it from emptyAtTinySf")
        assert(q.fn(spark, "/root/testdata/sf0.01").count() > 0,
          s"${q.name} returned no rows even at sf0.01")
      }
    } else {
      test(s"${q.name} runs at sf0.001 and returns rows") {
        val df = q.fn(spark, sfDir)
        assert(df.count() > 0, s"${q.name} returned no rows")
      }
    }
  }

  test("q01 aggregates match a hand computation") {
    import org.apache.spark.sql.functions._
    val df = Relational.q01PricingSummary.fn(spark, sfDir)
    val li = T(spark, sfDir, "lineitem")
      .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02 00:00:00")))
    val total = df.agg(sum("count_order")).head.getLong(0)
    assert(total == li.count())
  }

  test("q25: HLL++ estimate within 5% of exact (raw sketch values)") {
    import org.apache.spark.sql.functions._
    val raw = T(spark, sfDir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey")).as("approx"),
        countDistinct(col("l_partkey")).as("exact"))
      .collect()
    assert(raw.nonEmpty)
    raw.foreach { r =>
      val (a, e) = (r.getLong(1), r.getLong(2))
      assert(math.abs(a - e).toDouble / e <= 0.05, s"${r.getString(0)}: $a vs $e")
    }
  }

  test("q19 bands partition all orders exactly once") {
    import org.apache.spark.sql.functions._
    val df = Relational.q19PriceBands.fn(spark, sfDir)
    val n = df.agg(sum("n")).head.getLong(0)
    assert(n == T(spark, sfDir, "orders").count())
  }

  test("q61: data has real ties — rank diverges from row_number and gaps exist") {
    import org.apache.spark.sql.functions._
    val df = Relational2.q61RankDenseRank.fn(spark, sfDir).cache()
    // tied rows: rank == same value but row_number differs
    assert(df.filter(col("rnk") =!= col("rn")).count() > 0,
      "no ties in the window order — rank degenerates to row_number")
    // gapped vs gapless: after a tie group, rank jumps past dense_rank
    assert(df.filter(col("rnk") =!= col("drnk")).count() > 0,
      "rank never diverged from dense_rank — no gap was exercised")
    df.unpersist()
  }

  test("q62: from_json(to_json(s)) round-trips every row") {
    import org.apache.spark.sql.functions._
    val df = Json.q62JsonShape.fn(spark, sfDir).cache()
    assert(df.filter(!col("roundtrip_ok")).count() == 0)
    // the rendering itself is pinned: compact, field order (k, et)
    val j = df.select("j").head.getString(0)
    assert(j.matches("""\{"k":-?\d+,"et":"[^"]*"\}"""), s"unexpected rendering: $j")
    df.unpersist()
  }

  test("q28 pivot: wide columns re-sum to the per-flag totals") {
    import org.apache.spark.sql.functions._
    val wide = Relational2.q28Pivot.fn(spark, sfDir)
      .select(col("l_returnflag"),
        (coalesce(col("qty_f"), lit(0.0)) + coalesce(col("qty_o"), lit(0.0))).as("q"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val long = T(spark, sfDir, "lineitem").groupBy("l_returnflag")
      .agg(Num.dsum(col("l_quantity")).as("q"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(wide == long, "pivot must redistribute, never drop, quantity")
  }

  test("q29 unpivot: exactly one long row per (segment, metric)") {
    val rows = Relational2.q29Unpivot.fn(spark, sfDir).collect()
    val segs = T(spark, sfDir, "customer").select("c_mktsegment").distinct().count()
    assert(rows.length.toLong == 2 * segs)
    assert(rows.map(_.getString(1)).toSet == Set("n_customers", "total_acctbal"))
  }

  test("q28 pivot: single aggregate, no value-discovery pass, no join") {
    val p = Relational2.q28Pivot.fn(spark, sfDir)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(!p.contains("Join"), "explicit pivot values must not plan a join")
    // count detail headers ("(N) Scan parquet") — unambiguous one-per-node
    // form in FormattedMode (tree lines carry varying codegen/branch
    // prefixes)
    assert("\\(\\d+\\) Scan parquet".r.findAllIn(p).size == 1,
      "explicit pivot values must not add a distinct-discovery scan")
    assert(p.contains("partial_sum") || p.contains("Partial"))
  }

  test("q58 ntile: four quartiles per segment, balanced within one row") {
    val rows = Relational2.q58Ntile.fn(spark, sfDir).collect()
    rows.groupBy(_.getString(0)).foreach { case (seg, rs) =>
      val byTile = rs.groupBy(_.getLong(3)).map { case (t, g) => t -> g.size }
      assert(byTile.keySet == Set(1L, 2L, 3L, 4L), s"$seg: missing tiles")
      assert(byTile.values.max - byTile.values.min <= 1,
        s"$seg: ntile must balance within 1")
    }
  }

  test("q57 resample: dense spine, gaps carry the previous filled value") {
    val rows = Events.q57ResampleFfill.fn(spark, sfDir).collect()
    val users = T(spark, sfDir, "events").select("user_id").distinct().count()
    // day span derived INDEPENDENTLY from the raw table — counting the
    // output's own distinct days would pass even if the spine dropped
    // gap days for every user at once
    val span = T(spark, sfDir, "events")
      .selectExpr("max(ts div 86400000000000) - min(ts div 86400000000000) + 1 as d")
      .head.getLong(0)
    assert(rows.length.toLong == users * span, "spine must be dense: users x days")
    rows.groupBy(_.getLong(0)).foreach { case (u, rs) =>
      val sorted = rs.sortBy(_.getLong(1))
      var prev: Option[Double] = None
      sorted.foreach { r =>
        val hasEvent = r.getLong(2) == 1L
        if (hasEvent) {
          assert(!r.isNullAt(3), s"user $u day ${r.getLong(1)}: event day must fill")
          prev = Some(r.getDouble(3))
        } else prev match {
          case None => assert(r.isNullAt(3),
            s"user $u day ${r.getLong(1)}: no fill before the first event")
          case Some(v) => assert(r.getDouble(3) == v,
            s"user $u day ${r.getLong(1)}: gap must carry the previous value")
        }
      }
      assert(prev.nonEmpty, s"user $u: spine user with no events is impossible")
    }
  }

  test("q81 then q83 leave the CacheManager empty; q83 scans lineitem once") {
    // each robust-statistics entry makes its own single lineitem pass and
    // checkpoints the cells: no entry shares cached state with another
    val cm = spark.sharedState.cacheManager
    cm.clearCache()
    Relational2.q81WinsorizedAgg.fn(spark, sfDir).collect()
    assert(cm.isEmpty, "q81 left a cached frame behind")
    val plans = Harness.entryPlans(spark, "q83_mad_outliers", sfDir)
    assert(cm.isEmpty, "q83 left a cached frame behind")
    assert(plans.count(_._1 == "localCheckpoint") === 3,
      "q83 checkpoints the cells, the price-axis cum and the deviation cum")
    val aqe = new AdaptiveSparkPlanHelper {}
    val scans = plans.flatMap { case (_, qe) =>
      aqe.collectWithSubqueries(qe.executedPlan) {
        case s: FileSourceScanExec
            if s.relation.location.rootPaths.exists(_.getName == "lineitem.parquet") => s
      }
    }
    assert(scans.size === 1,
      "q83's median, MAD and outlier counts all derive from one lineitem pass")
  }

  test("entry returns rows at sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
