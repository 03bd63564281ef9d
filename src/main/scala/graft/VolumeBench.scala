package graft

import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, Exchange, ShuffleExchangeLike}
import org.apache.spark.sql.functions._

/** Empirical near-linear-scaling gauntlet: the one claim the per-round
  * bench argues only from plan shape is "survives 100×" — this main
  * MEASURES it. It synthesizes a [[Mult]]× corpus from the SF tables
  * (deterministic replicas, derived like SkewBench's hostile tables),
  * runs the top-cost operator tier at BOTH scales, and reports each
  * query's per-row cost ratio
  *
  *     cost_ratio = t_big / (Mult × t_base)
  *
  * — 1.0 is perfectly linear scaling, and the gate is
  * [[CostRatioBound]] (1.5×; sub-linear
  * ratios < 1 are common because fixed per-query overheads amortize).
  * It also counts Exchange/BroadcastExchange nodes in every plan each
  * query runs (its reuse-point checkpoint jobs and its returned frame's
  * pre-execution plan) at both scales: a query that picks up a NEW
  * exchange at 10× (e.g. a "dimension" crossing the broadcast
  * threshold into a shuffle join) is exactly the 100×-scale regression
  * the plan gates cannot see at one SF, and is flagged as a violation.
  *
  * Replica design — the corpus must grow 10× WITHOUT changing the
  * workload's asymptotic character:
  *  - documents: every word of replica k is suffixed `_rk`, so replicas
  *    share NO shingles with each other or the original — near-dup
  *    DENSITY stays constant and dedup pair output scales exactly
  *    linearly (tiny perturbations instead would put every doc in a
  *    10-clique: quadratic OUTPUT, measuring the corpus, not the
  *    engine). n_chars is recomputed from the mutated text.
  *  - embeddings: per-component deterministic jitter (±0.5e-3 scale),
  *    preserving cluster geometry/labels while avoiding 10× exact-dup
  *    piles that the quadratic-output contracts (d31/m44) exclude.
  *  - lineitem/orders: order keys offset per replica (FK preserved);
  *    part/supplier/customer keys untouched, so dimension fan-in grows
  *    10× — the realistic direction.
  *  - events: event/user ids offset per replica — 10× users, constant
  *    per-user history, the workload a bigger deployment actually has.
  *
  * Tables are written once to /tmp keyed by source content
  * ([[graft.operators.Scale.sourceKey]]) and reused; dims are copied
  * verbatim. Prints ONE JSON line (volumebench record shape).
  */
object VolumeBench {

  /** Corpus multiplier — env-overridable so the same harness can run
    * the standing 10× gauntlet AND deeper spot-audits (the 100× tier on
    * the linear-contract entries). The KNN-graph family (s40 and its
    * consumers x107/x118/x119) joined the linear tier when the
    * per-bucket candidate cap landed ([[graft.operators.Similarity]]
    * KnnBucketCap): candidates are ≤ N·7·cap however populous a bucket
    * grows, so the family scales linearly at every mult. */
  val Mult = sys.env.getOrElse("SPARK_GRAFT_VOLUME_MULT", "10").toInt
  val CostRatioBound = 1.5
  /** The audited top-cost tier, with the heavies x116 (shard export),
    * TPC-H Q18/Q9 and d39. m49 audits the media-components tier in place
    * of m46: an in-timer measurement showed m46's 4×256-bucket pigeonhole join
    * generating candidates quadratically (cost_ratio 1.8 at 10×) — m46
    * is now contract-confined at base SF (the d30 precedent) and m49's
    * 35-bit-matched candidate tables are the production tier. */
  val Queries = Seq(
    "d46_prefix_join", "d35_components_star", "m49_media_components_scalable",
    "q81_winsorized_agg", "q83_mad_outliers", "q85_equidepth_hist",
    "x103_cluster_split", "x107_graph_pagerank", "s43_ivfpq_knn",
    "x90_corpus_pipeline",
    "x116_shard_export", "x117_incremental_export",
    "q48_tpch18", "q39_tpch09", "d39_best_keeper",
    // x118 audits the iterative-graph family's newest member (LPA over
    // the KNN graph): per-sweep cost is O(edges) by design — the 10×
    // ratio and pinned exchange count make that claim empirical
    "x118_label_communities",
    // the capped candidate stage itself (s40) and the graph family's
    // sampler (x119): with the per-bucket cap the whole family is
    // linear-contract, so it runs at EVERY mult including the 100× tier
    "s40_knn_graph", "x119_community_sample",
    // the sampling layer: x122 rides d34's capped graph plus a
    // corpus left join; x123 rides d28's pairs plus two probe joins
    // against the bucket-parallel global index; x124 composes x121's
    // broadcast cell table with x122's component join — all claim linear
    "x122_dup_weights", "x123_contrastive_pairs", "x124_sampling_manifest",
    // x125's lookup runs on cell tables only; the corpus contributes one
    // histogram groupBy and one broadcast re-attach — linear by shape
    "x125_quantile_map",
    // x127's mutual restriction bounds degree at 3 over s40's capped
    // graph — wedges ≤ 3N, every join keyed; linear with the family
    "x127_graph_triangles",
    // d47: line segmentation is map-only, the line-df model collapses
    // onto hashed count cells, the filter is a keyed anti-join, the
    // rebuild regroups per doc — linear end to end
    "d47_line_dedup",
    // x126: the admission batch is a fixed fraction of the corpus, the
    // d37 index probe is batch-proportional, the quantile state merge
    // is cell-domain-bounded — the incremental contract measured
    "x126_incremental_manifest",
    // x129: feature explode is map-only; both models are bounded at
    // DsirBuckets cells and broadcast; per-doc aggregate — linear
    "x129_dsir_weights",
    // x130: x127's bounded lcc table + one keyed community rollup
    "x130_community_cohesion",
    // m50: m49's audited candidate machinery + a rank-1 window keyed by
    // component + a component-keyed keeper re-attach (d39's posture)
    "m50_media_best_keeper")

  /** Synthesize the Mult× tables into `outDir` (idempotent per source
    * content — gated on the _SUCCESS marker). */
  def generate(spark: SparkSession, sfDir: String, outDir: String): Unit = {
    if (new java.io.File(s"$outDir/_SUCCESS").exists()) return
    def t(n: String): DataFrame = spark.read.parquet(s"$sfDir/$n.parquet")
    val reps = spark.range(0, Mult).select(col("id").cast("long").as("rep"))

    // documents: word-suffix mutation per replica (see header)
    val docs = t("documents")
    val maxDoc = docs.agg(max("doc_id")).head().getLong(0) + 1
    docs.crossJoin(reps)
      .select(
        (col("doc_id") + col("rep") * maxDoc).as("doc_id"),
        expr("array_join(transform(split(text, ' '), " +
          "w -> if(rep = 0, w, concat(w, '_r', rep))), ' ')").as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    // embeddings: deterministic per-component jitter per replica
    val emb = t("embeddings")
    val maxVec = emb.agg(max("vec_id")).head().getLong(0) + 1
    emb.crossJoin(reps)
      .select(
        (col("vec_id") + col("rep") * maxVec).as("vec_id"),
        expr("transform(embedding, (x, i) -> cast(x + " +
          "(pmod(hash(vec_id, rep, i), 1000) - 500) * 1.0e-6 as float))")
          .as("embedding"),
        col("label"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    // orders/lineitem: order-key offsets per replica, FK preserved
    val ord = t("orders")
    val maxOrd = ord.agg(max("o_orderkey")).head().getLong(0) + 1
    ord.crossJoin(reps)
      .withColumn("o_orderkey", col("o_orderkey") + col("rep") * maxOrd)
      .drop("rep")
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/orders.parquet")
    t("lineitem").crossJoin(reps)
      .withColumn("l_orderkey", col("l_orderkey") + col("rep") * maxOrd)
      .drop("rep")
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")

    // events: id/user offsets per replica (ts via T — epoch-nano long)
    val ev = graft.operators.T(spark, sfDir, "events")
    val maxEvt = ev.agg(max("event_id")).head().getLong(0) + 1
    val maxUser = ev.agg(max("user_id")).head().getLong(0) + 1
    ev.crossJoin(reps)
      .withColumn("event_id", col("event_id") + col("rep") * maxEvt)
      .withColumn("user_id", col("user_id") + col("rep") * maxUser)
      .drop("rep")
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")

    // dims copied verbatim
    for (n <- Seq("region", "nation", "customer", "supplier", "part"))
      t(n).write.mode("overwrite").parquet(s"$outDir/$n.parquet")

    new java.io.FileOutputStream(s"$outDir/_SUCCESS").close()
  }

  /** (shuffle exchanges, broadcast exchanges) of each distinct plan entry
    * `name` over `dir` runs ([[Harness.entryPlans]]: the executed plans of
    * its reuse-point checkpoint jobs, where every stage before a reuse
    * point runs, and the returned frame's pre-execution plan), keyed by
    * the operator tree of its optimized logical plan: expressions are left
    * out, so the same plan over data-derived values (a cut, a codebook,
    * an output path) keys alike at both scales, and so does a plan whose
    * join flipped from broadcast to shuffle, a physical choice. A plan
    * that runs more than once (a loop round) keeps the most exchanges any
    * run planned. The trees are walked, not their printout: an executed
    * adaptive plan prints its initial plan next to its final one, and
    * would count twice. A `ReusedExchange` is a pointer, not a new
    * shuffle or broadcast, so a scale-dependent reuse difference cannot
    * trip or mask the new-exchange gate. */
  private def exchanges(spark: SparkSession, name: String, dir: String): Map[String, (Int, Int)] = {
    val aqe = new AdaptiveSparkPlanHelper {}
    Harness.entryPlans(spark, name, dir).map { case (_, qe) =>
      val found = aqe.collectWithSubqueries(qe.executedPlan) { case e: Exchange => e }
      def shape(p: LogicalPlan): String = p.nodeName + p.children.map(shape).mkString("(", ",", ")")
      shape(qe.optimizedPlan) ->
        (found.count(_.isInstanceOf[ShuffleExchangeLike]),
          found.count(_.isInstanceOf[BroadcastExchangeLike]))
    }.groupMapReduce(_._1)(_._2) { case ((s1, b1), (s2, b2)) => (s1 max s2, b1 max b2) }
  }

  /** Entry `name`'s exchanges at the base and the big scale, summed over
    * the plans it runs at both: a loop that converges in more rounds at
    * the bigger scale runs plans the base run never reached (HashMin's
    * later rounds read a projected label frame, its first round does
    * not), and those are more rounds, not a new exchange. */
  private def exchangesAtBoth(spark: SparkSession, name: String, base: String,
      big: String): ((Int, Int), (Int, Int)) = {
    val (b, g) = (exchanges(spark, name, base), exchanges(spark, name, big))
    val both = (b.keySet & g.keySet).toSeq
    def sum(m: Map[String, (Int, Int)]) = (both.map(m(_)._1).sum, both.map(m(_)._2).sum)
    (sum(b), sum(g))
  }

  def main(args: Array[String]): Unit = {
    // contract check runs against the FULL tier definition — an explicit
    // subset arg (the 100× spot-audit idiom) is an operator action, not
    // a silent skip
    ScaleContracts.verifyAndRecord("volume", Queries)
    val sfDir = Harness.sfDir
    val spark = Harness.session()

    val volDir = sys.env.getOrElse("SPARK_GRAFT_VOLUME_DIR",
      s"${System.getProperty("java.io.tmpdir")}/graft_volume_" +
        graft.operators.Scale.sourceKey(sfDir, "documents") + s"_x$Mult")
    val genSec = Harness.time { generate(spark, sfDir, volDir) }

    // per entry: one untimed warm-up at the base SF absorbs codegen and
    // class-load constants, then its two scales alternate over 3 passes,
    // so both time the entry's generated code hot and the min on BOTH
    // sides drops a single host-noise spike, which would distort the
    // ratio in either direction. An entry's samples stay together:
    // spread over every entry's keys, each sample recompiles its code
    // (more classes than the codegen cache holds) while @big finds what
    // @base just compiled, and cost_ratio reads low
    val names = Queries.filter(Harness.selects(args.toSeq, _))
    val runs = names.map { n =>
      val base = Harness.entry(spark, n, sfDir).copy(key = s"$n@base")
      base.reset()
      Try(base.run())
      Harness.run(3, Seq(base, Harness.entry(spark, n, volDir).copy(key = s"$n@big")))
    }
    val run = Harness.Run(runs.flatMap(_.samples), runs.flatMap(_.errors))
    val t = run.mins.toMap
    val plans = names.filter(n => t.contains(s"$n@base") && t.contains(s"$n@big"))
      .map(n => n -> Try(exchangesAtBoth(spark, n, sfDir, volDir)))
    val results = plans.collect { case (n, Success(((e1, b1), (e10, b10)))) =>
      val (t1, t10) = (t(s"$n@base"), t(s"$n@big"))
      n -> Map("t_base" -> t1, "t_big" -> t10,
        "cost_ratio" -> t10 / (Mult * t1), "exch_base" -> e1.toDouble,
        "exch_big" -> e10.toDouble, "bexch_base" -> b1.toDouble,
        "bexch_big" -> b10.toDouble)
    }
    val errors = run.errors ++ plans.collect { case (n, Failure(e)) => n -> Harness.reject(e) }
    // the audited 10× tier is engineered SCALE-INVARIANT: any new
    // exchange is a violation (this strictness is what caught s43's
    // corpus-sized-frame broadcast flip). Beyond 10×, a new
    // shuffle exchange that arrives WITH a lost broadcast is Spark's
    // size-based re-plan of a genuinely grown join side (e.g. TPC-H Q9's
    // lineitem⋈orders going SMJ when orders is 100× — the behavior a
    // 100 TB deployment WANTS) — reported under "replans", while a new
    // exchange with no broadcast lost stays a violation (that shape is
    // a lost partitioning reuse, never physics). The excuse is BOUNDED:
    // one BHJ→SMJ flip costs at most 2 new shuffles (the SMJ's two
    // sides) plus 1 more where the flip invalidates a downstream
    // partitioning reuse (the join output repartitions on the join key,
    // so a consumer keyed otherwise regains its exchange — d39's
    // verified 100× shape: 1 lost broadcast → +2 SMJ sides +1 component
    // regroup). New shuffles beyond 3× the lost broadcasts cannot be
    // explained by flips and stay violations.
    def isReplan(m: Map[String, Double]): Boolean =
      m("bexch_big") < m("bexch_base") &&
        m("exch_big") - m("exch_base") <= 3 * (m("bexch_base") - m("bexch_big"))
    val strict = Mult <= 10
    val replans = results.collect { case (n, m)
      if !strict && isReplan(m) => n }
    val violations =
      results.collect { case (n, m)
        if m("cost_ratio") > CostRatioBound => s"$n:cost_ratio" } ++
      results.collect { case (n, m)
        if m("exch_big") > m("exch_base") && (strict || !isReplan(m)) =>
          s"$n:new_exchange" } ++
      errors.map(_._1)
    // QUALITY axis for the capped KNN-graph family: recall@3 vs the
    // exact top-3 on a hash-ranked query sample, at the shipped LSH
    // resolution AND at the adaptive-resolution rule, base and mult×
    // corpora — the number that shows what the per-bucket cap does to
    // the graph as bucket populations grow (cost stays linear either
    // way; this records what resolution buys back).
    val recall = Try {
      if (!names.contains("s40_knn_graph")) "{}"
      else {
        def fmt(m: Map[String, Double]) =
          JsonOut.obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString })
        spark.sharedState.cacheManager.clearCache()
        val base = graft.operators.Similarity.knnRecallProbe(spark, sfDir)
        val big = graft.operators.Similarity.knnRecallProbe(spark, volDir)
        JsonOut.obj(Seq("base" -> fmt(base), "big" -> fmt(big)))
      }
    }
    println(Harness.record("volume_total", results.map(_._2("t_big")).sum,
      Some(JsonOut.obj(results.map { case (k, m) =>
        k -> JsonOut.obj(m.map { case (f, v) => f -> v.toString }) })),
      errors ++ recall.failed.toOption.map(e => "knn_recall_probe" -> Harness.reject(e)),
      "mult" -> Mult.toString, "cost_ratio_bound" -> CostRatioBound.toString,
      "gen_sec" -> genSec.toString,
      "violations" -> JsonOut.arr(violations.map(JsonOut.str)),
      "replans" -> JsonOut.arr(replans.map(JsonOut.str)),
      "recall" -> recall.getOrElse("{}")))
    spark.stop()
    if (violations.nonEmpty) sys.exit(1)
  }
}
