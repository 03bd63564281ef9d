package graft.operators

import org.apache.spark.sql.execution.FormattedMode
import graft.{Harness, SparkEntry, SparkSpec}

/** Plan-regression gates: the scale-critical plan properties claimed in
  * README/PLANS.md are asserted, so a refactor that silently loses
  * pushdown, pruning, or broadcast fails CI — not a code review. */
class PlanSpec extends SparkSpec {

  // the returned frame's plan, after the plan of every execution its
  // construction ran (a Ckpt reuse point's checkpoint job, a collect):
  // the frame's own plan stops at its checkpoints' LogicalRDDs
  private def plan(name: String): String =
    Harness.explainEntry(spark, name, sfDir, FormattedMode)

  test("q01: filter pushed into the parquet scan, columns pruned") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    assert(!p.contains("l_orderkey"), "unused columns must not be read")
  }

  test("q02: all four dimension joins broadcast") {
    val p = plan("q02_revenue_by_nation")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4)
    assert(!p.contains("SortMergeJoin"))
  }

  test("q01: aggregation is partial (map-side) then final") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("partial_sum") || p.contains("Partial"))
  }

  test("pa61 castToProto: pushes column pruning through the cast") {
    val p = plan("pa61_cast_normalize")
    // the source selects l_shipdate (an extra column the cast drops); the
    // scan must not read it
    assert(!p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int," +
      "l_quantity:double,l_returnflag:string,l_shipdate"))
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double,l_returnflag:string"))
  }

  // the analyzed logical plan of every execution the entry runs
  // (Harness.entryPlans): a stage before a Ckpt reuse point is only in
  // its checkpoint job's plan
  private def analyzed(name: String): String =
    Harness.entryPlans(spark, name, sfDir).map(_._2.analyzed.toString).mkString("\n")

  test("d27: hot-shingle DF cap is planned (anti-join against the hot set)") {
    val p = analyzed("d27_ngram_jaccard")
    assert(p.contains("LeftAnti") && p.contains("cast(64 as bigint)"),
      "the MaxShingleDf cap stage must exist in the plan")
  }

  test("d28: hot-shingle DF cap is planned before signature computation") {
    val p = analyzed("d28_minhash_lsh")
    assert(p.contains("LeftAnti") && p.contains("cast(64 as bigint)"),
      "the MaxShingleDf cap stage must exist in the plan")
  }

  test("x90: near-dup signature stage is capped (anti-join against the hot set)") {
    val p = analyzed("x90_corpus_pipeline")
    assert(p.contains("LeftAnti") && p.contains("cast(64 as bigint)"),
      "the MaxShingleDf cap stage must exist inside x90's minhash stage")
  }

  test("x90: quality gate is the single-pass token_quality, not 3 substituted splits") {
    val p = analyzed("x90_corpus_pipeline")
    assert(p.contains("token_quality"),
      "the scan filter must use the native one-pass predicate")
    assert(!p.contains("filter(split("),
      "the stop-ratio filter must not re-tokenize inside the pushed predicate")
  }

  test("d31: block-partitioned — tile equi-joins only, no cartesian/nested-loop") {
    val p = plan("d31_embedding_neardup")
    assert(!p.contains("CartesianProduct"), "d31 must tile the pair space, not cross-join it")
    assert(!p.contains("BroadcastNestedLoopJoin"), "d31 must equi-join on block keys")
  }

  test("t23: token stats computed ONCE per row (collapse does not re-inline)") {
    val p = SparkEntry.queries("t23_quality_score")(spark, sfDir)
      .queryExecution.optimizedPlan.toString
    assert("token_stats".r.findAllIn(p).size === 1,
      "the struct alias must survive CollapseProject as a single evaluation")
    assert(!p.contains("split("), "no residual split-based tokenization")
  }

  test("s33: hyperplane weights are a driver-side literal (no md5 per row)") {
    assert(!plan("s33_ann_lsh").toLowerCase.contains("md5"))
  }

  test("s36: multi-probe stays a bucket equi-join (no cartesian, no per-row md5)") {
    val p = plan("s36_ann_multiprobe")
    assert(!p.toLowerCase.contains("md5"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the 7-bucket probe must explode the query side, never cross-join the data")
  }

  test("s32: cosine runs as the native array_dot inside whole-stage codegen") {
    // AQE's pre-execution formatted plan omits codegen markers (they are
    // attached per query stage at runtime) — disable it for this gate.
    // Formatted mode tags codegen'd operators with "[codegen id : N]".
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = plan("s32_knn_bruteforce")
      assert(p.contains("array_dot"), "the native expression must be in the plan")
      assert(p.contains("[codegen id :"), "the projection must stay codegen'd")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("x91: map-side WindowGroupLimit caps rows before the shuffle") {
    val p = plan("x91_source_mix")
    assert(p.contains("WindowGroupLimit"),
      "rnk <= K must trigger InferWindowGroupLimit")
    assert(p.contains("Partial"),
      "the partial (pre-shuffle) group limit is the scale guarantee: " +
        "each task forwards at most K rows per source")
    assert(!p.contains("ReadSchema: struct<doc_id:bigint,text"),
      "text must be pruned from the scan")
  }

  test("x132: per-source priority rank caps map-side; text pruned") {
    val p = plan("x132_source_priority_sample")
    assert(p.contains("WindowGroupLimit"),
      "rnk <= K must trigger InferWindowGroupLimit")
    assert(p.contains("Partial"),
      "the partial (pre-shuffle) group limit is the scale guarantee: " +
        "each task forwards at most K rows per source")
    assert(!p.contains("text"), "text must be pruned from the scan")
  }

  test("x133: DSIR selection rank caps map-side; models broadcast") {
    val p = plan("x133_dsir_selection")
    assert(p.contains("WindowGroupLimit") && p.contains("Partial"),
      "rnk <= K must cap map-side before the shuffle")
    assert(p.contains("BroadcastHashJoin"),
      "the 16k-cell models must broadcast into the scoring join")
  }

  test("t29: gram counting is partial+final agg, no cartesian") {
    val p = plan("t29_repetition")
    assert(p.contains("partial_max") || p.contains("Partial"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("d33: probe join is a bucket equi-join (no cartesian, no per-row md5)") {
    val p = plan("d33_embedding_neardup_lsh")
    assert(!p.toLowerCase.contains("md5"),
      "hyperplane weights must stay a driver-side literal")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "candidates must come from the bucket equi-join, never a cross join")
  }

  test("q60: correlated scalar subquery is decorrelated (one agg + join)") {
    val p = plan("q60_correlated_subquery")
    assert(!p.contains("Subquery"),
      "the per-row subquery must be rewritten, never executed per row")
    assert(p.contains("Join") && p.contains("Aggregate"),
      "decorrelation = aggregate once, join back")
  }

  test("x94: running sum is bucket-partitioned and offsets broadcast back") {
    val p = plan("x94_token_budget_mix")
    // the wide window must partition by (source, b) — never source alone:
    // one window partition per source is the single-reducer hot-source sort
    assert(p.contains("windowspecdefinition(source#") && p.contains(", b#"),
      "running-sum window must include the range bucket in its partition key")
    // the tiny offset frame joins back via broadcast, not a shuffle join
    assert(p.contains("BroadcastHashJoin"),
      "per-bucket offsets must broadcast to the corpus side")
  }

  test("x96 assignment: centroid_argmin is map-only and stays inside whole-stage codegen") {
    // the one assignment form x95/x96/x98 use: one projection, no
    // join, no exchange, matrix as a codegen reference — O(1) plan at any K
    val res = Similarity.lloydRun(spark, sfDir, 16L)
    val e = Similarity.vecs(spark, sfDir)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = Similarity.assignCells(e, res.assignCent)
        .queryExecution.explainString(FormattedMode)
      assert(p.contains("centroid_rank"), "the native expression must be in the plan")
      assert(!p.contains("Join") && !p.contains("Exchange"),
        "assignment must be map-only — zero shuffle at any K")
      assert(p.contains("[codegen id :"), "the projection must stay codegen'd")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("x96: per-cell candidate cap is a map-side WindowGroupLimit") {
    val p = plan("x96_semdedup")
    assert(p.contains("WindowGroupLimit"),
      "mrnk <= cap must trigger InferWindowGroupLimit")
    assert(p.contains("Partial"),
      "the partial (pre-shuffle) group limit is what bounds a hot cell")
  }

  test("x98: top-1-per-cell is a map-side WindowGroupLimit; centroid table broadcasts") {
    val p = plan("x98_cluster_reps")
    assert(p.contains("WindowGroupLimit") && p.contains("Partial"),
      "rnk = 1 must cap each cell to one candidate before the rank shuffle")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      "the K-row centroid table must broadcast, never shuffle the corpus side")
  }

  test("q64: bucketed scans, sort-merge join, zero hash exchanges end-to-end") {
    val p = plan("q64_bucketed_join")
    assert(p.contains("SortMergeJoin"),
      "merge hint must force SMJ (broadcast would hide the bucketing)")
    assert("Bucketed: true".r.findAllIn(p).size >= 2,
      "both sides must scan their bucketed layout")
    assert(!p.contains("Exchange hashpartitioning"),
      "join AND group-by must reuse the bucket partitioning — no shuffle")
  }

  test("q63: partition pruning and predicate pushdown reach the partitioned scan") {
    val p = plan("q63_partition_pruned_scan")
    assert(p.contains("PartitionFilters: [isnotnull(o_year"),
      "the o_year predicate must prune directories, not filter rows")
    assert(p.contains("= 1997)"),
      "the pruning predicate must bind the literal year")
    assert(p.contains("PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice"),
      "the price predicate must reach the parquet reader")
  }

  test("q56 as-of join: union+window, no join explosion, bounded shuffles") {
    val p = plan("q56_asof_join")
    assert(p.contains("Window"))
    assert(!p.contains("Join"), "as-of must not plan a range join")
    // pre-agg on (k,t), window on k, output sort — nothing else
    val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(p).size
    assert(exchanges <= 3, s"expected <= 3 shuffles, got $exchanges")
  }

  test("q69 interval join: binned both sides to an equi-join, never a nested loop") {
    val p = plan("q69_interval_join")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      "the overlap predicate must be a residual on the home-bin equi-join")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      "bin keys must drive a hash/merge equi-join")
  }

  test("q70 funnel: one user_id shuffle feeds all three window passes AND the distinct") {
    val p = plan("q70_funnel")
    // FormattedMode details exchanges as "(n) Exchange\nArguments:
    // hashpartitioning(…)" — count the partitioning argument, not the
    // simple-mode "Exchange hashpartitioning" one-liner
    val hashEx = "Arguments: hashpartitioning\\(user_id".r.findAllIn(p).size
    assert(hashEx === 1,
      s"the three conditional-min windows and the per-user collapse must " +
        s"reuse one user_id exchange, got $hashEx:\n${p.take(1500)}")
    assert("\\(\\d+\\) Window".r.findAllIn(p).size >= 3,
      "all three funnel stages must be window passes over the same partitioning")
  }

  test("s38: PQ encode is map-only codebook_argmin — no assignment join or window") {
    val p = analyzed("s38_pq_knn")
    assert(p.contains("codebook_argmin"),
      "encode must run through the codegen'd expression, not a join")
    // the only windows in the plan are the ADC top-R and final top-5
    // ranks; the per-(vector, subspace) assignment window must be gone
    val windows = "row_number".r.findAllIn(p).size
    assert(windows <= 2, s"expected only the two ranking windows, got $windows")
  }

  test("q71 sliding windows: fan-out absorbed by map-side partials before the shuffle") {
    val p = plan("q71_sliding_windows")
    assert(p.contains("partial_count") || p.contains("Partial"),
      "the 4x window explode must be aggregated map-side, not shuffled raw")
    assert(p.contains("Generate"), "events must explode into covering windows")
  }

  test("q72 upsert merge: base passes through a broadcast anti-join, never re-keyed") {
    val p = plan("q72_upsert_merge")
    assert(p.contains("BroadcastHashJoin LeftAnti") ||
      (p.contains("LeftAnti") && p.contains("BroadcastExchange")),
      "untouched base rows must survive via broadcast anti-join (map-side)")
    assert(!"hashpartitioning\\(o_orderkey".r.findFirstIn(p).isDefined,
      "the merge must never shuffle the base on the merge key")
  }

  test("q65 range join: binned to an equi-join, never a nested loop") {
    val p = plan("q65_range_join")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      "the BETWEEN must be a residual on a bin equi-join, not a theta join")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      "bin keys must drive a hash/merge equi-join")
  }

  test("x99: rank window is bucket-partitioned; offsets broadcast back") {
    val p = plan("x99_global_index")
    // the data-wide window must carry the bucket in its partition spec —
    // a partitionBy-less window over the corpus is the single-task sort
    // this operator exists to avoid
    assert("windowspecdefinition\\(b#\\d+L?, h#".r.findFirstIn(p).nonEmpty,
      "row_number must partition by the monotone bucket (b partition key " +
        "BEFORE the h sort key — not a partitionBy-less global sort)")
    assert(p.contains("BroadcastHashJoin"),
      "per-bucket prefix offsets must broadcast to the corpus side")
  }

  test("q66: runtime bloom filter prunes the fact side before the shuffle") {
    val p = plan("q66_runtime_filter")
    assert(p.contains("might_contain"),
      "InjectRuntimeFilter must push a bloom membership test into the " +
        "fact side's pre-shuffle stage")
    assert(p.contains("SortMergeJoin"),
      "the demo targets the shuffle-join regime (broadcast joins " +
        "co-locate the filter already)")
  }

  test("q67: range-sorted layout — pushed ts filters on read, range shuffle on write") {
    val p = plan("q67_range_layout")
    assert("PushedFilters: \\[.*GreaterThanOrEqual\\(ts".r.findFirstIn(p).nonEmpty &&
      p.contains("LessThan(ts"),
      "the window predicate must reach the parquet reader, where the " +
        "layout's per-file/row-group ts min/max makes it wholesale skipping")
    val w = Scale.rangeLayoutDf(spark, sfDir).queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(w.contains("rangepartitioning(ts"),
      "the write side must range-shuffle on ts so files cover disjoint slices")
    assert("\\(\\d+\\) Sort".r.findFirstIn(w).nonEmpty,
      "rows must be sorted inside each slice")
  }

  test("q68: z-order layout — both dimensions pushed on read, zval range shuffle on write") {
    val p = plan("q68_zorder_layout")
    assert("PushedFilters: \\[.*GreaterThanOrEqual\\(user_id".r.findFirstIn(p).nonEmpty,
      "the user band must reach the parquet reader")
    assert("GreaterThanOrEqual\\(ts".r.findFirstIn(p).nonEmpty &&
      p.contains("LessThan(ts"),
      "the time window must reach the parquet reader alongside the user band")
  }

  test("t34: surprisal total is a broadcast, never a shuffle of the token stream") {
    // the 1-row corpus total rides a BroadcastNestedLoopJoin/broadcast
    // exchange; the vocab join is deliberately NOT pinned to broadcast —
    // a web-scale whitespace vocab can be billions of rows, so that join
    // shuffles by contract and AQE upgrades it to broadcast when small
    val p = plan("t34_surprisal")
    assert(p.contains("BroadcastExchange"),
      "the 1-row total must broadcast to the token stream")
    assert(!p.contains("CartesianProduct"),
      "the total crossJoin must be the broadcast form, not a cartesian")
  }

  test("t33: token prefix sum is bucket-partitioned; offsets broadcast back") {
    val p = plan("t33_sequence_pack")
    assert("windowspecdefinition\\(b#\\d+L?, h#".r.findFirstIn(p).nonEmpty,
      "the corpus-wide running token sum must partition by the monotone " +
        "bucket — not a partitionBy-less global window")
    assert(p.contains("BroadcastHashJoin"),
      "per-bucket token-total offsets must broadcast to the corpus side")
  }

  test("q73: one (user, type, window) exchange feeds both window functions") {
    val p = plan("q73_windowed_dedup")
    val hashEx = "Arguments: hashpartitioning\\(user_id".r.findAllIn(p).size
    assert(hashEx === 1,
      s"the rank and the in-window count must reuse one exchange, got $hashEx")
  }

  test("s40: per-vector top-3 is a map-side WindowGroupLimit over the bucket join") {
    val p = plan("s40_knn_graph")
    assert(p.contains("WindowGroupLimit"),
      "rnk <= 3 must trigger InferWindowGroupLimit")
    assert(p.contains("Partial"),
      "each task must forward at most 3 candidates per vector to the rank shuffle")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      "candidates must come from the bucket equi-join, never all-pairs")
  }

  test("t36: df join is an equi-join on the hashed shingle; counts are partial+final") {
    val p = plan("t36_ngram_novelty")
    assert(p.contains("partial_count") || p.contains("Partial"),
      "the df count must absorb hot shingles map-side")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"))
  }

  test("m45: audio framing is map-only — no join, no hash exchange") {
    val p = plan("m45_audio_frames")
    assert(!p.contains("Join"), "per-blob framing must not join anything")
    assert(!p.contains("Arguments: hashpartitioning("),
      "the only exchange is the final presentation sort")
  }

  test("x104: manifest derives from the bucket-partitioned index; XOR/SUM partial") {
    val p = plan("x104_shard_manifest")
    assert("windowspecdefinition\\(b#\\d+L?, h#".r.findFirstIn(p).nonEmpty,
      "the shard cut must ride x99's bucket-partitioned rank, " +
        "never a partitionBy-less global window")
    assert(p.contains("BroadcastHashJoin"),
      "per-bucket prefix offsets must broadcast to the corpus side")
    assert(p.contains("partial_min") || p.contains("Partial"),
      "manifest XOR/SUM must combine map-side before the shard shuffle")
  }

  test("q78 cohort retention: keys-only partial distinct; scan prunes to (user_id, ts)") {
    val p = plan("q78_cohort_retention")
    assert(p.contains("partial") || p.contains("Partial"),
      "the (user, week) distinct must absorb the event stream map-side")
    assert(!p.contains("props") && !p.contains("event_type"),
      "unused event columns must not be read")
  }

  test("q79 gap detection: ONE user_id exchange, lag is a sorted-run window") {
    val p = plan("q79_gap_detection")
    val hashEx = "Arguments: hashpartitioning\\(user_id".r.findAllIn(p).size
    assert(hashEx === 1, s"gap lag needs exactly one user_id shuffle, got $hashEx")
  }

  test("q80 SCD2: one user_id exchange feeds the collapse AND the interval close") {
    val p = plan("q80_scd2_history")
    val hashEx = "Arguments: hashpartitioning\\(user_id".r.findAllIn(p).size
    assert(hashEx === 1,
      s"lag-collapse and lead-close must reuse one user_id exchange, got $hashEx")
    assert("\\(\\d+\\) Window".r.findAllIn(p).size >= 2,
      "both the change filter and the validity close must be window passes")
  }

  test("q81 winsorize: domain-bounded histogram partials; 3-row threshold broadcast") {
    val p = plan("q81_winsorized_agg")
    assert(p.contains("partial") || p.contains("Partial"),
      "the cents histogram must combine map-side")
    assert(p.contains("BroadcastHashJoin"),
      "the clamp must join the per-flag thresholds by broadcast")
    assert("windowspecdefinition\\(flag#\\d+, b#".r.findFirstIn(p).nonEmpty,
      "the cumulative count must ride the (flag, bucket)-partitioned " +
        "window — never a whole-flag cell sort (the x99 two-phase rule)")
  }

  test("q82 nearest as-of: one key-only exchange, four carried frames, no range join") {
    val p = plan("q82_asof_nearest")
    // single-column k partitioning = the union+window carry; the (k, t)
    // exchange is the events pre-aggregation, not a second carry shuffle
    val keyEx = "hashpartitioning\\(k#\\d+L?, \\d+\\)".r.findAllIn(p).size
    assert(keyEx === 1,
      s"backward and forward carries must share one key exchange, got $keyEx")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "nearest-match must never become a range-condition join explosion")
  }

  test("x107 PageRank: each sweep is a keyed join + partial-aggregated regroup") {
    // the query's own returned plan hides behind the per-round
    // localCheckpoint (lineage truncation by contract), so the gate runs
    // the sweep builder the loop materializes each round
    val p = Similarity.x107FirstSweep(spark, sfDir)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("partial") || p.contains("Partial"),
      "per-destination contributions must combine map-side")
    assert(!p.contains("CartesianProduct"), "sweeps must stay O(edges)")
  }

  test("x106: rank is sub-bucketed (no whole-source sort); position map-only") {
    val p = plan("x106_curriculum_order")
    // the retired round-6 fat stage: one window sorting a whole source by
    // (n_chars DESC, doc_id) — must never come back
    assert(!"windowspecdefinition\\(source#\\d+, n_chars#\\d+L? DESC NULLS LAST, doc_id"
      .r.findFirstIn(p).isDefined,
      "whole-source rank window is the single-partition sort; the rank " +
        "must come from the two-level offset scheme")
    // the in-partition rank is keyed by (source, n_chars, sub): each
    // partition is ≤ subWidth rows by doc_id uniqueness
    assert("\\[source#\\d+, n_chars#\\d+L?, sub#\\d+L?\\], \\[doc_id#\\d+L? ASC"
      .r.findFirstIn(p).isDefined, "rank window must partition by sub-bucket")
    // level-1 offsets: a source-keyed prefix window exists but runs over
    // the domain-bounded (source, n_chars) HISTOGRAM, never raw docs
    assert("\\[source#\\d+\\], \\[n_chars#\\d+L? DESC".r.findFirstIn(p).isDefined,
      "level-1 histogram prefix window missing")
    // exactly the three windows of the scheme — the global position must
    // stay the closed-form broadcast expression, never a fourth window
    assert("\\(\\d+\\) Window".r.findAllIn(p).size === 3,
      "expected exactly off1-prefix, off2-prefix and in-bucket rank windows")
    assert(!"hashpartitioning\\(rs".r.findFirstIn(p).isDefined,
      "rank must never become a shuffle key")
  }

  test("x108 dataset card: one scan, rollup expand, map-side partials") {
    val p = plan("x108_dataset_card")
    assert(p.contains("Expand"), "ROLLUP must plan as Expand over one scan")
    assert(p.contains("partial") || p.contains("Partial"),
      "card metrics must combine map-side")
    // count detail headers "(n) Scan parquet" — FormattedMode prints each
    // node once in the tree AND once as a detail header, so a bare
    // substring count double-counts every node
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).size
    assert(scans === 1, s"the card must come from ONE pass, got $scans scans")
  }

  test("t37 BM25: term filter before aggregation; top-10 is TakeOrdered, not a sort") {
    val p = plan("t37_bm25")
    assert(p.contains("TakeOrderedAndProject"),
      "global top-k must be per-partition heads, never a full sort")
    assert(p.contains("BroadcastExchange"),
      "df and corpus stats must broadcast, never shuffle the token stream")
  }

  test("q89: native session windows = ONE user exchange + map-side partial counts") {
    val p = plan("q89_session_window")
    assert(p.contains("MergingSessions"),
      "the built-in must plan the streaming-capable session merge operator")
    assert("hashpartitioning\\(user_id".r.findAllIn(p).size >= 1 &&
      p.contains("partial_count"),
      "counts combine map-side before the one user_id shuffle")
  }

  test("t44: the encode state broadcasts; per-doc sums are partial-aggregated") {
    val p = plan("t44_bpe_encode")
    assert(p.contains("BroadcastHashJoin"),
      "the vocab-bounded encode side must be the broadcast build side")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "per-doc aggregation must combine map-side")
    assert(!p.contains("CartesianProduct"))
  }

  test("s43: IVF-PQ has no cartesian anywhere; codebook and query subs broadcast") {
    val p = plan("s43_ivfpq_knn")
    assert(!p.contains("CartesianProduct"),
      "candidates come from the cell equi-join, never an all-pairs scan")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      "centroids, codebook and query sub-vectors all ride broadcasts")
  }

  test("x109: the plan is one partial-aggregated scan + two 1-row broadcasts") {
    val p = plan("x109_epoch_plan")
    assert(p.contains("partial_sum"), "token counts combine map-side")
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).size
    assert(scans <= 3, s"plan must not rescan the corpus per broadcast, got $scans scans")
    assert("BroadcastNestedLoopJoin|BroadcastExchange".r.findFirstIn(p).isDefined,
      "budget and weight totals ride 1-row broadcasts")
  }

  test("q90/q91: text sources scan with explicit schemas, partial-aggregated") {
    for ((name, fmt) <- Seq("q90_csv_roundtrip" -> "csv", "q91_json_roundtrip" -> "json")) {
      val p = plan(name).toLowerCase
      assert(p.contains(s"scan $fmt"), s"$name must scan $fmt")
      assert(p.contains("partial"), s"$name aggregation must combine map-side")
    }
  }

  test("q95: LATERAL decorrelates to a ranked join, never a per-row loop") {
    val p = plan("q95_lateral_topk")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the correlated LIMIT subquery must be decorrelated")
    assert(p.contains("WindowGroupLimit"),
      "the per-nation LIMIT must run as a group limit (map-side before the shuffle)")
  }

  test("q94: variant parse+extract stays map-only ahead of one partial agg") {
    val p = plan("q94_variant_extract")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "the aggregate must combine map-side")
    assert("\\(\\d+\\) Scan parquet".r.findAllIn(p).size === 1,
      "one scan: parse-once VARIANT must not force extra passes")
  }

  test("q88: all four violation classes plan as anti-joins, never cross joins") {
    val p = plan("q88_ri_audit")
    assert("LeftAnti".r.findAllIn(p).size >= 4,
      "each FK class must be an anti-join counted to one row")
    assert(!p.contains("CartesianProduct"))
  }

  test("q87: rank-with-ties top-k still plans the map-side WindowGroupLimit") {
    val p = plan("q87_topk_with_ties")
    assert(p.contains("WindowGroupLimit"),
      "rank() <= k must get the same pre-shuffle group-limit as row_number")
  }

  test("q84: group stats broadcast back; the fact stream is never shuffled on a key") {
    val p = plan("q84_zscore_normalize")
    assert(p.contains("BroadcastHashJoin"),
      "standardization must join the 5-row stats by broadcast")
    assert(!"hashpartitioning\\(l_returnflag".r.findFirstIn(p).isDefined ||
      "Arguments: hashpartitioning\\(l_returnflag#\\d+, \\d+\\)".r.findAllIn(p).size <= 1,
      "only the stats aggregate may shuffle on the flag — never the fact rows")
    assert(p.contains("partial") || p.contains("Partial"),
      "the moment sums must combine map-side")
  }

  test("t38: vocab is a partial-count TakeOrdered; scoring joins the K-row broadcast") {
    val p = plan("t38_vocab_oov")
    assert(p.contains("TakeOrderedAndProject"),
      "the top-K vocab must be per-partition heaps, never a global sort")
    assert(p.contains("BroadcastHashJoin"),
      "OOV scoring must join the vocabulary by broadcast")
    assert(p.contains("partial") || p.contains("Partial"),
      "the Zipf head must be absorbed by map-side count partials")
  }

  test("t39: source overlap is a keyed shingle join over a partial distinct") {
    val p = plan("t39_source_overlap")
    assert(!p.contains("CartesianProduct"),
      "the pair matrix must come from the equi-join on h, never a cross join")
    assert(p.contains("partial") || p.contains("Partial"),
      "the (source, shingle) distinct must collapse duplicates map-side")
  }

  test("q83: both MAD quantiles broadcast; outlier flagging is map-side") {
    val p = plan("q83_mad_outliers")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "median and MAD thresholds must both join by broadcast")
    assert(p.contains("partial") || p.contains("Partial"),
      "histograms and outlier counts must combine map-side")
  }

  test("d46: prefix join shape — per-doc rank window, candidate dedup, " +
    "equi-joins only (no nested loop / cartesian)") {
    val p = plan("d46_prefix_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "candidates must form only through the prefix equi-join on h")
    val a = analyzed("d46_prefix_join")
    assert(a.contains("row_number"),
      "the per-doc global-rarity rank window (df ASC, h ASC) must exist")
    assert(a.contains("Deduplicate"),
      "candidate pairs must DISTINCT before the verify join (bounded by the " +
        "prefix-filter lemma, then touched once each)")
  }

  // ---- TPC-H 22 plan gates -------------------------------------------
  // The scalar-subquery queries carry a 1-row broadcast (Q11 total,
  // Q15 max, Q22 avg balance) that plans as a BroadcastNestedLoopJoin
  // over ONE row — constant work, the documented pattern (q81/q83). All
  // other queries must be pure hash/sort-merge equi-joins.
  private val tpchScalarBroadcast = Set("q41_tpch11", "q45_tpch15", "q50c_tpch22")

  test("tpch: zero CartesianProduct across all 22; nested-loop only as " +
    "the 1-row scalar broadcast") {
    for (q <- TpcH.all) {
      val p = plan(q.name)
      assert(!p.contains("CartesianProduct"), s"${q.name} must never cross-join")
      if (!tpchScalarBroadcast(q.name))
        assert(!p.contains("BroadcastNestedLoopJoin"),
          s"${q.name} must join on keys only")
    }
  }

  test("tpch01: date filter pushed into the lineitem scan, map-side partials") {
    val p = plan("q31_tpch01")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    assert(!p.contains("l_orderkey"), "unused lineitem columns must not be read")
    assert(p.contains("partial") || p.contains("Partial"))
  }

  test("tpch05: region/nation dimensions broadcast into the star join") {
    val p = plan("q35_tpch05")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "nation and region must broadcast — never shuffle the fact side for a dim")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate)"),
      "the order-date window must reach the orders scan")
  }

  test("tpch08: both nation maps and region broadcast; PROMO filter pushed " +
    "to the part scan") {
    val p = plan("q38_tpch08")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3)
    assert(p.contains("EqualTo(p_type,PROMO)"),
      "the part-type predicate must be a pushed parquet filter")
  }

  test("tpch18: one lineitem scan feeding one pre-join aggregate (no row " +
    "multiplication — the HAVING filter and the reported sum share it)") {
    val p = plan("q48_tpch18")
    // r12 shape: the per-order quantity sum is computed ONCE before the
    // join (partial + final HashAggregate over lineitem), the >300 filter
    // runs on that aggregate, and NO aggregation follows the join — the
    // old shape's semi join + full-fact re-join + re-aggregation is gone
    assert("Location: [^\\n]*lineitem".r.findAllIn(p).size == 1,
      "lineitem must be scanned exactly once")
    assert(p.contains("partial_sum") || p.contains("Partial"),
      "the per-order sum must combine map-side before its exchange")
  }

  test("s45: re-assignment scans the corpus against BROADCAST centroids only") {
    val p = plan("s45_ivf_rebalance")
    assert(!p.contains("windowspecdefinition(vec_id"),
      "the expanded centroid set must be ranked per vector by the map-only " +
        "kernel, never by a per-vector window")
    assert(!p.contains("CartesianProduct"),
      "the corpus must never cross-join unbroadcast")
  }

  test("IVF family: every centroid ranking is the map-only kernel, never a " +
    "centroid cross join ranked by a per-vector window") {
    for (n <- Seq("s34_ann_ivf", "s39_filtered_ann", "s41_ivf_stats", "s43_ivfpq_knn",
        "s45_ivf_rebalance", "s46_rebalance_recall", "s47_persisted_ivf",
        "s48_probe_sweep", "x93_kmeans_step")) {
      val p = plan(n)
      assert(p.contains("centroid_rank"), s"$n must rank cells with the kernel")
      assert(!p.contains("windowspecdefinition(vec_id"),
        s"$n: a vec_id-partitioned window ranks centroids outside the kernel")
      // s45's and s48's nested-loop joins are their 1-row tot/tt/np
      // broadcasts; s34 and s47 have none left once centroids are not joined
      if (n == "s34_ann_ivf" || n == "s47_persisted_ivf")
        assert(!p.contains("BroadcastNestedLoopJoin"), s"$n must not cross-join centroids")
    }
  }

  test("s46: both probe sides and the truth join stay cartesian-free") {
    val p = plan("s46_rebalance_recall")
    assert(!p.contains("CartesianProduct"))
  }

  test("x118: one LPA sweep is equi-join + partial count + map-side rank cut") {
    val p = Similarity.x118FirstSweep(spark, sfDir).queryExecution
      .explainString(FormattedMode)
    assert(!p.contains("CartesianProduct"),
      "label propagation must never cross-join")
    assert(p.contains("WindowGroupLimit"),
      "the rank<=1 argmax must cut per-node candidates before the shuffle")
    assert(p.contains("HashAggregate"),
      "the (node,label) count must aggregate with map-side partials")
  }

  test("s47: the persisted-index probe dynamically prunes cell partitions") {
    val p = plan("s47_persisted_ivf")
    assert(p.contains("dynamicpruningexpression"),
      "the probe join on the hive-partitioned cell column must plan DPP — " +
        "at scale the query reads nprobe/K of the index bytes via pruning")
    assert(!p.contains("CartesianProduct"),
      "the queries rank the K persisted centroids in a projection; nothing " +
        "may cross the corpus")
  }

  test("x119: the quota pass adds exactly one community-keyed window over x118") {
    val p = plan("x119_community_sample")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("Window"),
      "the per-community hash rank must be a keyed window")
  }

  test("x120: weighted sample is a map-side top-k over a pruned scan — no shuffle") {
    val p = plan("x120_priority_sample")
    assert(p.contains("TakeOrderedAndProject"),
      "ORDER BY priority LIMIT k must plan per-task top-k, not a sort")
    assert(!p.contains("Exchange"),
      "priority sampling must not shuffle — the priority is map-only and " +
        "the selection is TakeOrdered")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,source:string,n_chars:bigint>"),
      "the scan must read only the three projected columns (no text)")
  }

  test("x121: corpus re-attaches to the cell table by broadcast; scan pruned") {
    val p = plan("x121_quantile_norm")
    assert(p.contains("BroadcastHashJoin"),
      "the (source, cell) quantile table must broadcast to the corpus side")
    assert(!p.contains("SortMergeJoin"),
      "the corpus must never sort-merge against the tiny cell table")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,source:string,n_chars:bigint>"),
      "the corpus-side scan must not read text")
  }

  test("x125: the quantile-map re-attach broadcasts the mapped cell table") {
    val p = plan("x125_quantile_map")
    assert(p.contains("BroadcastHashJoin"),
      "the (source, cell, len_ref) mapping must broadcast to the corpus side")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,source:string,n_chars:bigint>"),
      "the corpus-side scan must not read text")
  }

  test("t48: the encode table broadcasts; the rollup aggregates partially") {
    val p = plan("t48_tokenizer_fertility")
    assert(p.contains("BroadcastHashJoin"),
      "the vocab-bounded (w, n_sub) encode table must broadcast to the token stream")
    assert(p.contains("partial_count") || p.contains("Partial"),
      "the per-source rollup must combine map-side")
  }

  test("m49: combo fan-out is a codegen'd explode; candidates equi-join on the key") {
    // gate the pair-generation frame itself: the registered query ends in
    // checkpointed components, whose plan no longer shows the joins
    val p = Multimodal.mediaPairs56(spark, sfDir).queryExecution
      .explainString(FormattedMode)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the corpus must never cross-join — the 56 candidate keys are an " +
        "exploded literal array of constant-folded shift/masks, not a join")
    assert(p.contains("Generate"),
      "the per-row combo fan-out must be an explode")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"),
      "candidates must come from an equi-join on the tagged block key")
  }
}
