package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Confs.withConfs

/** Adversarial-skew stress bench: the cap/salt/band designs all CLAIM
  * skew-safety; this main measures it. It builds a deliberately hostile
  * variant of the SF tables and times the dedup/ANN/join stack on it with
  * a wall bound per query:
  *
  *  - `documents`: one document duplicated 10,000× (new doc_ids) AND a
  *    stop-shingle ("the cat sat ") prefixed to half the corpus. The dup
  *    cluster makes every one of its shingles hot (df ≥ 10k ≫ MaxShingleDf)
  *    — the cap must remove them all, so d27/d28 emit ZERO pairs for the
  *    cluster instead of 10k²/2 ≈ 50M; exact dedup (d26) is the operator
  *    that owns mass duplicates, and x90 proves the composition (d26
  *    keep-list collapses the cluster BEFORE the minhash stage).
  *  - `embeddings`: one vector duplicated 10,000× — the hottest possible
  *    LSH bucket / IVF cell; s33/s34 stay bounded because the query side
  *    is small (candidates ≤ |Q| × bucket), never bucket × bucket.
  *  - `lineitem`: ~33 % of rows remapped to ONE order key; q26's salted
  *    join must spread that key over saltFactor reducers.
  *
  * d30/d31/d33/m44 are excluded by contract, not leniency: their OUTPUT
  * is quadratic in duplicate multiplicity (every dup pair is a result
  * row — 10k dups = 50M correct answer rows; m44's 10k identical blobs
  * share one phash), so "skew-safe" is not a property they can have on a
  * mass-duplicated input; the pipeline answer is d26 first (which x90
  * demonstrates under this very workload). The exclusion list is
  * machine-readable and ENFORCED: [[ScaleContracts.verifyAndRecord]]
  * fails the run if this query list disagrees with the contract table.
  *
  * Prints one JSON line; exits 1 if any query exceeds the wall bound.
  */
object SkewBench {

  val DupFactor = 10000
  val BoundSec = 120.0
  val Queries = Seq("d26_exact_dedup", "d27_ngram_jaccard", "d28_minhash_lsh",
    "d29_simhash", "d32_minhash_agg", "s33_ann_lsh", "s34_ann_ivf",
    "s36_ann_multiprobe", "q26_salted_join", "x90_corpus_pipeline",
    // t29's gram keys all include doc_id (the hot cross-doc gram never
    // becomes a join/agg key alone); x91's 10k-doc
    // hot SOURCE is the worst case for the per-source window — the
    // Partial WindowGroupLimit must cap it map-side; x92's semi-join is
    // output-bounded by its left input even when the dup cluster makes
    // every one of its shingles hot; x93's hot cell (10k identical
    // vectors land on one centroid) flows through map-side partials into
    // a fixed K·Dim group space. d33 is excluded like d30/d31: its
    // OUTPUT is quadratic in duplicate multiplicity by contract.
    "t29_repetition", "x91_source_mix", "x92_decontamination",
    "x93_kmeans_step",
    // x94's running-sum window has no WindowGroupLimit shortcut (the
    // admission filter is on a cumulative sum, not a rank); the two-phase
    // selection range-buckets each source so the 10k-doc hot source is
    // sorted across ≤ 2B bucket partitions, with whole buckets past the
    // budget discarded before the wide shuffle (SkewSpec pins the
    // bucket spread; this measures the wall clock under the hostile skew)
    "x94_token_budget_mix",
    // x95's assignment is map-only (literal centroids, no corpus shuffle),
    // so the 10k-dup hot embedding only concentrates ONE k-means cell —
    // absorbed by the same map-side partials into K·Dim groups as x93
    "x95_kmeans_lloyd",
    // x96's 10k identical vectors all land in one k-means cell — the
    // worst case for its within-cell pair join. The per-cell candidate
    // cap (map-side WindowGroupLimit, SemCellCap=256) bounds the hot
    // cell's pair stage at cap²/2 ≈ 33k pairs instead of 5·10⁷, and
    // K ∝ N (375 here) keeps every other cell at ~32 members
    "x96_semdedup",
    // x98's top-1-per-cell is a Partial WindowGroupLimit: the 10k-member
    // hot cell forwards ONE candidate per map task to the rank shuffle
    "x98_cluster_reps",
    // d34 inherits d28's hot-shingle cap (the 10k-dup cluster contributes
    // ZERO pairs, so the label-propagation graph stays at the organic
    // near-dup pairs), and each HashMin round moves only (id, lbl) longs
    "d34_dedup_components",
    // d35 runs the same capped pair graph through star contraction — the
    // checkpoint-per-round variant must hold the bound under the same
    // hostile input that exercises d34
    "d35_components_star",
    // d36's hostile input is the strongest gram-df case: the 10k identical
    // docs give EVERY one of their 8-grams df ≥ 10k — all capped out, so
    // the dup cluster contributes zero span pairs (d26 owns mass dups by
    // the pipeline contract) and the span join stays at organic matches
    "d36_duplicate_spans",
    // t34's hostile input makes the dup doc's tokens corpus-hot (df-style
    // skew on the vocab join key — the Zipf head every real corpus has).
    // The token⋈vocab join survives because the vocab side is the SMALL
    // side (AQE broadcasts it here; at billion-token vocab scale the
    // shuffle join's hot w key is split by AQE skew-join, and the per-doc
    // aggregate re-keys by doc_id immediately after)
    "t34_surprisal",
    // q68's hostile input piles 10k events onto one (user, nanosecond)
    // point — one hot z-value. The layout write absorbs it (one range
    // partition holds the pile; the sort is local), and the query is a
    // scan + aggregate whose partials absorb the pile map-side
    "q68_zorder_layout",
    // q65's hostile input collapses 10k events onto ONE nanosecond — the
    // hottest possible time bin. The matched pairs there are inherent
    // work (every coincident purchase genuinely matches every coincident
    // point; the per-anchor SUM must see each match), but the plan stays
    // an equi-join on bin whose partial aggregation absorbs the pair
    // stream map-side — no nested loop, no driver involvement
    "q65_range_join",
    // d37's hostile input puts 2,000 of the 10k dup docs in the arriving
    // batch and 8,000 in the corpus — every shingle of the cluster has
    // corpus df ≥ 8k ≫ MaxShingleDf, so the broadcast hot-profile caps
    // them ALL out of both the corpus index and the batch bands: the
    // cluster contributes zero candidates (d26 owns mass dups by the
    // pipeline contract) and the incremental probe stays at organic
    // matches — the cap defends the ingest path exactly like the batch one
    "d37_incremental_dedup",
    // q69's hostile input is the flash-crowd nanosecond: ~2k view and ~2k
    // error windows all open at ONE instant, so every cross pair overlaps
    // — the OUTPUT is inherently quadratic there (all pairs genuinely
    // match, like d30's contract), but the plan stays a bin equi-join:
    // the hot bin is one key whose matched pairs stream straight out of
    // the join without any wide distinct (home-bin rule) or driver state
    "q69_interval_join",
    // q70 is keyed per-user with O(1) window state — the flash-crowd
    // instant lands many EVENTS on one timestamp but never widens any
    // user's partition; the funnel's one user_id shuffle is unaffected
    // by time skew (the orthogonal-axis control in this gauntlet)
    "q70_funnel",
    // s38's hostile input gives the 10k duplicated vectors IDENTICAL
    // codes — the hottest possible code, but codes are never a join
    // key: the ADC stage is a query-broadcast scan whose per-query
    // output is capped at PqRerank candidates regardless of how many
    // vectors share a code, and the re-rank touches only those
    "s38_pq_knn",
    // x100's hostile input piles ~33% of lineitem onto one l_orderkey —
    // but the incremental merge never keys on the order key: both the
    // delta partials and the state merge group by l_returnflag (5
    // groups, map-side partials absorb the pile) and the distinct-pairs
    // union keys on (flag, suppkey), untouched by the hot order
    "x100_incremental_agg",
    // q71's hostile input is the flash-crowd nanosecond again: the
    // pile-up concentrates FOUR sliding-window keys instead of one
    // tumbling key, and the 4x explode is absorbed by map-side partials
    // before the shuffle ever sees it (PlanSpec gates the partial agg)
    "q71_sliding_windows",
    // t35 under the 10k-dup doc: every bigram of the cluster has
    // count ≥ 10k — the Zipf-head worst case for BOTH model joins
    // (bigram table and context table). Same posture as t34: the model
    // sides are the small sides (broadcast here; AQE skew-split at
    // billion-bigram model scale) and the per-doc aggregate re-keys by
    // doc_id immediately after
    "t35_bigram_surprisal",
    // x101 inherits d28's skew posture wholesale (cap → bands → verify;
    // the 10k-dup cluster's shingles cap out, so its pairs never form)
    // plus two split-lookup joins keyed on doc_id — nothing hot
    "x101_split_leakage",
    // d38 under the 10k-dup cluster: the dups share identical prefix AND
    // suffix, so BOTH their blocking keys carry 10k members — the
    // EditMaxBlock cap drops those blocks before the self-join (exact
    // dups are d26's job) and the Levenshtein verify only ever runs on
    // organic block-colliding candidates
    "d38_editdist_dedup",
    // s39 under the 10k-dup embedding: the dups pile into one (cell,
    // label) slice, but like s34 the candidate set is bounded by the
    // QUERY side (10 probes x slice), never slice x slice
    "s39_filtered_ann",
    // x102 under the 10k-dup doc source: one hot source only changes
    // that source's count and threshold — admission stays a map-only
    // hash comparison against the broadcast rate table
    "x102_temperature_mix",
    // q73's hostile input is the flash-crowd (user, nanosecond) pile:
    // all 10k events share one (user, type, window) key, so ONE window
    // partition holds the pile — both window functions are a single
    // linear pass over that sorted run (rank + count), one task, no
    // pair blow-up; every other key is untouched
    "q73_windowed_dedup",
    // t36 under the 10k-dup cluster: every one of its shingles has
    // df ≥ 10k — hot BIGINT join keys. Unlike the dedup self-joins this
    // needs no cap: the df count absorbs the pile map-side, and the
    // ex⋈df join's output equals the index size (each hot h matches ONE
    // df row — replication, never pairs)
    "t36_ngram_novelty",
    // q74 under the hot l_orderkey pile: the moments never key on the
    // order key — six decimal partials per l_returnflag (5 groups)
    // absorb the pile map-side, x100's posture exactly
    "q74_stat_moments",
    // x103 inherits d28's cap (the dup cluster forms zero pairs → zero
    // components) plus d34's label-propagation bound; the assignment
    // join keys on doc_id against the pair-participant-sized component
    // list — nothing hot
    "x103_cluster_split",
    // s40 under the 10k-dup embedding — ONE maximally hot LSH bucket:
    // the per-bucket candidate cap (Similarity.KnnBucketCap) bounds the
    // neighbor side at cap hash-ranked members however populous the
    // bucket, so candidates stay ≤ N·7·cap (RecallSpec's hot-bucket gate
    // pins exactly this shape). x107/x118/x119 consume the capped graph:
    // their own sweeps are O(edges) keyed joins over N·3 edges
    "s40_knn_graph", "x107_graph_pagerank", "x118_label_communities",
    "x119_community_sample",
    // x104 under the 10k-dup doc: identical texts share one content
    // hash, so one x99 BUCKET gains the pile — its per-bucket
    // row_number is a single linear sorted run (one task), offsets stay
    // B rows, and the manifest aggregation's XOR/SUM partials absorb
    // everything map-side
    "x104_shard_manifest",
    // d39 inherits d34's bound (capped pair graph → bounded components)
    // and adds a token count over cluster MEMBERS only plus a rank-1
    // window per component — the 10k-dup cluster contributes zero
    // components, so the argmax only ever sees organic clusters
    "d39_best_keeper",
    // q77 is q56's union+window as-of under the same event-side skew:
    // per-key window state is two carried values (id + time), so the
    // flash-crowd user partition is one linear sorted run; the
    // tolerance bound is a map-side projection after the carry
    "q77_asof_tolerance",
    // x105 under the 10k-dup doc: identical texts share one content
    // hash, so ONE hash shard gains the pile on both manifest sides —
    // absorbed by the mergeable COUNT/XOR/SUM partials map-side; the
    // full-outer diff join only ever sees the 64-row manifests
    "x105_manifest_diff",
    // q78 under the flash-crowd nanosecond: the 10k-event pile collapses
    // to ONE (user, week) pair in the keys-only partial aggregate before
    // the shuffle ever sees it; the cohort regroup runs over user-weeks,
    // never events
    "q78_cohort_retention",
    // q79 under the same pile: all 10k events share one user's window
    // partition — the lag is a single linear sorted run with O(1) state,
    // and coincident events (gap 0) emit nothing
    "q79_gap_detection",
    // q80 under the pile: the flash-crowd user's change log is one sorted
    // run for BOTH windows (lag-collapse + lead-close share the
    // partitioning); coincident equal props collapse to one version
    "q80_scd2_history",
    // q81 under the hot l_orderkey pile: thresholds never key on the
    // order key — the (flag, cents) histogram is domain-bounded and its
    // partials absorb the pile map-side; the clamp join broadcasts 3 rows
    "q81_winsorized_agg",
    // t37 under the 10k-dup doc: the dup text's query-term tfs repeat
    // 10k× but every key is doc_id or one of 3 terms — the tf groupBy
    // partials absorb per-doc, df/st stay 3-row/1-row broadcasts, and
    // the top-10 is a per-partition heap (TakeOrdered), driver sees 10
    "t37_bm25",
    // q82 is q77's union+window carry with the mirrored forward frames
    // added — the flash-crowd user partition is still one linear sorted
    // run with four O(1) carried values, same posture as q56/q77
    "q82_asof_nearest",
    // x106 under the 10k-dup doc source: the hot source's rank now runs
    // x94's two-phase offset shape — the 10k identical-length dups land
    // in ONE (source, n_chars) tie group but sub-bucket by doc_id range
    // into ≤ 2^16-row partitions; the interleave position stays map-only
    // over the S-row totals broadcast — rank is never a key
    "x106_curriculum_order",
    // s44 under the pile: the dup text's terms dominate the tf counts but
    // the partials absorb them per (doc, term); candidates are a FIXED 20
    // rows regardless of corpus heat, and the dense stage touches exactly
    // those — the two-stage shape is skew-immune by construction
    "s44_hybrid_retrieval",
    // x113 under the pile: the flag frame is map-only per doc; the dup
    // docs land in one source's partial counts — absorbed map-side like
    // every counting aggregate here
    "x113_kill_matrix",
    // x108 under the pile: identical texts share one md5, so the
    // expand-distinct partials collapse the 10k copies to one
    // (source, lang, hash) row map-side; group keys stay (source, lang)
    "x108_dataset_card",
    // t38 under the pile: the dup doc's tokens are the Zipf head of the
    // vocab count — absorbed by partials + a per-partition top-K heap
    // (TakeOrdered); scoring joins a 16-row broadcast, nothing keyed hot
    "t38_vocab_oov",
    // t39 under the pile: the 10k identical docs collapse to ONE
    // (source, shingle) row each in the distinct — the self-join's
    // per-key output is bounded by S²/2 (S = #sources) even for a
    // corpus-wide stop shingle, so no cap is needed by construction
    "t39_source_overlap",
    // q83 shares q81's posture: two domain-bounded histograms, never
    // keyed on the hot order key; thresholds broadcast (3 rows each)
    "q83_mad_outliers",
    // s41 under the 10k-dup embedding: the dups pile into ONE cell, but
    // the report's aggregate absorbs the pile map-side into K cell rows
    // — a runaway cell is precisely what the health report measures
    "s41_ivf_stats",
    // t41 under the 10k-dup doc: the dup text's tokens are the Zipf head
    // — each hot token maps to ONE (d, bucket) cell per row, absorbed by
    // map-side partials into the <= 4096-cell sketch; probes broadcast
    "t41_cms_sketch",
    // d40 shares d27's capped scaffold verbatim — the 10k-dup cluster's
    // shingles all cap out, so its pairs never form; only the derived
    // score differs
    "d40_containment",
    // q84's stats are 5 flag groups (partials absorb the hot-order pile
    // map-side) broadcast back over the fact stream — the fact is never
    // shuffled on any key
    "q84_zscore_normalize",
    // q85 is q81's histogram + a 9-row broadcast spine — same posture
    "q85_equidepth_hist",
    // m47 is map-only per blob (the 10k identical blobs each produce
    // their own bounded cut list; no cross-blob state exists)
    "m47_scene_cuts",
    // q86's lag runs over the aggregated weekly series — the flash-crowd
    // pile collapses into one (week, type) count map-side
    "q86_period_over_period",
    // t42 is one partial-aggregated pass into a <= langs^2 matrix
    "t42_lang_confusion",
    // d41 inherits d28's cap wholesale (the 10k-dup cluster forms zero
    // pairs) and adds two doc-keyed signature joins of 12-long arrays
    "d41_minhash_calibration",
    // s42 is one partial-aggregated pass into |labels| rows; the 10k-dup
    // vector only raises one label's count
    "s42_vector_audit",
    // x110 is two |sources|-row profiles off one checkpointed scan — the
    // 10k-dup doc source only moves that source's sums
    "x110_profile_drift",
    // q87's hot l_orderkey pile never keys the window: the aggregate is
    // (flag, part) with map-side partials, and the rank filter is a
    // map-side WindowGroupLimit exactly like the row_number form
    "q87_topk_with_ties",
    // q88's anti-joins key on the same hot l_orderkey — the pile is one
    // key whose rows all match (or all miss) the broadcast key side;
    // each class collapses to ONE count row
    "q88_ri_audit",
    // TPC-H heavies under the hot l_orderkey pile:
    // Q18 groups BY the hot order key — the 33% pile lands in ONE
    // group whose SUM partial absorbs it map-side before the shuffle;
    // the HAVING threshold then keeps the hot order (a genuinely big
    // order is exactly what Q18 looks for), and the final join
    // replicates it once, not per-row
    "q48_tpch18",
    // Q21's EXISTS/NOT-EXISTS self-joins key on the same hot order key:
    // the multi-supplier probe collapses the pile to per-(order,supp)
    // partials before the anti-join, so the hot key carries counts,
    // never row pairs
    "q50b_tpch21",
    // Q9's profit rollup never keys on the order key — the hot pile
    // spreads over (nation, year) groups whose decimal partials absorb
    // it map-side; part/supplier joins key on their own uniform keys
    "q39_tpch09",
    // s45 under the 10k-dup embedding is the rebalance's OWN adversarial
    // case: the pile lands in one cell, the split targets exactly that
    // cell, and the re-assignment is the same map-only centroid
    // ranking as s34 (no join, no per-vector window) — the hot cell is
    // an aggregation group, never a join key
    "s45_ivf_rebalance",
    // s46's probes are query-side-bounded like s34 (candidates ≤
    // |Q| × cell); the 10k-dup cell inflates candidate lists linearly,
    // absorbed by the per-query top-5 window's rank shortcut
    "s46_rebalance_recall",
    // x117 under the 10k-dup doc: identical texts share one content
    // hash, so ONE hash shard gains the pile — the delta write shuffles
    // on hshard (the pile is one partition's sorted run) and the audit's
    // COUNT/XOR/SUM partials absorb it map-side, x105's posture
    "x117_incremental_export",
    // s47 under the 10k-dup embedding: the pile lands in ONE persisted
    // cell partition (one hot directory — a partitioned write handles a
    // hot partition as one sorted run), and the probe join is
    // query-side-bounded like s34: candidates ≤ |Q| × probed-cell
    // populations, the hot cell read once per probing query, never
    // cell × cell
    "s47_persisted_ivf",
    // s48 sweeps the same probe join at 4 nprobe settings — the hot
    // cell inflates candidate lists linearly per setting, absorbed by
    // the per-(np, query) top-5 window's rank shortcut; output stays
    // |sweep| rows however hot the cell
    "s48_probe_sweep",
    // x122 under the 10k-dup doc: exact dups share every shingle, so
    // d28's cap drops the cluster's shingles and it forms ZERO pairs —
    // the components x122 divides by are organic ones; the corpus-side
    // left join keys on doc_id (uniform), and the ppm projection is
    // map-only
    "x122_dup_weights",
    // x123 under the pile: anchors/positives inherit d28's cap (the
    // dup cluster contributes no pairs); the negative lookup joins the
    // global index on doc_id / gidx — both uniform keys; the pile only
    // concentrates ONE x99 bucket's rank run, x104's posture
    "x123_contrastive_pairs",
    // x124 composes x122's component left join (the pile forms zero
    // pairs, so the dup cluster never enters the graph) with x121's
    // broadcast cell re-attach — the 10k identical-length dups are ONE
    // histogram cell, absorbed by the count partials map-side
    "x124_sampling_manifest",
    // x125 under the pile: the 10k identical-length dups collapse to
    // ONE (source, cell) histogram row map-side; every later stage is
    // cell-table arithmetic + the broadcast re-attach — nothing keyed hot
    "x125_quantile_map",
    // x127 under the 10k-dup embedding: s40's per-bucket cap bounds the
    // directed graph, and the mutual restriction caps EVERY node's
    // degree at 3 — the hot bucket's unbounded in-degree never reaches
    // the wedge join
    "x127_graph_triangles",
    // d47 under the 10k-dup doc: every 8-word line of the dup doc sits
    // in 10k docs — ONE hot count cell per line hash (absorbed by the
    // partial aggregate), then a keyed anti-join; the rebuild regroups
    // by doc_id (uniform). The hostile corpus IS the one-line-in-10k-
    // docs case the operator exists for
    "d47_line_dedup",
    // x126 composes d37's admission (already in this gauntlet: the
    // batch slice of the pile rejects against the corpus index at
    // batch-proportional cost) with the broadcast cell re-attach —
    // the 10k identical-length dups are ONE histogram cell
    "x126_incremental_manifest",
    // x128 inherits d36's cap posture: the dup cluster's grams all
    // exceed the df cap and contribute ZERO span pairs; the cross-split
    // filter only shrinks the join d36 already survives
    "x128_contamination_spans",
    // x129 under the pile: the dup doc's features are the Zipf head —
    // t34's posture (model side is domain-bounded at DsirBuckets cells
    // and broadcasts; the per-doc aggregate re-keys by doc_id)
    "x129_dsir_weights",
    // x130 rides x127's degree-3 mutual graph and x118's communities —
    // the rollup keys on community; the pile concentrates one
    // community's aggregate cell, absorbed map-side
    "x130_community_cohesion",
    // x131 under the pile: the dup cluster's grams are df-capped out of
    // the span table (x128's posture), so the mask join is organic-
    // sized; the rebuild regroups per doc_id (uniform)
    "x131_decontaminated_rewrite",
    // x132's 10k-doc hot source is x91's worst case — the per-source
    // rank must cap map-side (Partial WindowGroupLimit) so the exchange
    // carries O(sources · K) rows, never the pile
    "x132_source_priority_sample",
    // s49 under the 10k-dup embedding: the exact side is 20 broadcast
    // queries × N (linear, sample-bounded) and the graph side inherits
    // s40's per-bucket cap — the audit itself must hold the bound
    "s49_graph_recall_audit",
    // x133 composes x129's bounded-model scoring with x132's map-side
    // per-source group limit — the pile is one hot source whose rank
    // caps before the shuffle
    "x133_dsir_selection")

  /** Writes the hostile tables into `outDir` (only the tables the skew
    * queries read). Deterministic — no rand(). */
  def generate(spark: SparkSession, sfDir: String, outDir: String): Unit = {
    def t(n: String): DataFrame = spark.read.parquet(s"$sfDir/$n.parquet")

    // documents: stop-shingle on even ids + one doc duplicated DupFactor×
    val docs = t("documents")
    val hot = docs.orderBy("doc_id").limit(1).head()
    val maxId = docs.agg(max("doc_id")).head().getLong(0)
    val prefixed = docs.withColumn("text",
      when(pmod(col("doc_id"), lit(2)) === 0,
        concat(lit("the cat sat "), col("text"))).otherwise(col("text")))
    val dups = spark.range(1, DupFactor + 1L)
      .select((col("id") + maxId).as("doc_id"),
        lit(hot.getAs[String]("text")).as("text"),
        lit(hot.getAs[String]("lang")).as("lang"),
        lit(hot.getAs[String]("source")).as("source"),
        lit(hot.getAs[Long]("n_chars")).as("n_chars"))
    prefixed.unionByName(dups)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    // embeddings: one vector duplicated DupFactor× → one hot bucket/cell
    val emb = t("embeddings")
    val maxVid = emb.agg(max("vec_id")).head().getLong(0)
    val hotVec = emb.orderBy("vec_id").limit(1)
      .select(col("embedding"), col("label"))
    val vdups = spark.range(1, DupFactor + 1L)
      .select((col("id") + maxVid).as("vec_id"))
      .crossJoin(hotVec)
    emb.unionByName(vdups)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    // lineitem: every 3rd row's key remapped to one hot order key.
    // Written as 32 files: AQE's skew split cuts on MAP-OUTPUT
    // boundaries, and a single-row-group file is one effective mapper —
    // the hot reducer's bytes would all sit in one unsplittable chunk
    // and OptimizeSkewedJoin would correctly refuse (measured: map
    // sizes [0, 686k, 0, 0] at sf0.1). A 100 TB fact table always has
    // thousands of mappers; 32 files is that reality at bench scale.
    // Every 3rd, not 5th: a 1-in-5 remap put the hot reducer at 1.99×
    // the median — EXACTLY on the skewedPartitionFactor=2 cutoff, where
    // the ±10% log-quantization of CompressedMapStatus sizes decided
    // whether the split fired run to run (round 8 yes, round 9 no,
    // measured: hot 240,047 rows vs median 120,744). A real hot key is
    // decisively hot; 1-in-3 makes the hot reducer ~3× the median, so
    // the split decision no longer rides on stats rounding.
    val li = t("lineitem")
    val hotKey = li.agg(min("l_orderkey")).head().getLong(0)
    li.withColumn("l_orderkey",
      when(pmod(col("l_linenumber") + col("l_partkey"), lit(3)) === 0,
        lit(hotKey)).otherwise(col("l_orderkey")))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")

    // orders/customer unchanged (q26's build side; q88's FK targets);
    // part/supplier/nation/region verbatim for the TPC-H heavies
    for (n <- Seq("orders", "customer", "part", "supplier", "nation", "region"))
      t(n).write.mode("overwrite").parquet(s"$outDir/$n.parquet")

    // events: every 10th event collapses onto ONE nanosecond — a
    // flash-crowd instant that makes one q65 time bin maximally hot.
    // Read via T, which surfaces ts as epoch-nano LongType whatever its
    // parquet encoding; the hostile copy carries ts as plain int64
    // epoch-nanos, which T's readers accept unchanged.
    val ev = graft.operators.T(spark, sfDir, "events")
    val hotTs = ev.agg(min("ts")).head().getLong(0)
    ev.withColumn("ts",
      when(pmod(col("event_id"), lit(10)) === 0, lit(hotTs))
        .otherwise(col("ts")))
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")
  }

  /** The BUILT-IN alternative to q26's manual salt: AQE's skew-join
    * split on the same hostile hot key (q26's manual salt stays the
    * oracle-checked form — this measures Spark's runtime re-plan doing
    * the same job without touching the query). Thresholds are lowered
    * for bench scale: the defaults target 256 MB production partitions,
    * while the DupFactor pile here is tens of MB — the RATIO (hot ≫
    * factor × median) is what production skew looks like. Runs the
    * UNSALTED q26 join shape and throws unless the post-execution
    * adaptive plan shows the split fired; confs are restored afterwards
    * so no other bench line inherits the tuning. */
  def aqeSkewJoin(spark: SparkSession, outDir: String): Unit = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    def skewJoins(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => skewJoins(a.executedPlan)
      case s: QueryStageExec => skewJoins(s.plan)
      case j: SortMergeJoinExec if j.isSkewJoin => j +: j.children.flatMap(skewJoins)
      case j: ShuffledHashJoinExec if j.isSkewJoin => j +: j.children.flatMap(skewJoins)
      case other => other.children.flatMap(skewJoins)
    }
    withConfs(spark, Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      // the hot partition is ~135k two-column rows ≈ 500 KB compressed;
      // thresholds scale to that (defaults assume 256 MB partitions)
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16k",
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
      // both broadcast paths off: the dim side is small enough to
      // broadcast, which would dodge the shuffle this line measures
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")) {
      val li = spark.read.parquet(s"$outDir/lineitem.parquet")
        .select("l_orderkey", "l_quantity")
      val o = spark.read.parquet(s"$outDir/orders.parquet")
        .select("o_orderkey", "o_orderpriority")
      val qe = li.join(o, col("l_orderkey") === col("o_orderkey")).queryExecution
      qe.toRdd.count()
      if (skewJoins(qe.executedPlan).isEmpty)
        throw new IllegalStateException("AQE skew-join split did not fire")
    }
  }

  def main(args: Array[String]): Unit = {
    ScaleContracts.verifyAndRecord("skew", Queries)
    val outDir = sys.env.getOrElse("SPARK_GRAFT_SKEW_DIR", "/tmp/graft_skew")
    val spark = Harness.session()

    generate(spark, Harness.sfDir, outDir)

    // one pass: each entry is timed once against the wall bound. The
    // AQE-split twin of q26 (unsalted join, runtime re-plan) is timed
    // under the same bound and fails unless the split actually fired
    val run = Harness.run(1, Queries.map(Harness.entry(spark, _, outDir)) :+
      Harness.uncached(spark, "aqe_skew_join") { aqeSkewJoin(spark, outDir) })
    val results = run.mins
    val violations = results.collect { case (k, v) if v > BoundSec => k } ++ run.errors.map(_._1)
    println(Harness.record("skew_total", results.map(_._2).sum,
      Some(JsonOut.obj(results.map { case (k, v) => k -> v.toString })), run.errors,
      "bound_sec" -> BoundSec.toString, "dup_factor" -> DupFactor.toString,
      "aqe_skew_split" -> (!run.errors.exists(_._1 == "aqe_skew_join")).toString,
      "violations" -> JsonOut.arr(violations.map(JsonOut.str))))
    spark.stop()
    if (violations.nonEmpty) sys.exit(1)
  }
}
