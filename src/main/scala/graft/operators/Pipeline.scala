package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import Ckpt.Reuse
import org.apache.spark.sql.functions._

/** Training-data pipeline compositions: deterministic splits and the
  * flagship corpus-curation pipeline (quality filter → exact dedup →
  * near-dup removal → corpus stats) — the end-to-end shape a 100 TB
  * pretraining-data job runs, composed entirely from the engine's
  * oracle-checked operators. */
object Pipeline {

  /** The split bucket of key column `key`: H(key) % 10. The split rule
    * ([[splitOf]]) and every train/eval cut read this one hash. */
  private[operators] def splitBucket(key: String): Column =
    expr(s"${H.s(s"cast($key as string)")} % 10")

  /** The train/val/test rule (80/10/10) over a [[splitBucket]] column:
    * bucket < 8 train, 8 val, else test. */
  private[operators] def splitOf(b: Column): Column =
    when(b < 8, "train").when(b === 8, "val").otherwise("test")

  /** DuckDB dialect of [[splitBucket]]. */
  private[operators] def duckSplitBucket(key: String): String =
    s"${H.d(s"CAST($key AS VARCHAR)")} % 10"

  /** DuckDB dialect of [[splitOf]]. */
  private[operators] def duckSplitOf(b: String): String =
    s"CASE WHEN $b < 8 THEN 'train' WHEN $b = 8 THEN 'val' ELSE 'test' END"

  /** Deterministic hash-based train/val/test split (80/10/10): the split
    * must be a pure function of the stable id — never `rand()` — so it is
    * reproducible across engines, runs, and re-partitioning. */
  val t27TrainSplit = Q(
    "t27_train_split",
    s"""WITH d AS (SELECT doc_id, lang, ${duckSplitBucket("doc_id")} AS b FROM documents)
        SELECT lang,
               ${duckSplitOf("b")} AS split,
               COUNT(*) AS n
        FROM d GROUP BY 1, 2 ORDER BY lang, split""") { (spark, dir) =>
    T(spark, dir, "documents")
      .withColumn("b", splitBucket("doc_id"))
      .withColumn("split", splitOf(col("b")))
      .groupBy("lang", "split").agg(count(lit(1)).as("n"))
      .orderBy("lang", "split")
  }

  /** The flagship composition: quality-filter → exact-dedup keep-list →
    * MinHash-LSH near-dup removal (drop the higher doc_id of every
    * verified pair) → per-language corpus stats. Every stage reuses an
    * oracle-checked operator's exact formula, and the composed result is
    * itself oracle-checked. */
  /** The x90 oracle's CTE chain (quality gate → exact dedup → capped
    * minhash-LSH near-dup removal → `corpus`), shared verbatim with
    * [[x112PipelineFunnel]] so the funnel audits the IDENTICAL
    * pipeline definition. */
  private val x90DuckCtes =
    s"""tok AS (SELECT doc_id, lang, n_chars, string_split(text, ' ') AS t, text
                    FROM documents),
        -- quality gate (t23 criteria)
        q AS (SELECT doc_id, lang, n_chars, t, text FROM tok
              WHERE len(t) BETWEEN 20 AND 120
                AND CAST(len(list_filter(t, x -> x = 'the' OR x = 'a')) AS DOUBLE)
                    / len(t) <= 0.25),
        -- exact dedup (d26): keep the smallest doc_id per content hash
        keep AS (SELECT MIN(doc_id) AS doc_id FROM q GROUP BY md5(text)),
        qd AS (SELECT q.* FROM q JOIN keep ON q.doc_id = keep.doc_id),
        -- near-dup removal (d28 minhash-LSH verified pairs at >= 0.5):
        sh AS (SELECT doc_id,
               CASE WHEN len(t) >= 3 THEN list_distinct(list_transform(
                      range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
                    ELSE []::VARCHAR[] END AS s FROM qd),
        -- hot-shingle DF cap (MaxShingleDf), identical to d27/d28: without it
        -- one stop shingle shared by half the corpus drags every minhash
        -- minimum, unrelated docs collide in band buckets, and the candidate
        -- join goes quadratic in the bucket
        ${Dedup.duckCappedSets},
        ${Dedup.duckLshCandidates},
        dups AS (SELECT DISTINCT b_id FROM cand
                 JOIN sh2 sa ON a_id = sa.doc_id JOIN sh2 sb ON b_id = sb.doc_id
                 WHERE CAST(len(list_intersect(sa.th, sb.th)) AS DOUBLE)
                       / (len(sa.th) + len(sb.th) - len(list_intersect(sa.th, sb.th))) >= 0.5),
        corpus AS (SELECT qd.* FROM qd LEFT JOIN dups ON qd.doc_id = dups.b_id
                   WHERE dups.b_id IS NULL)"""

  val x90CorpusPipeline = Q(
    "x90_corpus_pipeline",
    s"""WITH $x90DuckCtes
        SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               CAST(SUM(CAST(len(t) AS BIGINT)) AS BIGINT) AS total_tokens
        FROM corpus GROUP BY lang ORDER BY lang""") { (spark, dir) =>
    corpusStages(spark, dir)._3
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"),
        sum(expr("cast(size(t) as bigint)")).as("total_tokens"))
      .orderBy("lang")
  }

  /** The x90 pipeline's Spark stages (quality-filtered, exact-deduped,
    * final near-deduped corpus) — shared by x90's stats and x112's
    * funnel so both report the SAME pipeline.
    *
    * Quality gate (t23 criteria) via the native single-pass
    * token_quality predicate: written over the projected `t`,
    * projection collapse would substitute split(text) into the pushed
    * filter three times — the whole corpus tokenized 3x inside the
    * scan. token_quality makes one byte pass per document (no arrays),
    * stays codegen'd, and survivors are tokenized once in the
    * post-filter projection. Near-dup pairs via the d28 minhash
    * pipeline over the filtered corpus; shingle hashes come from the
    * shared JVM kernel (Dedup.shingleHashesFrom — same derivation as
    * the oracle's list_distinct(list_transform(s, H))) and pass
    * through the SAME hot-shingle DF cap as d27/d28 before the
    * signatures AND the verification sets — the cap is what keeps the
    * band buckets (and so the candidate join) sub-quadratic at
    * 100 TB. */
  private def corpusStages(spark: org.apache.spark.sql.SparkSession,
      dir: String): (DataFrame, DataFrame, DataFrame) = {
    val q = T(spark, dir, "documents")
      .filter(graft.functions.TokenQuality(col("text"), 20, 120, 0.25))
      .select(col("doc_id"), col("lang"), col("n_chars"), col("text"),
        split(col("text"), " ").as("t"))
      .ckpt
    val keep = q.groupBy(md5(col("text").cast("binary")))
      .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
    val qd = q.join(keep, "doc_id").ckpt
    val dups = Dedup.lshVerifiedPairs(Dedup.nearDupSets(qd)).select("b_id").distinct()
    val corpus = qd.join(dups, qd("doc_id") === dups("b_id"), "left_anti")
    (q, qd, corpus)
  }

  /** x112: the curation-pipeline FUNNEL report — per stage of x90
    * (input → quality gate → exact dedup → near-dup removal) the
    * surviving doc count and the retention in ppm of the input: the
    * observability artifact a data team reads after every pipeline run
    * ("where did the corpus go?"). The stages ARE x90's (shared
    * [[corpusStages]] / shared oracle CTE chain), so the funnel can
    * never describe a different pipeline than the one that ships.
    * Four counting aggregates over the already-checkpointed stage frames +
    * a 1-row input-total broadcast; output is 4 rows. */
  val x112PipelineFunnel = Q(
    "x112_pipeline_funnel",
    s"""WITH $x90DuckCtes,
        i AS (SELECT CAST(COUNT(*) AS BIGINT) AS n0 FROM documents),
        f AS (SELECT 0 AS stage_no, 'input' AS stage,
                     CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
              UNION ALL SELECT 1, 'quality', COUNT(*) FROM q
              UNION ALL SELECT 2, 'exact_dedup', COUNT(*) FROM qd
              UNION ALL SELECT 3, 'near_dedup', COUNT(*) FROM corpus)
        SELECT CAST(stage_no AS BIGINT) AS stage_no, stage, n_docs,
               CAST(n_docs * 1000000 // n0 AS BIGINT) AS retained_ppm
        FROM f, i ORDER BY stage_no""") { (spark, dir) =>
    val (q, qd, corpus) = corpusStages(spark, dir)
    val input = T(spark, dir, "documents")
    def row(no: Long, name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_docs"))
        .select(lit(no).as("stage_no"), lit(name).as("stage"), col("n_docs"))
    val f = row(0L, "input", input)
      .unionByName(row(1L, "quality", q))
      .unionByName(row(2L, "exact_dedup", qd))
      .unionByName(row(3L, "near_dedup", corpus))
    val i = input.agg(count(lit(1)).as("n0"))
    f.crossJoin(broadcast(i))
      .select(col("stage_no"), col("stage"), col("n_docs"),
        expr("n_docs * 1000000 div n0").as("retained_ppm"))
      .orderBy("stage_no")
  }

  /** Source-balanced dataset mixing: deterministically downsample every
    * source to at most K documents, choosing by hash order — the
    * "rebalance the web crawl against the curated sources" step of a
    * pretraining data mix. Selection is a pure function of doc_id (never
    * `rand()`), so the mix is reproducible across engines and runs.
    *
    * Scale shape: ROW_NUMBER partitioned by source with a `rnk <= K`
    * filter triggers Spark's InferWindowGroupLimit — a partial
    * WindowGroupLimit runs map-side BEFORE the shuffle, so each task
    * forwards at most K rows per source and the exchange carries
    * O(sources · K) rows, not the corpus. A hot source never floods one
    * reducer. (Plan-gated in PlanSpec.) */
  val x91SourceMix = Q(
    "x91_source_mix",
    s"""WITH r AS (SELECT doc_id, source,
          ROW_NUMBER() OVER (PARTITION BY source
            ORDER BY ${H.d("CAST(doc_id AS VARCHAR)")}, doc_id) AS rnk
        FROM documents)
        SELECT source, doc_id, CAST(rnk AS BIGINT) AS rnk
        FROM r WHERE rnk <= 15 ORDER BY source, rnk""") { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"))
      .orderBy(expr(H.s("cast(doc_id as string)")), col("doc_id"))
    T(spark, dir, "documents")
      .withColumn("rnk", row_number().over(w))
      // filter on the raw rank attribute (cast AFTER): a cast wrapped
      // around the rank column would hide it from InferWindowGroupLimit
      .filter(col("rnk") <= 15)
      .select(col("source"), col("doc_id"), col("rnk").cast("long").as("rnk"))
      .orderBy("source", "rnk")
  }

  /** Benchmark decontamination: for every train-split document, the
    * fraction of its distinct word-3-gram shingles that also occur in the
    * held-out split (t27's hash split) — the "n-gram overlap with the
    * test set" check every pretraining pipeline runs before training.
    * Shingle derivation is the d27/d28 kernel ([[Dedup.shingleHashesFrom]])
    * so all overlap operators agree on what a shingle is.
    *
    * Scale shape: the overlap is a LEFT SEMI join on the hashed shingle —
    * semi-join output never exceeds its left input, so a hot shingle
    * cannot explode the join (no DF cap needed, unlike the pair-joins in
    * d27/d28). The eval side is distinct-projected first; in production
    * the held-out set is benchmark-sized and AQE broadcasts it, while the
    * 80/20 demo split here exercises the shuffle path. */
  val x92Decontamination = Q(
    "x92_decontamination",
    s"""WITH ${Dedup.duckShingles},
        ${Dedup.duckHashedShingles},
        sp AS (SELECT doc_id, ${duckSplitBucket("doc_id")} AS b
               FROM documents),
        tr AS (SELECT hs0.doc_id, th FROM hs0 JOIN sp ON hs0.doc_id = sp.doc_id
               WHERE sp.b < 8),
        ev AS (SELECT DISTINCT unnest(th) AS h
               FROM hs0 JOIN sp ON hs0.doc_id = sp.doc_id WHERE sp.b >= 8),
        tri AS (SELECT doc_id, unnest(th) AS h FROM tr),
        cont AS (SELECT tri.doc_id, COUNT(*) AS n_cont
                 FROM tri JOIN ev ON tri.h = ev.h GROUP BY 1)
        SELECT tr.doc_id, CAST(len(th) AS BIGINT) AS n_shingles,
               CAST(COALESCE(n_cont, 0) AS BIGINT) AS n_contaminated,
               CAST(COALESCE(n_cont, 0) AS DOUBLE)
                 / NULLIF(CAST(len(th) AS BIGINT), 0) AS contamination
        FROM tr LEFT JOIN cont ON tr.doc_id = cont.doc_id
        ORDER BY tr.doc_id""") { (spark, dir) =>
    // checkpointed: the kernel frame feeds three subtrees (train index,
    // train sizes, eval set) — otherwise it would re-shingle the corpus 3×
    val hs = Dedup.shingleHashesFrom(T(spark, dir, "documents"))
      .withColumn("b", splitBucket("doc_id"))
      .ckpt
    val train = hs.filter(col("b") < 8)
    val evalSh = hs.filter(col("b") >= 8)
      .select(explode(col("th")).as("h")).distinct()
    val cont = train.select(col("doc_id"), explode(col("th")).as("h"))
      .join(evalSh, Seq("h"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_cont"))
    train.select(col("doc_id"), size(col("th")).cast("long").as("n_shingles"))
      .join(cont, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_cont"), lit(0L)).as("n_contaminated"),
        (coalesce(col("n_cont"), lit(0L)).cast("double")
          / nullif(col("n_shingles"), lit(0L))).as("contamination"))
      .orderBy("doc_id")
  }

  /** x128: SUBSTRING-granularity benchmark decontamination — the exact
    * shared SPANS between train-split documents and the held-out split
    * (t27's hash split, the same benchmark stand-in as [[x92Decontamination]]),
    * with positions on BOTH sides. x92 scores documents by shingle
    * overlap and drops whole docs; the stronger standard (Lee et al.
    * substring dedup applied to eval sets) masks just the contaminated
    * spans — which needs exactly this table: (train doc, eval doc,
    * a_start, b_start, span_tokens). The kernels are d36's VERBATIM
    * ([[Dedup.spanGramOccurrences]] / [[Dedup.spanIslands]], one
    * definition both operators and both dialects); the only new logic
    * is the cross-split pair orientation (train side = a, eval side =
    * b) — the x101 composition rule applied at span granularity.
    *
    * Scale: inherits d36's whole posture — linear positioned-gram
    * explode, df-capped inverted-index join (never doc×doc), and the
    * island merge keyed by (a, b, diagonal). The split filter makes the
    * pair join strictly smaller than d36's (train×eval ⊂ all×all); at
    * 100 TB the eval side is benchmark-sized, so the gram join's build
    * side is tiny and broadcastable. */
  /** The cross-split contamination-span CTE chain (through `spans`) and
    * its Spark twin — shared by x128 (the span report) and x131 (the
    * rewrite that applies it), so "a contaminated span" is one
    * definition. */
  private[operators] def duckContaminationCtes: String =
    s"""${Dedup.duckSpanOcc},
        sp AS (SELECT doc_id, ${duckSplitBucket("doc_id")} AS b
               FROM documents),
        p AS (SELECT x.doc_id AS a_id, y.doc_id AS b_id, x.pos AS pa, y.pos AS pb
              FROM occ x JOIN occ y ON x.g = y.g
              JOIN sp sa ON x.doc_id = sa.doc_id
              JOIN sp sb ON y.doc_id = sb.doc_id
              WHERE sa.b < 8 AND sb.b >= 8),
        ${Dedup.duckSpanIslands}"""

  private[operators] def contaminationSpans(spark: SparkSession,
      dir: String): DataFrame = {
    val occ = Dedup.spanGramOccurrences(spark, dir)
      .withColumn("b", splitBucket("doc_id"))
    val p = occ.filter(col("b") < 8)
      .select(col("g"), col("doc_id").as("a_id"), col("pos").as("pa"))
      .join(occ.filter(col("b") >= 8)
        .select(col("g").as("g2"), col("doc_id").as("b_id"), col("pos").as("pb")),
        col("g") === col("g2"))
    Dedup.spanIslands(p)
  }

  val x128ContaminationSpans = Q(
    "x128_contamination_spans",
    s"""WITH $duckContaminationCtes
        SELECT * FROM spans WHERE span_tokens >= ${Dedup.SpanMinTokens}
        ORDER BY a_id, b_id, a_start, b_start""") { (spark, dir) =>
    contaminationSpans(spark, dir)
      .orderBy("a_id", "b_id", "a_start", "b_start")
  }

  /** x131: DECONTAMINATED REWRITE — x128's consumer: every train-split
    * document re-emitted with its benchmark-contaminated token
    * positions MASKED OUT (the union of x128's [a_start, a_start +
    * span_tokens) intervals), the surviving tokens stitched back in
    * order, plus the audit counts. This is the "mask the spans, keep
    * the document" endpoint the substring-decontamination standard
    * prescribes — x92 drops whole docs, x128 reports the spans, x131
    * produces the training text. Span definition is
    * [[duckContaminationCtes]]/[[contaminationSpans]] VERBATIM; the
    * rebuild is d47's ordered-stitch idiom.
    *
    * Scale: the span table is contamination-sized (rare by
    * construction — it broadcasts), the mask test is a doc_id-keyed
    * anti-join with a range predicate on the SMALL side, and the
    * rebuild regroups each doc's own tokens — one corpus scan, nothing
    * quadratic corpus-side. */
  val x131DecontaminatedRewrite = Q(
    "x131_decontaminated_rewrite",
    s"""WITH $duckContaminationCtes,
        csp AS (SELECT a_id, a_start, a_start + span_tokens - 1 AS a_end
                FROM spans WHERE span_tokens >= ${Dedup.SpanMinTokens}),
        tkn AS (SELECT t.doc_id, i AS pos, tk[i] AS w
                FROM toks t JOIN sp ON t.doc_id = sp.doc_id,
                     UNNEST(generate_series(1, len(tk))) AS u(i)
                WHERE sp.b < 8),
        mk AS (SELECT doc_id, pos, w,
                      EXISTS (SELECT 1 FROM csp
                              WHERE csp.a_id = tkn.doc_id
                                AND tkn.pos BETWEEN csp.a_start AND csp.a_end)
                        AS masked
               FROM tkn)
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_masked,
               COALESCE(string_agg(w, ' ' ORDER BY pos)
                          FILTER (WHERE NOT masked), '') AS text_clean
        FROM mk GROUP BY doc_id ORDER BY doc_id""") { (spark, dir) =>
    val spans = contaminationSpans(spark, dir)
      .select(col("a_id"), col("a_start"),
        (col("a_start") + col("span_tokens") - 1).as("a_end"))
    val tkn = T(spark, dir, "documents")
      .filter(splitBucket("doc_id") < 8)
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("w"))
    val masked = tkn.join(broadcast(spans),
      col("doc_id") === col("a_id")
        && col("pos") >= col("a_start") && col("pos") <= col("a_end"),
      "left_semi")
    val kept = tkn.join(broadcast(spans),
      col("doc_id") === col("a_id")
        && col("pos") >= col("a_start") && col("pos") <= col("a_end"),
      "left_anti")
    val nm = masked.groupBy("doc_id").agg(count(lit(1)).as("n_masked"))
    val rebuilt = kept.groupBy("doc_id").agg(
      count(lit(1)).as("n_kept"),
      expr("array_join(transform(array_sort(collect_list(struct(pos, w))), " +
        "s -> s.w), ' ')").as("text_clean"))
    tkn.groupBy("doc_id").agg(count(lit(1)).as("n_tokens"))
      .join(nm, Seq("doc_id"), "left")
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_masked"), lit(0L)).as("n_masked"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
      .orderBy("doc_id")
  }

  /** x129 feature-hash buckets: DSIR's hashed n-gram trick — the model
    * state is BOUNDED at this many cells regardless of corpus size. */
  private val DsirBuckets = 16384

  /** DuckDB dialect of [[dsirScores]] before the per-doc sum: the
    * hashed feature stream `fe`, the reference source `ref`, the model
    * counts and totals, and the per-feature `sc` (doc_id, source, bits)
    * — one text for x129 and x133. */
  private val duckDsirScores =
    s"""tk AS (SELECT doc_id, source, string_split(text, ' ') AS t
                    FROM documents),
        uni AS (SELECT doc_id, source, unnest(t) AS f FROM tk),
        big AS (SELECT doc_id, source,
                       unnest(list_transform(range(1, len(t)),
                         i -> t[i] || ' ' || t[i+1])) AS f
                FROM tk),
        fe AS (SELECT doc_id, source, ${H.d("f")} % $DsirBuckets AS fb
               FROM (SELECT * FROM uni UNION ALL SELECT * FROM big)),
        ref AS (SELECT MIN(source) AS rs FROM documents),
        tcnt AS (SELECT fb, COUNT(*) AS ct FROM fe, ref
                 WHERE source = rs GROUP BY fb),
        ttot AS (SELECT COUNT(*) AS tt FROM fe, ref WHERE source = rs),
        rcnt AS (SELECT fb, COUNT(*) AS cr FROM fe GROUP BY fb),
        rtot AS (SELECT COUNT(*) AS tr FROM fe),
        sc AS (SELECT fe.doc_id, fe.source,
                      (LENGTH(bin(rtot.tr)) - LENGTH(bin(rcnt.cr + 1)))
                    - (LENGTH(bin(ttot.tt))
                       - LENGTH(bin(COALESCE(tcnt.ct, 0) + 1))) AS bits
               FROM fe JOIN rcnt ON fe.fb = rcnt.fb
               LEFT JOIN tcnt ON fe.fb = tcnt.fb, rtot, ttot)"""

  /** x129: DSIR-style importance weighting (Xie et al., "Data Selection
    * for Language Models via Importance Resampling") — per document,
    * the log importance ratio between a TARGET source's hashed-n-gram
    * unigram model and the whole-corpus model: log₂ w(x) = Σ_f [bits_raw(f)
    * − bits_target(f)], features f being word uni+bigrams hashed into
    * [[DsirBuckets]] cells. Positive score ⇒ the document looks more
    * like the target distribution than the corpus at large — the
    * principled upgrade to [[x102TemperatureMix]]'s source-level
    * temperature for quality-targeted sampling (its output feeds x120's
    * priority sampler as the weight column). The target is the
    * lexicographically-first source (x125's deterministic
    * reference-choice rule).
    *
    * Exactness: bits are t34's floor-quantized integer log2 —
    * `length(bin(total)) − length(bin(count + 1))` (add-one smoothing,
    * so target-absent features score exactly, and no transcendental
    * ever runs) — both engines bit-identical by construction.
    *
    * Scale: the feature stream is a map-only explode (≈ 2 features per
    * token); BOTH models collapse onto the hashed bucket domain — at
    * most [[DsirBuckets]] cells each, map-side partials absorbing any
    * corpus size — and ride into the scoring join as broadcasts; the
    * per-doc aggregate reuses the explode's layout. One corpus scan per
    * model + one for scoring, zero corpus-sized shuffles. */
  val x129DsirWeights = Q(
    "x129_dsir_weights",
    s"""WITH $duckDsirScores
        SELECT doc_id, source, CAST(COUNT(*) AS BIGINT) AS n_feats,
               CAST(SUM(bits) AS BIGINT) AS log2w_bits,
               CAST(SUM(bits) * 1000000 // COUNT(*) AS BIGINT)
                 AS mean_bits_ppm
        FROM sc GROUP BY doc_id, source ORDER BY doc_id""") { (spark, dir) =>
    dsirScores(spark, dir).orderBy("doc_id")
  }

  /** The hashed uni+bigram feature stream (doc_id, source, fb) — the
    * shared front of DSIR model building and scoring.
    *
    * ONE corpus pass (r12 optimization): unigrams and bigrams explode
    * from a single concatenated array per document instead of a
    * union of two scans — the union form tokenized every document
    * twice and read the source twice (guide §1.2: remove passes). The
    * emitted (doc_id, source, fb) multiset is identical (downstream is
    * all order-insensitive aggregation); the `size(t) >= 2` guard moves
    * inside the row as an empty-array branch (duck `range(1, 1)` is
    * empty too). */
  private[graft] def dsirFeatures(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), col("source"), explode(expr(
        "concat(t, if(size(t) >= 2, transform(sequence(0, size(t) - 2), " +
          "i -> concat(t[i], ' ', t[i+1])), array()))")).as("f"))
      .withColumn("fb", expr(s"${H.s("f")} % $DsirBuckets"))
      .select("doc_id", "source", "fb")

  /** The frozen DSIR model: target/corpus hashed-feature counts and
    * totals — four domain-bounded frames (≤ [[DsirBuckets]] cells + two
    * 1-row totals) built in ONE batch pass over the corpus. */
  private[graft] case class DsirModel(tcnt: DataFrame, ttot: DataFrame,
      rcnt: DataFrame, rtot: DataFrame)

  /** Build the model from an (optionally checkpointed) feature frame — the
    * totals are rollups of the ≤ [[DsirBuckets]]-row cell tables (tt =
    * Σ ct, tr = Σ cr, coalesced to 0 on an empty target), so the corpus
    * is aggregated once per side, not twice (r12 optimization: two of
    * the four corpus-sized aggregations became cell-table rollups). */
  private[graft] def dsirModelFrom(fe: DataFrame, refSrc: DataFrame): DsirModel = {
    // ONE aggregation builds BOTH cell tables (the target count is a
    // conditional count over the same bucket groups — the reference
    // source rides in as a 1-row broadcast), and the totals are rollups
    // of the ≤ DsirBuckets-row result: the corpus-sized feature stream
    // is aggregated exactly once per model build.
    val cells = fe
      .join(broadcast(refSrc.select(col("rs"))), col("source") === col("rs"), "left")
      .groupBy("fb")
      .agg(count(lit(1)).as("cr"),
        count(when(col("rs").isNotNull, lit(1))).as("ct0"))
      .ckpt // ≤ DsirBuckets rows; consumed by both counts + both totals
    val tcnt = cells.filter(col("ct0") > 0)
      .select(col("fb"), col("ct0").as("ct"))
    val rcnt = cells.select("fb", "cr")
    DsirModel(
      tcnt,
      cells.agg(coalesce(sum(col("ct0")), lit(0L)).as("tt")),
      rcnt,
      cells.agg(coalesce(sum(col("cr")), lit(0L)).as("tr")))
  }

  private[graft] def dsirModel(spark: SparkSession, dir: String): DsirModel =
    dsirModelFrom(dsirFeatures(T(spark, dir, "documents")),
      T(spark, dir, "documents").agg(min(col("source")).as("rs")))

  /** Score a (doc_id, source, text) frame against a FROZEN [[DsirModel]]
    * — stateless per document, so the same code scores an ingest stream
    * incrementally (DsirStreamSpec pins stream == batch; the x96/t34
    * contract: model-BUILD is batch, model-APPLICATION streams). */
  private[graft] def dsirScoreAgainst(docs: DataFrame,
      m: DsirModel): DataFrame =
    dsirScoreFeatures(dsirFeatures(docs), m)

  /** Scoring from an already-derived feature frame — lets [[dsirScores]]
    * reuse the one checkpointed feature pass for both model build and scoring. */
  private def dsirScoreFeatures(fe: DataFrame, m: DsirModel): DataFrame =
    fe
      .join(broadcast(m.rcnt), Seq("fb"))
      .join(broadcast(m.tcnt), Seq("fb"), "left")
      .crossJoin(broadcast(m.rtot))
      .crossJoin(broadcast(m.ttot))
      .withColumn("bits",
        ((length(bin(col("tr"))) - length(bin(col("cr") + 1)))
          - (length(bin(col("tt")))
            - length(bin(coalesce(col("ct"), lit(0L)) + 1)))).cast("long"))
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_feats"), sum(col("bits")).as("log2w_bits"))
      .withColumn("mean_bits_ppm",
        expr("log2w_bits * 1000000 div n_feats"))

  /** x129's scoring pipeline without the output ordering — (doc_id,
    * source, n_feats, log2w_bits, mean_bits_ppm), shared by x129 and
    * the x133 selection tier so the two cannot drift. */
  private def dsirScores(spark: SparkSession, dir: String): DataFrame = {
    // ONE checkpointed feature pass feeds model build AND scoring (r12
    // optimization: the previous form derived the explode+md5 feature
    // stream five times per query — twice per model side, once for
    // scoring; now the corpus is tokenized/hashed once and the model
    // aggregations + scoring join all read the checkpointed stream)
    val docs = T(spark, dir, "documents")
    val fe = dsirFeatures(docs).ckpt
    dsirScoreFeatures(fe,
      dsirModelFrom(fe, docs.agg(min(col("source")).as("rs"))))
  }

  /** x133: DSIR SELECTION — the resampling step that consumes x129's
    * importance scores: per source, the 25 most target-like documents
    * (highest mean log₂ importance ratio, ties to the smaller id). The
    * score formula is x129's CTE chain VERBATIM (the x90/x112
    * composition rule), so selection can never drift from scoring; the
    * per-source rank is x132's map-side group-limit posture. Together
    * x129→x133 is DSIR end-to-end: build hashed models → score every
    * doc → select the importance-weighted subset per source.
    *
    * Scale: x129's bounded-model broadcasts + one ROW_NUMBER window
    * whose `rnk <= K` filter caps map-side (Partial WindowGroupLimit),
    * so the exchange carries O(sources · K) rows. */
  val x133DsirSelection = Q(
    "x133_dsir_selection",
    s"""WITH $duckDsirScores,
        ds AS (SELECT doc_id, source,
                      SUM(bits) * 1000000 // COUNT(*) AS mean_bits_ppm
               FROM sc GROUP BY doc_id, source),
        rk AS (SELECT doc_id, source, mean_bits_ppm,
                      ROW_NUMBER() OVER (PARTITION BY source
                        ORDER BY mean_bits_ppm DESC, doc_id) AS rnk
               FROM ds)
        SELECT source, doc_id, CAST(mean_bits_ppm AS BIGINT) AS mean_bits_ppm,
               CAST(rnk AS BIGINT) AS rnk
        FROM rk WHERE rnk <= 25 ORDER BY source, rnk""") { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val scored = dsirScores(spark, dir)
      .select(col("doc_id"), col("source"), col("mean_bits_ppm"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("mean_bits_ppm").desc, col("doc_id"))
    scored
      .withColumn("rnk", row_number().over(w))
      // raw rank attribute filtered before the cast (x91/x132's
      // InferWindowGroupLimit rule)
      .filter(col("rnk") <= 25)
      .select(col("source"), col("doc_id"), col("mean_bits_ppm"),
        col("rnk").cast("long").as("rnk"))
      .orderBy("source", "rnk")
  }

  /** Token-budget data mixing: fill a fixed per-source token budget with
    * the best documents first — THE selection step of assembling a
    * training mix ("N tokens of web, M of code, ..."). Per source,
    * documents are ranked quality-first (t23's gate, evaluated by the
    * native one-pass [[graft.functions.TokenQuality]] on the Spark side
    * and the identical CASE formula in the oracle), tie-broken by the
    * deterministic doc_id hash, and admitted while the running token sum
    * stays within the budget. Token counts are integers, so the running
    * sum is exact on both engines at any partitioning.
    *
    * Scale — two-phase selection, NO single-reducer sort: a running-sum
    * window has no WindowGroupLimit shortcut (the admission predicate is
    * a cumulative sum, not a rank), so the naive `PARTITION BY source`
    * window would shuffle the dominant source of a 100 TB corpus onto ONE
    * task. Instead the selection order (is_quality DESC, h, doc_id) is
    * range-bucketed by `b = (1-is_quality)·B + h div (2³² / B)` — a
    * MONOTONE function of the order (is_quality is constant within a
    * bucket, h ranges ascending), h being uniform md5 bits so buckets are
    * balanced by construction, never by sampling. Phase 1 aggregates
    * exact per-bucket token sums (column-pruned scan, ≤ 2B rows per
    * source); a tiny window over that aggregate yields each bucket's
    * prefix offset. Phase 2 broadcast-joins the offsets back, discards
    * whole buckets whose offset already exceeds the budget (at 100 TB
    * with budget ≪ corpus that is almost all data — filtered BEFORE any
    * wide shuffle), and runs the running sum per (source, bucket)
    * partition: cum = offset + within-bucket sum, bit-identical to the
    * single-window formula because token counts are integers and the
    * bucket order is monotone. The hot source's sort is spread over B
    * tasks (SkewSpec pins >1 non-empty bucket under the hostile
    * workload). Cost: two passes over the corpus — the phase-1 pass reads
    * only (source, text-length columns), pruned at the scan.
    *
    * The admitted set is a pure function of (text, doc_id) —
    * reproducible across engines, runs, and layouts, like t27/x91. */
  val x94TokenBudgetMix = Q(
    "x94_token_budget_mix",
    s"""WITH d AS (SELECT source, doc_id, text,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                   ${H.d("CAST(doc_id AS VARCHAR)")} AS h FROM documents),
        q AS (SELECT source, doc_id, n_tokens, h,
                     CASE WHEN n_tokens BETWEEN 20 AND 120
                           AND CAST(len(list_filter(string_split(text, ' '),
                                     x -> x = 'the' OR x = 'a')) AS DOUBLE)
                               / n_tokens <= 0.25
                          THEN 1 ELSE 0 END AS is_quality
              FROM d),
        c AS (SELECT source, doc_id, n_tokens, is_quality,
                     SUM(n_tokens) OVER (PARTITION BY source
                       ORDER BY is_quality DESC, h, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
              FROM q)
        SELECT source, doc_id, n_tokens,
               CAST(is_quality AS BIGINT) AS is_quality,
               CAST(cum_tokens AS BIGINT) AS cum_tokens
        FROM c WHERE cum_tokens <= 800
        ORDER BY source, cum_tokens""") { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val budget = 800L
    val nBuckets = 16 // per quality class; hot source spreads over ≤ 2B tasks
    val width = (1L << 32) / nBuckets // h is 32-bit md5 bits: uniform
    val q = T(spark, dir, "documents")
      .select(col("source"), col("doc_id"),
        expr("cast(size(split(text, ' ')) as bigint)").as("n_tokens"),
        expr(H.s("cast(doc_id as string)")).as("h"),
        when(graft.functions.TokenQuality(col("text"), 20, 120, 0.25), 1L)
          .otherwise(0L).as("is_quality"))
      .withColumn("b",
        (lit(1L) - col("is_quality")) * nBuckets + expr(s"h div $width"))
      // checkpointed: phases 1 and 2 both consume this projection, and the
      // expensive part (tokenize + quality scan) must run once, not twice.
      // The checkpointed frame is the NARROW projection (~40 bytes/row,
      // ~1% of corpus bytes) — at extreme scale swap for recompute
      .ckpt
    // phase 1: exact per-bucket token totals → prefix offsets (tiny frame:
    // sources × 2B rows, so the per-source offset window is trivially small)
    val wOff = Window.partitionBy(col("source")).orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val off = q.groupBy("source", "b").agg(sum("n_tokens").as("bt"))
      .withColumn("off", coalesce(sum(col("bt")).over(wOff), lit(0L)))
      .select("source", "b", "off")
    // phase 2: whole buckets past the budget are discarded BEFORE the wide
    // shuffle (off > budget ⇒ even the bucket's first row lands past it);
    // the running sum then runs per (source, bucket) — B-way parallel
    val wIn = Window.partitionBy(col("source"), col("b"))
      .orderBy(col("h"), col("doc_id")) // is_quality constant within bucket
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    q.join(broadcast(off.filter(col("off") <= budget)), Seq("source", "b"))
      .withColumn("cum_tokens", col("off") + sum(col("n_tokens")).over(wIn))
      .filter(col("cum_tokens") <= budget)
      .select("source", "doc_id", "n_tokens", "is_quality", "cum_tokens")
      .orderBy("source", "cum_tokens")
  }

  /** Deterministic per-stratum Bernoulli admission: doc admitted iff
    * `u < rate_bp`, where u = hash('samp' ++ doc_id) mod 10000. A pure
    * function of the stable id (never `rand()` — t27's rule), salted so
    * admission is independent of t27's split buckets: the same doc keeps
    * its fate across engines, runs, and re-partitioning. Map-only. */
  private[operators] def sampleAdmitted(rateBp: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    expr(s"${H.s("concat('samp', cast(doc_id as string))")} % 10000") < rateBp
  private[operators] val sampleAdmittedDuck =
    s"${H.d("'samp' || CAST(doc_id AS VARCHAR)")} % 10000 < rate_bp"

  /** Per-source stratified down-sampling — the source-reweighting step a
    * data-mix job runs (oversampled web crawl down to its target share,
    * books/wiki kept whole). Each source's rate (in basis points) is a
    * deterministic function of the source name here, standing in for the
    * mix config a real job carries; admission is [[sampleAdmitted]].
    * Output = the per-source audit a mix job logs: total, admitted, and
    * the rate applied. Scale shape: one narrow map-only projection and a
    * per-source aggregate with map-side partials — nothing about it
    * changes at 100 TB; the admitted ROWS (not summarized here) never
    * shuffle at all. */
  val x97StratifiedSample = Q(
    "x97_stratified_sample",
    s"""WITH d AS (SELECT source,
                   500 + ${H.d("source")} % 9500 AS rate_bp, doc_id
                   FROM documents),
        a AS (SELECT source, rate_bp,
                     CASE WHEN $sampleAdmittedDuck THEN 1 ELSE 0 END AS kept
              FROM d)
        SELECT source, CAST(MIN(rate_bp) AS BIGINT) AS rate_bp,
               COUNT(*) AS n, CAST(SUM(kept) AS BIGINT) AS n_kept
        FROM a GROUP BY source ORDER BY source""") { (spark, dir) =>
    T(spark, dir, "documents")
      .select(col("source"), col("doc_id"))
      .withColumn("rate_bp", expr(s"500 + ${H.s("source")} % 9500"))
      .withColumn("kept", when(sampleAdmitted(col("rate_bp")), 1L).otherwise(0L))
      .groupBy("source")
      .agg(min(col("rate_bp")).as("rate_bp"), count(lit(1)).as("n"),
        sum(col("kept")).as("n_kept"))
      .orderBy("source")
  }

  /** Scale-safe GLOBAL row numbering — the export step that stamps every
    * training example with its position in a deterministic global
    * shuffle order. The naive form, `row_number() OVER (ORDER BY …)`
    * with no PARTITION BY, sorts the entire corpus in ONE task — the
    * classic driver-shaped bottleneck, dead at 100 TB. The scale-safe
    * form is x94's monotone-bucket trick applied to numbering:
    *
    *  1. order key = (h, doc_id) where h is the 32-bit doc hash — a
    *     deterministic global shuffle (t27's no-`rand()` rule);
    *  2. bucket b = h div (2^32/B) is MONOTONE in h, so the global
    *     order is bucket-major: every row of bucket b precedes every
    *     row of bucket b+1;
    *  3. row_number per bucket (B-way parallel, each task sorts ~N/B);
    *  4. exact per-bucket counts → prefix offsets (a window over B tiny
    *     rows, never over data) broadcast back;
    *  5. global_idx = offset(b) + rank-in-bucket.
    *
    * Bit-equal to the single-task window (the oracle runs exactly that);
    * the engine never materializes a global sort. B scales with the
    * cluster — at 100 TB pick B ≈ tasks, each bucket ~N/B rows. */
  val x99GlobalIndex = Q(
    "x99_global_index",
    s"""WITH d AS (SELECT doc_id, ${H.d("text")} AS h FROM documents)
        SELECT doc_id, h,
               ROW_NUMBER() OVER (ORDER BY h, doc_id) AS global_idx
        FROM d ORDER BY doc_id""") { (spark, dir) =>
    globalIndexFrame(spark, dir)
      .select("doc_id", "h", "global_idx")
      .orderBy("doc_id")
  }

  /** The bucket-parallel global index itself (doc_id, n_chars, h,
    * global_idx) — x99's algorithm, shared with [[x104ShardManifest]] so
    * the export index and the shard manifests derive from ONE plan. */
  private[operators] def globalIndexFrame(
      spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nBuckets = 32
    val width = (1L << 32) / nBuckets
    val d = T(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars"), expr(H.s("text")).as("h"))
      .withColumn("b", expr(s"h div $width"))
      .ckpt // consumed by both the per-bucket rank and the offsets
    val wIn = Window.partitionBy(col("b")).orderBy(col("h"), col("doc_id"))
    val wOff = Window.orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // offsets: B rows total — the partitionBy-less window is over the
    // bucket COUNTS, never the data (x94's offset shape)
    val off = d.groupBy("b").agg(count(lit(1)).as("cnt"))
      .withColumn("off", coalesce(sum(col("cnt")).over(wOff), lit(0L)))
      .select("b", "off")
    d.withColumn("rn", row_number().over(wIn))
      .join(broadcast(off), Seq("b"))
      .select(col("doc_id"), col("n_chars"), col("h"),
        (col("off") + col("rn")).as("global_idx"))
  }

  /** Tokens per packed training sequence for [[t33SequencePack]]. */
  private[operators] val PackLen = 2048L

  /** Sequence packing — the concat-and-chunk step that turns a shuffled
    * corpus into fixed-length pretraining sequences: conceptually,
    * concatenate every document's tokens in the deterministic global
    * order (x99's (h, doc_id) shuffle), then cut every [[PackLen]]
    * tokens; a document may span a pack boundary. Each doc needs only
    * its global STARTING token offset — an exclusive prefix sum of
    * token counts in the global order — from which its first/last pack
    * and offset within the first pack are integer arithmetic.
    *
    * The prefix sum is x99's bucket shape, summing tokens instead of
    * counting rows: per-bucket exclusive running sums in parallel, plus
    * broadcast per-bucket token-total offsets (B tiny rows). No task
    * ever holds more than one bucket; the single-task global window the
    * oracle runs never executes here. Integer token counts make the
    * prefix sums exact, so both engines agree bit-for-bit. */
  val t33SequencePack = Q(
    "t33_sequence_pack",
    s"""WITH tok AS (SELECT doc_id, ${H.d("text")} AS h,
                            CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
                     FROM documents),
        c AS (SELECT doc_id, h, n_tokens,
                     CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY h, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s
              FROM tok)
        SELECT doc_id, n_tokens, s // $PackLen AS start_pack,
               (s + n_tokens - 1) // $PackLen AS end_pack,
               s % $PackLen AS pack_off
        FROM c ORDER BY doc_id""") { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val nBuckets = 32
    val width = (1L << 32) / nBuckets
    val d = T(spark, dir, "documents")
      .select(col("doc_id"), expr(H.s("text")).as("h"),
        expr("cast(size(split(text, ' ')) as bigint)").as("n_tokens"))
      .withColumn("b", expr(s"h div $width"))
      .ckpt // consumed by both the per-bucket prefix and the offsets
    val wIn = Window.partitionBy(col("b")).orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wOff = Window.orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // offsets: per-bucket token totals, B rows — the partitionBy-less
    // window is over those B rows, never the corpus (x99's shape)
    val off = d.groupBy("b").agg(sum(col("n_tokens")).as("tk"))
      .withColumn("off", coalesce(sum(col("tk")).over(wOff), lit(0L)))
      .select("b", "off")
    d.withColumn("ls", coalesce(sum(col("n_tokens")).over(wIn), lit(0L)))
      .join(broadcast(off), Seq("b"))
      .withColumn("s", col("off") + col("ls"))
      .select(col("doc_id"), col("n_tokens"),
        expr(s"s div $PackLen").as("start_pack"),
        expr(s"(s + n_tokens - 1) div $PackLen").as("end_pack"),
        (col("s") % PackLen).as("pack_off"))
      .orderBy("doc_id")
  }

  /** x101: split LEAKAGE audit — near-dup pairs that STRADDLE the
    * train/val/test boundary. x92 guards against an EXTERNAL benchmark
    * leaking into the corpus; this guards the corpus against itself: a
    * test doc whose near-duplicate sits in train inflates every eval
    * number, and no doc-level split (t27 hashes doc_id, so dup clusters
    * scatter across splits by construction) prevents it. Composition of
    * two oracle-checked formulas — t27's split assignment and d28's
    * capped MinHash-LSH verified pairs — filtered to split_a ≠ split_b;
    * the remedy (re-split by duplicate CLUSTER, d34's components, not by
    * doc) follows directly from this report. Scale inherits d28's
    * posture (cap → bands → verify, sub-quadratic); the split join adds
    * two broadcast-size lookups. */
  val x101SplitLeakage = Q(
    "x101_split_leakage",
    s"""WITH ${Dedup.duckLshPairCtes},
        pairs AS (SELECT a_id, b_id,
                         CAST(n_common AS DOUBLE) / (n_a + n_b - n_common) AS jaccard
                  FROM v WHERE CAST(n_common AS DOUBLE) / (n_a + n_b - n_common) >= 0.5),
        sp AS (SELECT doc_id,
                      ${duckSplitOf(duckSplitBucket("doc_id"))} AS split
               FROM documents)
        SELECT a_id, b_id, sa.split AS split_a, sb.split AS split_b, jaccard
        FROM pairs JOIN sp sa ON a_id = sa.doc_id JOIN sp sb ON b_id = sb.doc_id
        WHERE sa.split <> sb.split
        ORDER BY a_id, b_id""") { (spark, dir) =>
    val pairs = Dedup.nearDupPairs(spark, dir)
    val sp = T(spark, dir, "documents")
      .withColumn("b", splitBucket("doc_id"))
      .withColumn("split", splitOf(col("b")))
      .select("doc_id", "split")
    pairs
      .select("a_id", "b_id", "jaccard")
      .join(sp.select(col("doc_id").as("a_id"), col("split").as("split_a")), "a_id")
      .join(sp.select(col("doc_id").as("b_id"), col("split").as("split_b")), "b_id")
      .filter(col("split_a") =!= col("split_b"))
      .select("a_id", "b_id", "split_a", "split_b", "jaccard")
      .orderBy("a_id", "b_id")
  }

  /** x102: TEMPERATURE-weighted source mixing (τ = 0.5) — the fourth
    * standard dataset mix next to balanced (x91), token-budget (x94),
    * and stratified (x97): target proportions ∝ n_s^τ, flattening the
    * source distribution toward rare sources without the hard equality
    * of x91. Per-doc admission is a deterministic hash threshold
    * `H(doc_id) % 1e6 < floor(sqrt(n_min/n_s)·1e6)` — admitted counts
    * land at √(n_min·n_s) ∝ n_s^0.5, the smallest source keeps
    * everything, and because division, sqrt, multiply and floor are each
    * correctly rounded IEEE ops, the threshold is bit-identical across
    * engines (the one float appearance; everything else is integers).
    * Admission is monotone in the threshold, so growing a source only
    * ADDS docs — re-runs are incremental, never reshuffling past
    * selections (the same property x97 documents). Map-only apart from
    * the source-count aggregate; the rate table is source-cardinality
    * sized and broadcasts. */
  val x102TemperatureMix = Q(
    "x102_temperature_mix",
    s"""WITH cnt AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
        mn AS (SELECT MIN(n) AS n_min FROM cnt),
        rate AS (SELECT source, n,
                        CAST(floor(sqrt(CAST(n_min AS DOUBLE) / n) * 1000000) AS BIGINT) AS thr
                 FROM cnt, mn),
        adm AS (SELECT d.source, d.doc_id FROM documents d
                JOIN rate ON d.source = rate.source
                WHERE ${H.d("CAST(d.doc_id AS VARCHAR)")} % 1000000 < rate.thr)
        SELECT r.source, r.n, r.thr, COUNT(a.doc_id) AS n_admitted
        FROM rate r LEFT JOIN adm a ON r.source = a.source
        GROUP BY r.source, r.n, r.thr ORDER BY r.source""") { (spark, dir) =>
    val docs = T(spark, dir, "documents").select("source", "doc_id")
    val cnt = docs.groupBy("source").agg(count(lit(1)).as("n"))
    val nMin = cnt.agg(min(col("n")).as("n_min"))
    val rate = cnt.crossJoin(broadcast(nMin))
      .withColumn("thr",
        floor(sqrt(col("n_min").cast("double") / col("n")) * 1000000).cast("long"))
      .select("source", "n", "thr")
    val adm = docs.join(broadcast(rate), "source")
      .filter(expr(s"${H.s("cast(doc_id as string)")} % 1000000") < col("thr"))
      .select("source", "doc_id")
    rate.join(adm.groupBy("source").agg(count(lit(1)).as("n_admitted")),
        Seq("source"), "left")
      .select(col("source"), col("n"), col("thr"),
        coalesce(col("n_admitted"), lit(0L)).as("n_admitted"))
      .orderBy("source")
  }

  /** x103: leakage-SAFE group-aware split — the remedy x101's audit
    * points at. t27 hashes the doc_id, so the members of a near-dup
    * cluster scatter across train/val/test by construction and x101
    * reports the straddling pairs. Here the unit of assignment is the
    * duplicate CLUSTER: every doc hashes its cluster REPRESENTATIVE
    * (d34's component label for docs in any verified near-dup pair, the
    * doc's own id for singletons — the component label IS a doc_id, the
    * cluster min, so singleton and member hash the same key space), and
    * t27's bucket rule is applied to that. Near-dup pairs land in one
    * bucket together — the x101 audit over THIS assignment is empty by
    * construction (spec-pinned, SplitSpec). Scale: the component list is
    * pair-participant sized (≪ corpus — only docs in verified near-dup
    * pairs), so the left join is a hash join against a small build side;
    * everything else is t27's map-only hash bucketing. Output is t27's
    * per-(lang, split) shape so the redistribution is directly
    * comparable. */
  val x103ClusterSplit = Q(
    "x103_cluster_split",
    s"""WITH RECURSIVE ${Dedup.duckNearDupPairs},
        ${Dedup.duckComponents("pairs")},
        rep AS (SELECT d.doc_id, d.lang,
                       COALESCE(c.component, d.doc_id) AS rep
                FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id),
        sp AS (SELECT lang,
                      ${duckSplitOf(duckSplitBucket("rep"))} AS split
               FROM rep)
        SELECT lang, split, COUNT(*) AS n
        FROM sp GROUP BY 1, 2 ORDER BY lang, split""") { (spark, dir) =>
    val comp = Dedup.nearDupComponents(spark, dir)
      .select(col("doc_id"), col("component"))
    clusterSplitAssign(T(spark, dir, "documents").select("doc_id", "lang"), comp)
      .groupBy("lang", "split").agg(count(lit(1)).as("n"))
      .orderBy("lang", "split")
  }

  /** Shard size for [[x104ShardManifest]] — small so oracle SF exercises
    * many shards; at 100 TB this is ~256k docs/shard and the manifest is
    * corpus/256k rows. */
  private val ShardSize = 64L

  /** x104: deterministic SHARD MANIFEST for export — the final step of
    * the training-data story: the deterministically-shuffled corpus
    * (x99's global index) is cut into fixed-size shards
    * (`(idx-1) div ShardSize` — contiguous in the shuffle order, so a
    * reader streams shard files sequentially), and each shard gets a
    * manifest row: doc count, index range, an order-independent XOR
    * checksum over the content hashes, and total payload size. The
    * manifest is what makes a 100 TB export VERIFIABLE — a re-run (or a
    * resumed partial run) must reproduce identical manifest rows, any
    * divergence names the exact shard, and the checksum catches a
    * corrupted/substituted shard without re-reading payloads.
    *
    * Scale: derives from x99's bucket-parallel index (no single-task
    * sort), then ONE hash aggregation on shard id; XOR and SUM are both
    * mergeable, so partials combine map-side. Manifest output is
    * corpus/ShardSize rows — tiny. */
  val x104ShardManifest = Q(
    "x104_shard_manifest",
    s"""WITH d AS (SELECT doc_id, n_chars, ${H.d("text")} AS h FROM documents),
        g AS (SELECT doc_id, n_chars, h,
                     ROW_NUMBER() OVER (ORDER BY h, doc_id) AS gi FROM d)
        SELECT (gi - 1) // $ShardSize AS shard,
               COUNT(*) AS n_docs,
               MIN(gi) AS min_idx, MAX(gi) AS max_idx,
               bit_xor(h) AS checksum,
               CAST(SUM(n_chars) AS BIGINT) AS n_chars_total
        FROM g GROUP BY 1 ORDER BY shard""") { (spark, dir) =>
    manifestFrame(spark, dir).orderBy("shard")
  }

  /** The x104 manifest as a frame — shared by the manifest query and the
    * export round-trip audit ([[x116ShardExport]]) so the expectation
    * and the export derive from ONE plan. */
  private[operators] def manifestFrame(
      spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    globalIndexFrame(spark, dir)
      .withColumn("shard", expr(s"(global_idx - 1) div $ShardSize"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        min(col("global_idx")).as("min_idx"),
        max(col("global_idx")).as("max_idx"),
        expr("bit_xor(h)").as("checksum"),
        sum(col("n_chars")).as("n_chars_total"))

  /** Physically write the x99-ordered corpus as x104's shards: one
    * directory per shard (`shard=N/`), rows sorted by global_idx inside
    * each file so a reader streams the shard sequentially. Overwrites —
    * the export itself is part of what x116 exercises each run. */
  private[operators] def exportShards(
      spark: org.apache.spark.sql.SparkSession, dir: String, out: String): Unit = {
    val docs = T(spark, dir, "documents").select(col("doc_id"), col("text"))
    globalIndexFrame(spark, dir).select(col("doc_id"), col("global_idx"))
      .join(docs, "doc_id")
      .withColumn("shard", expr(s"(global_idx - 1) div $ShardSize"))
      .repartition(col("shard"))
      // shard FIRST: partitionBy's required ordering (shard) is then a
      // satisfied prefix, so the writer inserts no extra sort and the
      // documented "sorted by global_idx inside each file" property
      // holds by construction, not by sort stability under spill
      .sortWithinPartitions(col("shard"), col("global_idx"))
      .write.mode("overwrite").partitionBy("shard").parquet(out)
  }

  /** Re-read the exported shards and verify them against the manifest
    * computed from the SOURCE: doc counts, payload bytes, index-range
    * contiguity, the XOR checksum — recomputed from the RE-READ
    * text (not a stored hash column), so a corrupted or substituted
    * payload flips checksum_ok even when counts survive — and
    * INTRA-FILE ORDER: adjacent global_idx inversions in physical read
    * order within each (file, read-split), so a writer that stops
    * sorting inside shard files goes red instead of shipping silently.
    * A missing shard surfaces through the full-outer join as a row of
    * zeros. */
  /** Per-shard count of INTRA-FILE ORDER violations in an exported shard
    * layout, from two complementary detectors:
    *  1. adjacent inversions within each (file, read-split) window —
    *     `monotonically_increasing_id` is increasing in physical read
    *     order within a partition and a parquet split is read in file
    *     order, so any disorder INSIDE a split is an adjacent pair here;
    *  2. overlapping [min,max] index ranges between a file's read-splits
    *     — detector 1 is structurally blind to an inversion landing
    *     EXACTLY on a split boundary (the two sides sit in different
    *     pid windows), but a sorted file's splits carry non-overlapping
    *     ranges, so ordering each file's split ranges by min and
    *     flagging `prev_max >= next_min` closes the boundary case (>=
    *     also catches a duplicated boundary index). Split summaries are
    *     2 longs per (file, split) — tiny at any scale.
    * Keys are file×split → balanced at any scale. */
  /** Per-(shard, file, read-split) audit partials from ONE pass over the
    * exported layout (r12 optimization): the previous form read the
    * export THREE times (content aggregate, intra-split inversion
    * window, cross-split range summary) and shuffled every re-read row
    * (plus its file name) through a (file, split) window. A parquet
    * read-split delivers its rows in file order, so a per-partition
    * kernel computes everything the three passes derived — count, XOR
    * checksum, byte total, [min,max] index range, and ADJACENT-PAIR
    * inversions in physical arrival order — in one scan with ZERO
    * shuffle; the emitted partials are 2-9 longs per (file, split).
    * Detector semantics are unchanged (ExportSpec pins all five audit
    * behaviors, including the split-boundary inversion): detector 1 is
    * the same adjacent comparison within each (file, split) window,
    * detector 2 the same cross-split [min,max] overlap check, now over
    * the kernel's split summaries. */
  private def shardSplitPartials(
      spark: org.apache.spark.sql.SparkSession, out: String): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    spark.read.parquet(out)
      .select(col("shard").cast("long"), col("global_idx").cast("long"),
        expr(H.s("text")).as("th"), length(col("text")).cast("long"),
        input_file_name())
      .as[(Long, Long, Long, Long, String)]
      .mapPartitions { it =>
        // one row per (shard, file) within this split; a shard layout
        // file carries one shard, so keying by (shard, f) is the old
        // (f, pid) window granularity with pid = this task
        final class Agg {
          var cnt = 0L; var xor = 0L; var bytes = 0L
          var min = Long.MaxValue; var max = Long.MinValue; var inv = 0L
        }
        val acc = scala.collection.mutable.LinkedHashMap.empty[(Long, String), Agg]
        var prevF: String = null
        var prevGi = 0L
        it.foreach { case (shard, gi, th, len, f) =>
          val a = acc.getOrElseUpdate((shard, f), new Agg)
          a.cnt += 1; a.xor ^= th; a.bytes += len
          if (gi < a.min) a.min = gi
          if (gi > a.max) a.max = gi
          if ((f eq prevF) || f == prevF) { if (prevGi > gi) a.inv += 1 }
          prevF = f; prevGi = gi
        }
        val pid = org.apache.spark.TaskContext.getPartitionId().toLong
        acc.iterator.map { case ((shard, f), a) =>
          (shard, f, pid, a.cnt, a.xor, a.bytes, a.min, a.max, a.inv)
        }
      }
      .toDF("shard", "f", "pid", "cnt", "xor", "bytes", "smin", "smax", "inv")
  }

  /** (shard, inversions) from the split partials — detector 1 (intra-
    * split adjacent inversions, summed) + detector 2 (overlapping
    * [min,max] split ranges per file). */
  private def inversionsFrom(parts: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ordS = Window.partitionBy(col("f")).orderBy(col("smin"))
    val intraInv = parts.groupBy("shard")
      .agg(sum(col("inv")).as("inversions"))
    val crossInv = parts
      .withColumn("pmax", lag(col("smax"), 1).over(ordS))
      .groupBy("shard")
      .agg(sum(when(col("pmax") >= col("smin"), 1L).otherwise(0L))
        .as("xinversions"))
    intraInv.join(crossInv, Seq("shard"), "full_outer")
      .select(col("shard"),
        (coalesce(col("inversions"), lit(0L)) +
          coalesce(col("xinversions"), lit(0L))).as("inversions"))
  }

  private[operators] def shardOrderInversions(
      spark: org.apache.spark.sql.SparkSession, out: String): DataFrame =
    inversionsFrom(shardSplitPartials(spark, out))

  private[operators] def auditShards(
      spark: org.apache.spark.sql.SparkSession, dir: String, out: String): DataFrame = {
    // ONE export read: the checkpointed split partials feed the per-shard
    // content rollup AND both order detectors (previously three reads)
    val parts = shardSplitPartials(spark, out).ckpt
    val ra = parts.groupBy("shard")
      .agg(sum(col("cnt")).as("r_docs"),
        expr("bit_xor(xor)").as("r_checksum"),
        sum(col("bytes")).as("r_bytes"),
        min(col("smin")).as("r_min"),
        max(col("smax")).as("r_max"))
    val inv = inversionsFrom(parts)
    manifestFrame(spark, dir).join(ra, Seq("shard"), "full_outer")
      .join(inv, Seq("shard"), "left_outer")
      .select(col("shard"),
        coalesce(col("r_docs"), lit(0L)).as("n_docs"),
        coalesce(col("r_bytes"), lit(0L)).as("n_bytes"),
        (col("checksum") <=> col("r_checksum")).cast("long").as("checksum_ok"),
        (col("n_chars_total") <=> col("r_bytes")).cast("long").as("bytes_ok"),
        ((col("r_min") <=> col("min_idx")) && (col("r_max") <=> col("max_idx")) &&
          col("min_idx") === col("shard") * ShardSize + 1 &&
          col("max_idx") - col("min_idx") + 1 === col("r_docs"))
          .cast("long").as("range_ok"),
        (coalesce(col("inversions"), lit(Long.MaxValue)) === 0L)
          .cast("long").as("order_ok"))
      .orderBy("shard")
  }

  /** x116: the shard export made EXECUTABLE end-to-end — x104 computes
    * what the shards should contain; this writes them to disk
    * ([[exportShards]]), re-reads them, and proves the round trip
    * ([[auditShards]]): per-shard doc counts, payload byte totals,
    * contiguous index ranges, and XOR checksums recomputed from the
    * re-read payloads all match the source-derived manifest. The oracle
    * is the manifest the source must produce with every verdict flag
    * true — any loss, duplication, reorder, or corruption in the
    * write→read path flips a flag or shifts a count and goes red.
    *
    * Scale: the export is one shuffle on shard id (contiguous in the
    * x99 order, so shards are balanced by construction at ShardSize
    * granularity) and the audit is one aggregation per side of a
    * manifest-sized join — both mergeable, nothing driver-side. The
    * /tmp layout is keyed by source content ([[Scale.sourceKey]]) like
    * every derived layout in the repo. */
  val x116ShardExport = Q(
    "x116_shard_export",
    s"""WITH d AS (SELECT doc_id, n_chars, ${H.d("text")} AS h FROM documents),
        g AS (SELECT doc_id, n_chars, h,
                     ROW_NUMBER() OVER (ORDER BY h, doc_id) AS gi FROM d)
        SELECT (gi - 1) // $ShardSize AS shard,
               COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS n_bytes,
               CAST(1 AS BIGINT) AS checksum_ok,
               CAST(1 AS BIGINT) AS bytes_ok,
               CAST(1 AS BIGINT) AS range_ok,
               CAST(1 AS BIGINT) AS order_ok
        FROM g GROUP BY 1 ORDER BY shard""") { (spark, dir) =>
    // applicationId in the path: two concurrent sessions over the same
    // source can't race overwrite-vs-read on a shared /tmp layout
    val out = TmpLayouts.register(
      s"${System.getProperty("java.io.tmpdir")}/graft_export_" +
        s"${Scale.sourceKey(dir, "documents")}_${spark.sparkContext.applicationId}")
    // (r12 note: caching the shared global-index plan was A/B-measured
    // neutral-to-negative — globalIndexFrame already checkpoints its hashed
    // base internally, so the second consumer only re-runs a cheap
    // window; left uncached deliberately.)
    exportShards(spark, dir, out)
    auditShards(spark, dir, out)
  }

  /** Hash-shard width for [[x105ManifestDiff]]: 64 content shards. */
  private[graft] val HashShardW = (1L << 32) / 64

  /** x105: incremental manifest DIFF over content-keyed shards — the
    * resumable-export counterpart to [[x104ShardManifest]]. x104's shards
    * are RANK-keyed (contiguous in the export order): perfect for a
    * one-shot export, but inserting one document shifts every index
    * after it, so a corpus delta invalidates ~all downstream shards.
    * Here the shard key is the CONTENT hash band (`h div W` — stable
    * under insertion), so a delta touches only the shards its documents
    * hash into. The operator manifests corpus v1 (docs whose id-hash
    * bucket ≠ 7, ~95%) and v2 (all docs — v1 plus the simulated
    * arrivals), full-outer-joins the two manifest sets on shard, and
    * emits ONLY the differing shards — exactly the re-export workset.
    * Any count/XOR/byte difference flags the shard; an added doc always
    * flips the count, so cancellation cannot hide a change.
    *
    * Scale: two mergeable aggregations over one checkpointed scan + a
    * manifest-sized (64-row here, corpus/2²⁶ in general) full-outer
    * join. The diff output is proportional to the DELTA's shard
    * footprint, not the corpus — the whole point. */
  val x105ManifestDiff = Q(
    "x105_manifest_diff",
    s"""WITH d AS (SELECT doc_id, n_chars, ${H.d("text")} AS h,
                          ${H.d("CAST(doc_id AS VARCHAR)")} % 20 AS b
                   FROM documents),
        m2 AS (SELECT h // $HashShardW AS shard, COUNT(*) AS n,
                      bit_xor(h) AS x, SUM(n_chars) AS c
               FROM d GROUP BY 1),
        m1 AS (SELECT h // $HashShardW AS shard, COUNT(*) AS n,
                      bit_xor(h) AS x, SUM(n_chars) AS c
               FROM d WHERE b <> 7 GROUP BY 1)
        SELECT COALESCE(m1.shard, m2.shard) AS shard,
               m1.n AS n_v1, m2.n AS n_v2, m1.x AS xor_v1, m2.x AS xor_v2
        FROM m1 FULL JOIN m2 ON m1.shard = m2.shard
        WHERE m1.n IS DISTINCT FROM m2.n OR m1.x IS DISTINCT FROM m2.x
           OR m1.c IS DISTINCT FROM m2.c
        ORDER BY shard""") { (spark, dir) =>
    val d = T(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars"), expr(H.s("text")).as("h"),
        expr(s"${H.s("cast(doc_id as string)")} % 20").as("b"))
      .ckpt
    def manifest(src: DataFrame): DataFrame = src
      .groupBy(expr(s"h div $HashShardW").as("shard"))
      .agg(count(lit(1)).as("n"), expr("bit_xor(h)").as("x"),
        sum(col("n_chars")).as("c"))
    val m1 = manifest(d.filter(col("b") =!= 7))
      .select(col("shard"), col("n").as("n_v1"), col("x").as("xor_v1"),
        col("c").as("c_v1"))
    val m2 = manifest(d)
      .select(col("shard").as("shard2"), col("n").as("n_v2"),
        col("x").as("xor_v2"), col("c").as("c_v2"))
    m1.join(m2, col("shard") === col("shard2"), "full_outer")
      .filter(!(col("n_v1") <=> col("n_v2")) || !(col("xor_v1") <=> col("xor_v2"))
        || !(col("c_v1") <=> col("c_v2")))
      .select(coalesce(col("shard"), col("shard2")).as("shard"),
        col("n_v1"), col("n_v2"), col("xor_v1"), col("xor_v2"))
      .orderBy("shard")
  }

  /** Content-hash-sharded corpus view shared by the x117 incremental
    * export: `hshard` is x105's stable content band, `b` the arrival
    * simulation bucket (b = 7 ⇒ the doc is in the v2 delta, ~5%). */
  private[graft] def hashShardDocs(
      spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    T(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("n_chars"),
        expr(H.s("text")).as("h"),
        expr(s"${H.s("cast(doc_id as string)")} % 20").as("b"))
      .withColumn("hshard", expr(s"h div $HashShardW"))

  /** Write `docs` as content-keyed hash shards (`hshard=N/` dirs, rows
    * sorted by doc_id inside each file). `dynamic = true` switches to
    * dynamic partition overwrite: ONLY the shards present in `docs` are
    * replaced — the incremental path. */
  private[graft] def writeHashShards(docs: DataFrame, out: String,
      dynamic: Boolean): Unit = {
    val w = docs.select(col("doc_id"), col("text"), col("hshard"))
      .repartition(col("hshard"))
      .sortWithinPartitions(col("hshard"), col("doc_id"))
      .write.mode("overwrite")
    (if (dynamic) w.option("partitionOverwriteMode", "dynamic") else w)
      .partitionBy("hshard").parquet(out)
  }

  /** Audit the hash-shard layout at `out` against the FULL (v2) source:
    * per shard the re-read doc count, the source-delta `changed` flag,
    * and checksum/byte verdicts recomputed from the re-read payloads —
    * x116's audit posture on the content-keyed layout. */
  private[operators] def auditHashShards(
      spark: org.apache.spark.sql.SparkSession, dir: String, out: String): DataFrame = {
    val src = hashShardDocs(spark, dir)
      .groupBy("hshard")
      .agg(count(lit(1)).as("s_docs"), expr("bit_xor(h)").as("s_checksum"),
        sum(col("n_chars")).as("s_bytes"),
        max(when(col("b") === 7, 1L).otherwise(0L)).as("changed"))
    val re = spark.read.parquet(out)
      .select(col("hshard").cast("long").as("hshard"), col("text"))
      .groupBy("hshard")
      .agg(count(lit(1)).as("r_docs"),
        expr(s"bit_xor(${H.s("text")})").as("r_checksum"),
        sum(length(col("text")).cast("long")).as("r_bytes"))
    src.join(re, Seq("hshard"), "full_outer")
      .select(col("hshard").as("shard"),
        coalesce(col("r_docs"), lit(0L)).as("n_docs"),
        coalesce(col("changed"), lit(0L)).as("changed"),
        (col("s_checksum") <=> col("r_checksum")).cast("long").as("checksum_ok"),
        (col("s_bytes") <=> col("r_bytes")).cast("long").as("bytes_ok"))
      .orderBy("shard")
  }

  /** x117: INCREMENTAL shard export — x105's manifest diff made
    * physical, closing the resumable-100-TB-export loop: corpus v1
    * (docs outside the b=7 arrival bucket) is exported as content-keyed
    * hash shards; the v2 delta then lands and ONLY the shards a delta
    * doc hashes into are rewritten (with their full v2 content) via
    * dynamic partition overwrite — every other shard file is untouched
    * on disk (IncrementalExportSpec pins byte-identical untouched
    * files, and that skipping the delta write leaves every changed
    * shard red). The audit re-reads the merged layout and verifies
    * counts/bytes/XOR checksums per shard against the full v2 source.
    *
    * Scale: the delta write shuffles ONLY the changed shards' docs
    * (∝ delta footprint, not corpus); the audit is one mergeable
    * aggregation per side. At 100 TB this is the difference between a
    * nightly full re-export and touching 5% of shard files. */
  val x117IncrementalExport = Q(
    "x117_incremental_export",
    s"""WITH d AS (SELECT doc_id, n_chars, ${H.d("text")} AS h,
                          ${H.d("CAST(doc_id AS VARCHAR)")} % 20 AS b
                   FROM documents)
        SELECT h // $HashShardW AS shard,
               COUNT(*) AS n_docs,
               CAST(MAX(CASE WHEN b = 7 THEN 1 ELSE 0 END) AS BIGINT) AS changed,
               CAST(1 AS BIGINT) AS checksum_ok,
               CAST(1 AS BIGINT) AS bytes_ok
        FROM d GROUP BY 1 ORDER BY shard""") { (spark, dir) =>
    val out = TmpLayouts.register(
      s"${System.getProperty("java.io.tmpdir")}/graft_increxport_" +
        s"${Scale.sourceKey(dir, "documents")}_${spark.sparkContext.applicationId}")
    // (r12 note: caching this view was A/B-measured ~1.5x SLOWER — its
    // four consumers each need only a narrow pruned slice of a cheap
    // columnar scan, and two of them are writes, so the text column
    // round-trips through the cache for no pruning benefit. Recompute
    // wins at every scale here; left uncached deliberately.)
    val d = hashShardDocs(spark, dir)
    writeHashShards(d.filter(col("b") =!= 7), out, dynamic = false)
    // the delta arrives: rewrite only the shards it hashes into, with
    // those shards' full v2 content
    val changed = d.filter(col("b") === 7).select("hshard").distinct()
    writeHashShards(d.join(changed, Seq("hshard"), "left_semi"), out,
      dynamic = true)
    auditHashShards(spark, dir, out)
  }

  /** The x103 assignment itself (doc_id, …, split) — shared with the
    * SplitSpec straddle audit so the spec audits the exact production
    * formula, not a re-derivation. */
  private[operators] def clusterSplitAssign(
      docs: DataFrame, comp: DataFrame): DataFrame =
    docs.join(comp, Seq("doc_id"), "left")
      .withColumn("rep", coalesce(col("component"), col("doc_id")))
      .withColumn("b", splitBucket("rep"))
      .withColumn("split", splitOf(col("b")))
      .drop("component", "b")

  /** x106: curriculum / interleaved training order — every source's
    * documents ranked by a quality key (n_chars descending here; t23's
    * quality score plugs in identically), then the export order
    * round-robins the sources at each rank: all rank-1 docs (by source),
    * then all rank-2, … The curriculum shape ("best of every source
    * first, no source starves the head of training") behind
    * quality-ordered and temperature-ordered data loading.
    *
    * The interleave position is CLOSED-FORM from the per-source totals:
    * pos(s, rs) = Σ_s' min(n_s', rs−1)  +  #{s' < s : n_s' ≥ rs}
    * — so after the per-source rank, the global position is a MAP-ONLY
    * expression over an S-row broadcast (one struct per source), with
    * no global window, no second shuffle, nothing keyed by rank. The
    * oracle instead runs the literal
    * ROW_NUMBER() OVER (ORDER BY rs, source) — an independent
    * formulation that must agree row-for-row.
    *
    * The per-source rank itself takes x94's two-phase offset remedy —
    * NO source ever sorts in one partition (the round-6 fat stage,
    * retired). The order key (n_chars DESC, doc_id) can't take x99's
    * uniform-hash bucketing (the quality order IS the point), so the
    * bucketing exploits the key's own structure, one level per key
    * part:
    *
    *  1. level-1 offsets: the (source, n_chars) histogram is
    *     DOMAIN-BOUNDED (q83/q85's argument — bounded by max document
    *     length, not corpus rows), so exact per-length counts
    *     prefix-summed under n_chars DESC give each length group's
    *     rank offset from a window over histogram rows, never data;
    *  2. tie groups sub-bucket by `sub = doc_id div W` — MONOTONE in
    *     the tie order (doc_id ASC) with ≤ W rows per sub-bucket BY
    *     CONSTRUCTION (doc_ids are unique), whatever the length or id
    *     distribution does; W = 2¹⁶ default, so a 10⁸-doc source
    *     spreads its rank over ~1500 tasks;
    *  3. level-2 offsets: per (source, n_chars, sub) counts
    *     prefix-summed by sub within the tie group (≤ span/W rows per
    *     window partition);
    *  4. rs = off1 + off2 + row_number within (source, n_chars, sub)
    *     — each rank partition ≤ W rows, and the off2 join shuffles on
    *     the SAME keys the rank window needs, so the exchange is
    *     reused (PlanSpec pins one exchange feeding both).
    *
    * Bit-equal to the single-window formulation (CurriculumRankSpec
    * pins it at W = 8, forcing every level live). */
  /** The x106 CTE prefix (per-source rank `rs` + global interleave
    * `pos`) — shared with x115's shard cut. */
  private val curriculumDuckCtes =
    """r AS (SELECT doc_id, source, n_chars,
                         ROW_NUMBER() OVER (PARTITION BY source
                           ORDER BY n_chars DESC, doc_id) AS rs
                  FROM documents),
       o AS (SELECT doc_id, source, n_chars, CAST(rs AS BIGINT) AS rs,
              ROW_NUMBER() OVER (ORDER BY rs, source) - 1 AS pos
       FROM r)"""

  val x106CurriculumOrder = Q(
    "x106_curriculum_order",
    s"""WITH $curriculumDuckCtes
       SELECT doc_id, source, n_chars, rs, pos FROM o ORDER BY doc_id""") {
    (spark, dir) => curriculumOrdered(spark, dir).orderBy("doc_id")
  }

  /** The curriculum-ordered frame (doc_id, source, n_chars, rs, pos) —
    * x106's body, shared with x115's export-shard cut. */
  private def curriculumOrdered(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val d = T(spark, dir, "documents").select("doc_id", "source", "n_chars")
    val ranked = curriculumRanked(d)
    // S-row totals ride as ONE broadcast array-of-structs; sort_array
    // fixes the struct order so the fold is deterministic (it wouldn't
    // change the sums, but deterministic plans beat order-by-luck)
    val totals = d.groupBy("source").agg(count(lit(1)).as("n"))
      .agg(sort_array(collect_list(struct(col("source").as("s"),
        col("n").as("n")))).as("cnts"))
    ranked
      .crossJoin(broadcast(totals))
      .withColumn("pos",
        expr("aggregate(cnts, 0L, (a, x) -> a + least(x.n, rs - 1))") +
          expr("aggregate(cnts, 0L, (a, x) -> a + " +
            "(case when x.s < source and x.n >= rs then 1L else 0L end))"))
      .select("doc_id", "source", "n_chars", "rs", "pos")
  }

  /** x115: CURRICULUM EXPORT SHARDS — x106's interleaved training order
    * cut into fixed 100-doc shards, each summarized (docs, distinct
    * sources, pos range, payload chars): the artifact a curriculum
    * export actually ships — x104 manifests the hash-ordered export,
    * x115 manifests the CURRICULUM-ordered one, and because the order
    * round-robins sources at each rank, every early shard should mix
    * sources (the n_sources column makes the no-source-starves-the-head
    * property inspectable per shard). The shard cut is `pos div 100` —
    * map-only over the closed-form position; per-shard rollups are one
    * partial-merged aggregation. */
  val x115CurriculumShards = Q(
    "x115_curriculum_shards",
    s"""WITH $curriculumDuckCtes
       SELECT pos // 100 AS shard, COUNT(*) AS n_docs,
              COUNT(DISTINCT source) AS n_sources,
              CAST(MIN(pos) AS BIGINT) AS pos_min,
              CAST(MAX(pos) AS BIGINT) AS pos_max,
              CAST(SUM(n_chars) AS BIGINT) AS n_chars
       FROM o GROUP BY shard ORDER BY shard""") { (spark, dir) =>
    curriculumOrdered(spark, dir)
      .withColumn("shard", expr("pos div 100"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        min(col("pos")).as("pos_min"), max(col("pos")).as("pos_max"),
        sum(col("n_chars")).cast("long").as("n_chars"))
      .orderBy("shard")
  }

  /** x106's bucketed per-source rank kernel: rs = ROW_NUMBER()
    * OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id), computed
    * with no whole-source sort (scale shape documented at
    * [[x106CurriculumOrder]]). `subWidth` is the tie-group sub-bucket
    * width — the hard per-task row bound; specs shrink it to force
    * multi-bucket execution at test scale. */
  private[graft] def curriculumRanked(d: DataFrame,
      subWidth: Long = 1L << 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dd = d.withColumn("sub", expr(s"doc_id div $subWidth"))
      .ckpt // feeds both offset aggregates and the rank itself
    // level-1: domain-bounded (source, n_chars) histogram → the rank
    // offset of each length group; the window runs over histogram rows
    val w1 = Window.partitionBy(col("source")).orderBy(col("n_chars").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val off1 = dd.groupBy("source", "n_chars").agg(count(lit(1)).as("c1"))
      .withColumn("off1", coalesce(sum(col("c1")).over(w1), lit(0L)))
      .select("source", "n_chars", "off1")
    // level-2: per sub-bucket counts → offsets WITHIN the tie group
    val w2 = Window.partitionBy(col("source"), col("n_chars"))
      .orderBy(col("sub")).rowsBetween(Window.unboundedPreceding, -1)
    val off2 = dd.groupBy("source", "n_chars", "sub").agg(count(lit(1)).as("c2"))
      .withColumn("off2", coalesce(sum(col("c2")).over(w2), lit(0L)))
      .select("source", "n_chars", "sub", "off2")
    // the rank window's partition ≤ subWidth rows by doc_id uniqueness;
    // the off2 join shares its (source, n_chars, sub) exchange
    val wIn = Window.partitionBy(col("source"), col("n_chars"), col("sub"))
      .orderBy(col("doc_id"))
    dd.join(off2, Seq("source", "n_chars", "sub"))
      .join(broadcast(off1), Seq("source", "n_chars"))
      .withColumn("rs",
        (col("off1") + col("off2") + row_number().over(wIn)).cast("long"))
      .drop("sub", "off1", "off2")
  }

  /** x108: the DATASET CARD — the one-pass corpus summary a 100 TB
    * release ships alongside its shards: per (source, lang) cell and
    * every rollup level, the document count, distinct-text count (exact
    * dedup's numerator), duplicate fraction, token total, and mean
    * document length. One ROLLUP aggregation over one scan — counts and
    * integer sums are mergeable partials; COUNT(DISTINCT hash) is
    * Spark's standard expand-distinct (the x100 distinct-pairs shape
    * holds it exact at scale); the doubles are final correctly-rounded
    * casts/divides of exact integers, so both engines agree bit-for-bit.
    * The rollup's NULL levels are well-defined because source/lang are
    * non-null by schema. */
  val x108DatasetCard = Q(
    "x108_dataset_card",
    s"""SELECT source, lang, COUNT(*) AS n_docs,
        COUNT(DISTINCT md5(text)) AS n_unique,
        1.0 - CAST(COUNT(DISTINCT md5(text)) AS DOUBLE) / COUNT(*) AS dup_frac,
        CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS mean_chars
        FROM documents
        GROUP BY ROLLUP (source, lang)
        ORDER BY source NULLS FIRST, lang NULLS FIRST""") { (spark, dir) =>
    T(spark, dir, "documents")
      .rollup("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_unique"),
        (lit(1.0) - countDistinct(md5(col("text"))).cast("double")
          / count(lit(1))).as("dup_frac"),
        sum(expr("size(split(text, ' '))")).cast("long").as("n_tokens"),
        (sum(col("n_chars")).cast("double") / count(lit(1))).as("mean_chars"))
      .orderBy(col("source").asc_nulls_first, col("lang").asc_nulls_first)
  }

  /** x110: per-source PROFILE DRIFT between two corpus versions — the
    * monitor that catches a silently changed crawl: for every source,
    * both versions' doc counts, token totals, and mean length
    * (integer ppm), with the token-volume delta in ppm of v1. Versions
    * are the x105 convention (v1 = corpus minus one doc_id band, v2 =
    * all — a real pipeline feeds two snapshot paths). One checkpointed scan
    * feeds both profiles (partials absorb the corpus map-side into
    * |sources| rows each); the diff join is |sources| × |sources|.
    * Where x105 answers "WHICH shards changed" (re-export workset),
    * x110 answers "did the DISTRIBUTION move" (mix/quality alarms) —
    * all integer arithmetic, bit-equal cross-engine. */
  val x110ProfileDrift = Q(
    "x110_profile_drift",
    s"""WITH d AS (SELECT source, n_chars,
                          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
                          ${H.d("CAST(doc_id AS VARCHAR)")} % 20 AS b
                   FROM documents),
        p2 AS (SELECT source, COUNT(*) AS n_docs, SUM(n_tok) AS n_tokens,
                      SUM(n_chars) AS n_chars FROM d GROUP BY 1),
        p1 AS (SELECT source, COUNT(*) AS n_docs, SUM(n_tok) AS n_tokens,
                      SUM(n_chars) AS n_chars FROM d WHERE b <> 7 GROUP BY 1)
        SELECT p1.source, CAST(p1.n_docs AS BIGINT) AS n_docs_v1,
               CAST(p2.n_docs AS BIGINT) AS n_docs_v2,
               CAST(p1.n_tokens AS BIGINT) AS n_tokens_v1,
               CAST(p2.n_tokens AS BIGINT) AS n_tokens_v2,
               CAST((p2.n_tokens - p1.n_tokens) * 1000000 // p1.n_tokens
                 AS BIGINT) AS tok_delta_ppm,
               CAST(p1.n_chars * 1000000 // p1.n_docs AS BIGINT) AS mchars_ppm_v1,
               CAST(p2.n_chars * 1000000 // p2.n_docs AS BIGINT) AS mchars_ppm_v2
        FROM p1 JOIN p2 ON p1.source = p2.source
        ORDER BY p1.source""") { (spark, dir) =>
    val d = T(spark, dir, "documents")
      .selectExpr("source", "n_chars",
        "cast(size(split(text, ' ')) as bigint) as n_tok",
        s"${H.s("cast(doc_id as string)")} % 20 as b")
      .ckpt // one scan feeds both version profiles
    def profile(src: DataFrame): DataFrame = src.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"))
    val p1 = profile(d.filter(col("b") =!= 7))
    val p2 = profile(d).select(col("source").as("source2"),
      col("n_docs").as("n_docs_v2"), col("n_tokens").as("n_tokens_v2"),
      col("n_chars").as("n_chars_v2"))
    p1.join(p2, col("source") === col("source2"))
      .select(col("source"), col("n_docs").as("n_docs_v1"), col("n_docs_v2"),
        col("n_tokens").as("n_tokens_v1"), col("n_tokens_v2"),
        expr("(n_tokens_v2 - n_tokens) * 1000000 div n_tokens").as("tok_delta_ppm"),
        expr("n_chars * 1000000 div n_docs").as("mchars_ppm_v1"),
        expr("n_chars_v2 * 1000000 div n_docs_v2").as("mchars_ppm_v2"))
      .orderBy("source")
  }

  /** x109: the EPOCH/REPEAT allocation plan — the data-mix recipe table
    * a pretraining run is configured from (the published-model pattern:
    * oversampled small high-quality sources repeat for several epochs,
    * the web crawl runs under one). Per source: tokens allocated under a
    * temperature-weighted target (w_s = ⌊√n_s⌋, the τ = 0.5 companion
    * of x102's admission sampler) at CONSTANT total volume (budget =
    * the corpus token total), hard-capped at [[EpochCap]] epochs, plus
    * the implied epoch count in integer ppm. x102 answers "which rows
    * survive a temperature DOWN-sample"; x109 answers "how many times
    * does each source REPEAT" — the two halves of mix execution.
    *
    * Determinism: the weight is the quantized ⌊√n⌋ (sqrt is
    * correctly-rounded IEEE, floor exact — bit-identical cross-engine),
    * so Σw is INTEGER and every allocation is pure bigint arithmetic —
    * no double summation order anywhere. Bound: b·w stays < 2⁶³ up to
    * ~10¹² tokens per source; past that, rescale the weight quantum.
    * Scale: the only corpus-scale work is one column-pruned token-count
    * aggregation; the plan itself is S rows with two 1-row broadcasts. */
  val x109EpochPlan = Q(
    "x109_epoch_plan",
    """WITH d AS (SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
                  FROM documents),
       cnt AS (SELECT source, CAST(SUM(n_tok) AS BIGINT) AS n FROM d GROUP BY source),
       tot AS (SELECT CAST(SUM(n) AS BIGINT) AS b FROM cnt),
       wgt AS (SELECT source, n, CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS w
               FROM cnt),
       sw AS (SELECT CAST(SUM(w) AS BIGINT) AS sumw FROM wgt)
       SELECT source, n AS n_tokens, w AS weight,
              CAST(b * w // sumw AS BIGINT) AS raw_alloc,
              CAST(least(4 * n, b * w // sumw) AS BIGINT) AS alloc_tokens,
              CAST(CASE WHEN b * w // sumw > 4 * n THEN 1 ELSE 0 END AS BIGINT) AS capped,
              CAST(least(4 * n, b * w // sumw) * 1000000 // n AS BIGINT) AS epochs_ppm
       FROM wgt, tot, sw ORDER BY source""") { (spark, dir) =>
    val cnt = T(spark, dir, "documents")
      .selectExpr("source", "cast(size(split(text, ' ')) as bigint) as n_tok")
      .groupBy("source").agg(sum(col("n_tok")).cast("long").as("n"))
    val tot = cnt.agg(sum(col("n")).cast("long").as("b"))
    val wgt = cnt.withColumn("w",
      floor(sqrt(col("n").cast("double"))).cast("long"))
    val sw = wgt.agg(sum(col("w")).cast("long").as("sumw"))
    wgt.crossJoin(broadcast(tot)).crossJoin(broadcast(sw))
      .select(col("source"), col("n").as("n_tokens"), col("w").as("weight"),
        expr("b * w div sumw").as("raw_alloc"),
        expr(s"least($EpochCap * n, b * w div sumw)").as("alloc_tokens"),
        expr(s"cast(case when b * w div sumw > $EpochCap * n then 1 else 0 end as bigint)")
          .as("capped"),
        expr(s"least($EpochCap * n, b * w div sumw) * 1000000 div n")
          .as("epochs_ppm"))
      .orderBy("source")
  }

  /** Max repeat factor for [[x109EpochPlan]] (both dialects; the oracle
    * inlines the literal 4). */
  private val EpochCap = 4L

  /** x111: leave-one-source-out ABLATION profile — for every source,
    * what the corpus looks like WITHOUT it: remaining docs/tokens, the
    * source's own token share, and the remaining mean document length.
    * The planning table behind source-ablation experiments (x109 plans
    * how much of each source goes IN; x111 quantifies what taking one
    * OUT removes — together the mix-design loop). Pure integer
    * arithmetic off ONE aggregation: per-source totals plus a 1-row
    * corpus-total broadcast; exclusion is subtraction, never a second
    * scan per source (the naive form is S scans — the trap this
    * operator exists to avoid at 100 TB). */
  val x111AblationProfile = Q(
    "x111_ablation_profile",
    """WITH d AS (SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
                  FROM documents),
       cnt AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                      CAST(SUM(n_tok) AS BIGINT) AS n_tokens
               FROM d GROUP BY source),
       tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS td,
                      CAST(SUM(n_tokens) AS BIGINT) AS tt FROM cnt)
       SELECT source, n_docs, n_tokens,
              CAST(n_tokens * 1000000 // tt AS BIGINT) AS share_ppm,
              CAST(td - n_docs AS BIGINT) AS docs_excl,
              CAST(tt - n_tokens AS BIGINT) AS tokens_excl,
              CAST((tt - n_tokens) // (td - n_docs) AS BIGINT) AS mean_tok_excl
       FROM cnt, tot ORDER BY source""") { (spark, dir) =>
    val cnt = T(spark, dir, "documents")
      .selectExpr("source", "cast(size(split(text, ' ')) as bigint) as n_tok")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
    val tot = cnt.agg(sum(col("n_docs")).as("td"), sum(col("n_tokens")).as("tt"))
    cnt.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        expr("n_tokens * 1000000 div tt").as("share_ppm"),
        (col("td") - col("n_docs")).as("docs_excl"),
        (col("tt") - col("n_tokens")).as("tokens_excl"),
        expr("(tt - n_tokens) div (td - n_docs)").as("mean_tok_excl"))
      .orderBy("source")
  }

  /** x114: corpus-version CHURN audit — the doc-level complement of
    * x105 (which shards changed) and x110 (did the distribution move):
    * per (class, source), how many documents were ADDED, REMOVED,
    * CHANGED (same id, different content hash) or KEPT between two
    * corpus versions. Versions are synthesized deterministically from
    * the hash bucket (q72's pattern, x110's bucket convention): v1
    * excludes bucket 5 (those arrive in v2 = added), v2 excludes
    * bucket 7 (removed) and edits bucket 3's text (changed) — all four
    * classes non-empty and both dialects build the identical versions.
    * Shape: one FULL OUTER join on doc_id comparing content hashes —
    * at 100 TB both sides shuffle once on the id and the hash compare
    * is per-row; the output is |sources|·4 rows of counts. */
  val x114ChurnAudit = Q(
    "x114_churn_audit",
    s"""WITH d AS (SELECT doc_id, source, text,
                          ${H.d("CAST(doc_id AS VARCHAR)")} % 20 AS b
                   FROM documents),
        v1 AS (SELECT doc_id, source, md5(text) AS h FROM d WHERE b <> 5),
        v2 AS (SELECT doc_id, source,
                      CASE WHEN b = 3 THEN md5(text || ' v2-edit') ELSE md5(text) END AS h
               FROM d WHERE b <> 7),
        j AS (SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
                     COALESCE(v1.source, v2.source) AS source,
                     CASE WHEN v1.doc_id IS NULL THEN 'added'
                          WHEN v2.doc_id IS NULL THEN 'removed'
                          WHEN v1.h <> v2.h THEN 'changed'
                          ELSE 'kept' END AS class
              FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
        SELECT class, source, COUNT(*) AS n
        FROM j GROUP BY class, source ORDER BY class, source""") { (spark, dir) =>
    val d = T(spark, dir, "documents")
      .selectExpr("doc_id", "source", "text",
        s"${H.s("cast(doc_id as string)")} % 20 as b")
      .ckpt // both versions derive from one scan
    val v1 = d.filter(col("b") =!= 5)
      .select(col("doc_id"), col("source"), md5(col("text").cast("binary")).as("h"))
    val v2 = d.filter(col("b") =!= 7)
      .select(col("doc_id"), col("source"),
        when(col("b") === 3,
          md5(concat(col("text"), lit(" v2-edit")).cast("binary")))
          .otherwise(md5(col("text").cast("binary"))).as("h"))
    v1.as("a").join(v2.as("c"), col("a.doc_id") === col("c.doc_id"), "full_outer")
      .select(
        coalesce(col("a.source"), col("c.source")).as("source"),
        when(col("a.doc_id").isNull, "added")
          .when(col("c.doc_id").isNull, "removed")
          .when(col("a.h") =!= col("c.h"), "changed")
          .otherwise("kept").as("class"))
      .groupBy("class", "source").agg(count(lit(1)).as("n"))
      .orderBy("class", "source")
  }

  /** x120: weight-proportional corpus SAMPLE without replacement —
    * priority sampling (Duffield–Lund–Thorup): each document draws a
    * deterministic uniform u from its id hash and competes with
    * priority w/u; the k largest priorities form a fixed-size sample
    * whose inclusion probability is proportional to weight (here
    * n_chars — the "sample long documents more" knob a token-budgeted
    * mix wants), with no two-pass total-weight scan and no rejection
    * loop. The priority is computed in INTEGER arithmetic —
    * (w·2³²) div (h+1) with h the shared 32-bit hash — so both engines
    * rank bit-identically (t27's no-`rand()` rule). The multiply bounds
    * the weight domain at w < 2³⁰ (DuckDB errors on bigint overflow
    * where the JVM would wrap silently) — a gigabyte-scale single
    * document is far outside every t46-class length gate upstream, and
    * the expression itself now raises on w ≥ 2³⁰ (matching DuckDB's
    * overflow error) instead of wrapping; PrioritySampleSpec pins the
    * failure mode.
    *
    * Scale: the weighting is a map-only projection and the selection is
    * `ORDER BY … LIMIT k` — Spark plans TakeOrderedAndProject (per-task
    * top-k, k·P tiny rows to the driver), never a global sort. At
    * 100 TB the full corpus is scanned once and nothing is shuffled. */
  /** The ONE Spark-dialect definition of x120's integer priority —
    * shared with the streaming maintainer
    * ([[graft.streaming.StreamOps.PrioritySampleMaintainer]]) so the
    * continuous sample and the batch sample cannot drift. */
  private[graft] val priorityExpr: String = {
    // w < 2^30 keeps w * 2^32 < 2^62, inside the signed-64 domain both
    // engines compute in; beyond it DuckDB errors on overflow, so the
    // Spark side raises too rather than wrapping silently.
    val w = "greatest(n_chars, 1)"
    s"if($w < 1073741824, $w * 4294967296 div " +
      s"(${H.s("cast(doc_id as string)")} + 1), " +
      "cast(raise_error('x120: weight >= 2^30 overflows the 64-bit " +
      "priority domain') as bigint))"
  }

  val x120PrioritySample = Q(
    "x120_priority_sample",
    s"""WITH d AS (SELECT doc_id, source, n_chars,
                          GREATEST(n_chars, 1) * 4294967296 //
                            (${H.d("CAST(doc_id AS VARCHAR)")} + 1) AS priority
                   FROM documents)
        SELECT doc_id, source, n_chars,
               CAST(priority AS BIGINT) AS priority
        FROM d ORDER BY priority DESC, doc_id LIMIT 100""") { (spark, dir) =>
    T(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"),
        expr(priorityExpr).as("priority"))
      .orderBy(col("priority").desc, col("doc_id"))
      .limit(100)
  }

  /** x132: PER-SOURCE weight-proportional sample — x120's priority
    * sampling applied WITHIN each source (top-25 priorities per
    * source): the per-source reservoir a mix builder draws from when
    * the recipe says "K weight-proportional docs from every source",
    * where global x120 would let a large source crowd the small ones
    * out entirely. Priorities are [[priorityExpr]] VERBATIM (same
    * integer arithmetic, same w < 2³⁰ raise), so the global and
    * per-source tiers rank identically.
    *
    * Scale is x91's posture, not a global sort: ROW_NUMBER partitioned
    * by source with a raw `rnk <= K` filter triggers the map-side
    * Partial WindowGroupLimit (PlanSpec-gated), so each task forwards
    * at most K rows per source and the exchange carries O(sources · K)
    * rows — a 10k-doc hot source never floods one reducer. */
  val x132SourcePrioritySample = Q(
    "x132_source_priority_sample",
    s"""WITH d AS (SELECT doc_id, source, n_chars,
                          GREATEST(n_chars, 1) * 4294967296 //
                            (${H.d("CAST(doc_id AS VARCHAR)")} + 1) AS priority
                   FROM documents),
        r AS (SELECT doc_id, source, n_chars, priority,
                     ROW_NUMBER() OVER (PARTITION BY source
                       ORDER BY priority DESC, doc_id) AS rnk
              FROM d)
        SELECT source, doc_id, n_chars, CAST(priority AS BIGINT) AS priority,
               CAST(rnk AS BIGINT) AS rnk
        FROM r WHERE rnk <= 25 ORDER BY source, rnk""") { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"))
      .orderBy(col("priority").desc, col("doc_id"))
    T(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"),
        expr(priorityExpr).as("priority"))
      .withColumn("rnk", row_number().over(w))
      // filter on the raw rank attribute (cast AFTER): a cast wrapped
      // around the rank would hide it from InferWindowGroupLimit (x91)
      .filter(col("rnk") <= 25)
      .select(col("source"), col("doc_id"), col("n_chars"), col("priority"),
        col("rnk").cast("long").as("rnk"))
      .orderBy("source", "rnk")
  }

  /** (flag = source, c = n_chars, cnt) cell counts of a documents frame:
    * the mergeable (source, length-cell) state behind every
    * within-source quantile rank (x121, x124, x125, x126). */
  private[operators] def cellCounts(docs: DataFrame): DataFrame =
    docs.groupBy(col("source").as("flag"), col("n_chars").as("c"))
      .agg(count(lit(1)).as("cnt"))

  /** (source, c, q_ppm): each cell's within-source cumulative share in
    * integer ppm, from [[cellCounts]]. */
  private def quantileCells(counts: DataFrame): DataFrame =
    Relational2.histCum(counts)
      .select(col("flag").as("source"), col("c"),
        expr("cum * 1000000 div n").as("q_ppm"))

  /** DuckDB dialect of [[cellCounts]] → [[quantileCells]]' cumulative
    * counts: `h` (source, c, cnt) and `hc` (source, c, cum, n). */
  private val duckQuantileCells =
    s"""h AS (SELECT source, n_chars AS c, COUNT(*) AS cnt
                   FROM documents GROUP BY 1, 2),
        hc AS (SELECT source, c,
                      SUM(cnt) OVER (PARTITION BY source ORDER BY c) AS cum,
                      SUM(cnt) OVER (PARTITION BY source) AS n
               FROM h)"""

  /** x121: cross-source QUANTILE NORMALIZATION — every document's raw
    * score (n_chars) replaced by its within-source quantile rank in
    * integer ppm, the step that makes per-source scores COMPARABLE
    * before a cross-source mixing/filter decision (a "top 20% of each
    * source" cut is meaningless on raw scores when sources have
    * different length distributions; it is exact on q_ppm). The rank is
    * ⌊cum·10⁶/n⌋ with cum the inclusive cumulative count of the doc's
    * score cell within its source — integer arithmetic, bit-equal
    * across engines.
    *
    * Scale is q81/q83/q85's shared histogram discipline verbatim: one
    * groupBy collapses the corpus to (source, cell) counts, the
    * cumulative prefix runs bucket-parallel via
    * [[Relational2.histCum]] (no task ever sorts a whole source's cell
    * domain — the window the oracle runs never executes here), and the
    * corpus-side re-attach is a broadcast join against the tiny cell
    * table. One full scan, one map-side join, zero corpus-side sort. */
  val x121QuantileNorm = Q(
    "x121_quantile_norm",
    s"""WITH $duckQuantileCells
        SELECT d.doc_id, d.source, d.n_chars,
               CAST(hc.cum * 1000000 // hc.n AS BIGINT) AS q_ppm
        FROM documents d
        JOIN hc ON d.source = hc.source AND d.n_chars = hc.c
        ORDER BY d.doc_id""") { (spark, dir) =>
    val cells = quantileCells(cellCounts(T(spark, dir, "documents"))
      .ckpt) // tiny (source, cell) counts — histCum consumes it twice
    val docs = T(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"))
    docs.join(broadcast(cells),
        docs("source") === cells("source") && docs("n_chars") === cells("c"))
      .select(docs("doc_id"), docs("source"), docs("n_chars"), col("q_ppm"))
      .orderBy("doc_id")
  }

  /** x125: DISTRIBUTION MATCHING (quantile mapping) — rewrite each
    * document's raw score (n_chars) as the REFERENCE source's value at
    * the same within-source quantile: the classic quantile-normalization
    * transform that forces every source's score distribution onto one
    * reference shape (here the lexicographically-first source — a
    * deterministic choice, no data-dependent literal). len_ref =
    * min{c_ref : ref_cum_ppm(c_ref) ≥ q_ppm(doc)}, all integer ppm, so
    * both engines agree bit-for-bit; a match always exists because the
    * reference's top cell sits at exactly 10⁶ ppm.
    *
    * Scale: x121's histogram discipline plus arithmetic on CELL tables
    * only — the as-of lookup is a backward-carry window over the union
    * of the two cell frames (domain-bounded, corpus-independent; the
    * partitionBy-less window runs over cells, never data — x99's B-row
    * offsets acceptance), and the corpus re-attaches via ONE broadcast
    * join of the mapped cell table. The oracle states the same lookup
    * as a θ-join + MIN over the same tiny frames. */
  /** x125's cell-level quantile mapping, factored out so the spec can
    * drive it with a hand-built cell frame: takes the (source, c,
    * q_ppm) table and returns (source, c, len_ref) where len_ref =
    * min{c_ref : r_ppm(c_ref) >= q_ppm} against the
    * lexicographically-first source's cells. Collisions — distinct
    * reference cells flooring to the SAME r_ppm — only occur once a
    * source exceeds 10^6 rows, so the oracle-checked sf runs never
    * exercise the tiebreak; QuantileMapSpec pins it directly here. */
  private[graft] def quantileMapCells(hq: DataFrame): DataFrame = {
    val refSrc = hq.groupBy().agg(min(col("source")).as("rs"))
    val qRows = hq
      .select(col("source"), col("c"), col("q_ppm").as("ppm"),
        lit(1).as("kind"), lit(null).cast("long").as("cr"))
    val rRows = hq.join(broadcast(refSrc), col("source") === col("rs"))
      .select(lit(null).cast("string").as("source"),
        lit(null).cast("long").as("c"), col("q_ppm").as("ppm"),
        lit(0).as("kind"), col("c").as("cr"))
    // backward carry over the ppm axis: traversed in DESCENDING ppm the
    // most recent reference row is min{c_ref : r_ppm >= ppm} (reference
    // cum is strictly increasing in c_ref); kind=0 sorts the reference
    // row first at equal ppm so >= ties resolve inclusively, and cr
    // DESC breaks ties between distinct reference cells that floor to
    // the same r_ppm (reachable once the reference source exceeds 10^6
    // rows): the smallest c_ref sorts LAST among them, so last(cr)
    // agrees with the oracle's MIN(c_ref). The window is
    // partitionBy-less BY DESIGN: it runs over the two cell tables
    // (domain-bounded), never over corpus rows.
    import org.apache.spark.sql.expressions.Window
    val wCarry = Window
      .orderBy(col("ppm").desc, col("kind").asc, col("cr").desc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    qRows.unionByName(rRows)
      .withColumn("len_ref", last(col("cr"), ignoreNulls = true).over(wCarry))
      .filter(col("kind") === 1)
      .select(col("source"), col("c"), col("len_ref"))
  }

  val x125QuantileMap = Q(
    "x125_quantile_map",
    s"""WITH $duckQuantileCells,
        hq AS (SELECT source, c, cum * 1000000 // n AS q_ppm FROM hc),
        ref AS (SELECT MIN(source) AS rs FROM documents),
        r AS (SELECT c AS c_ref, q_ppm AS r_ppm FROM hq, ref
              WHERE source = rs),
        map AS (SELECT q.source, q.c, MIN(r.c_ref) AS len_ref
                FROM hq q JOIN r ON r.r_ppm >= q.q_ppm GROUP BY 1, 2)
        SELECT d.doc_id, d.source, d.n_chars,
               CAST(m.len_ref AS BIGINT) AS len_ref
        FROM documents d
        JOIN map m ON d.source = m.source AND d.n_chars = m.c
        ORDER BY d.doc_id""") { (spark, dir) =>
    val hq = quantileCells(cellCounts(T(spark, dir, "documents"))
      .ckpt) // tiny (source, cell) counts — histCum consumes it twice
      .ckpt // consumed as both the query side and the reference side
    val mapped = quantileMapCells(hq)
    val docs = T(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"))
    docs.join(broadcast(mapped),
        docs("source") === mapped("source") && docs("n_chars") === mapped("c"))
      .select(docs("doc_id"), docs("source"), docs("n_chars"), col("len_ref"))
      .orderBy("doc_id")
  }

  /** x124: the SAMPLING MANIFEST — one row per document carrying every
    * decision the training-data sampler consumes: t27's deterministic
    * split, x121's within-source quantile rank, x122's duplication
    * weight, and the composed effective training weight (weight if
    * train-split AND above the per-source quality cut, else 0). This is
    * the end-of-pipeline export a loader reads instead of re-deriving
    * the three disciplines; each column is an oracle-checked formula
    * reused VERBATIM (the x90/x112 composition rule), so the manifest
    * cannot drift from its constituent operators.
    *
    * Scale: the constituents' postures unchanged — d34's capped pair
    * graph, the broadcast (source, cell) quantile table, the
    * participant-bounded component left join — plus map-only split and
    * effective-weight projections. One corpus scan feeds the histogram,
    * one feeds the manifest rows. */
  val x124SamplingManifest = Q(
    "x124_sampling_manifest",
    s"""WITH RECURSIVE ${Dedup.duckNearDupPairs},
        ${Dedup.duckComponents("pairs")},
        sz AS (SELECT component, COUNT(*) AS n_members FROM comp GROUP BY component),
        $duckQuantileCells,
        m AS (SELECT d.doc_id, d.source,
                     ${duckSplitBucket("d.doc_id")} AS b,
                     hc.cum * 1000000 // hc.n AS q_ppm,
                     COALESCE(GREATEST(1000000 // s.n_members, 1), 1000000) AS weight_ppm
              FROM documents d
              JOIN hc ON d.source = hc.source AND d.n_chars = hc.c
              LEFT JOIN comp c ON d.doc_id = c.doc_id
              LEFT JOIN sz s ON c.component = s.component)
        SELECT doc_id, source,
               ${duckSplitOf("b")} AS split,
               CAST(q_ppm AS BIGINT) AS q_ppm,
               CAST(weight_ppm AS BIGINT) AS weight_ppm,
               CAST(CASE WHEN b < 8 AND q_ppm >= 200000 THEN weight_ppm
                         ELSE 0 END AS BIGINT) AS train_weight_ppm
        FROM m ORDER BY doc_id""") { (spark, dir) =>
    val comp = Dedup.nearDupComponents(spark, dir)
    val cells = quantileCells(cellCounts(T(spark, dir, "documents"))
      .ckpt) // tiny (source, cell) counts — histCum consumes it twice
    val docs = T(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"))
    docs
      .join(broadcast(cells),
        docs("source") === cells("source") && docs("n_chars") === cells("c"))
      .select(docs("doc_id"), docs("source"), col("q_ppm"))
      .join(comp.select(col("doc_id"), col("n_members")), Seq("doc_id"), "left")
      .withColumn("weight_ppm",
        coalesce(expr("greatest(1000000 div n_members, 1)"), lit(1000000L)))
      .withColumn("b", splitBucket("doc_id"))
      .select(col("doc_id"), col("source"), splitOf(col("b")).as("split"),
        col("q_ppm"), col("weight_ppm"),
        when(col("b") < 8 && col("q_ppm") >= 200000, col("weight_ppm"))
          .otherwise(lit(0L)).as("train_weight_ppm"))
      .orderBy("doc_id")
  }

  /** Persisted HISTORY (source, length-cell) counts for
    * [[x126IncrementalManifest]] — the mergeable quantile state, x100's
    * partial-aggregate discipline applied to x121's histogram: counts
    * merge with any future batch delta by union + re-sum, so the
    * full-corpus quantile table is reconstructed from state + batch
    * without ever rescanning history documents. Written once per source
    * content ([[Scale.sourceKey]]); at 100 TB this is the rollup the
    * pipeline maintains per admission batch. */
  private[graft] def x126CellState(spark: SparkSession, dir: String): String = {
    val key = Scale.sourceKey(dir, "documents")
    val p = s"${System.getProperty("java.io.tmpdir")}/graft_x126_cells_$key"
    if (!new java.io.File(s"$p/_SUCCESS").exists()) {
      cellCounts(T(spark, dir, "documents")
        .filter(col("doc_id") % Dedup.d37BatchMod =!= 0))
        .write.mode("overwrite").parquet(p)
    }
    p
  }

  /** x126: INCREMENTAL sampling-manifest maintenance — the x124
    * manifest for a d37 ADMISSION BATCH at batch-proportional cost:
    * no full-corpus re-derivation, no history rescans. Per batch doc it
    * emits the loader columns — t27 split, x121 quantile rank against
    * the FULL (history + batch) distribution, the d37 admission
    * verdict, a duplication-aware weight, and the composed training
    * weight — where every corpus-sized input arrives through persisted,
    * mergeable state:
    *  - q_ppm: history (source, cell) counts ([[x126CellState]]) merge
    *    with the batch's delta counts — the merged histogram IS the
    *    full-corpus histogram (count merge is exact), so the quantile
    *    ranks equal a from-scratch x121 run;
    *  - admitted / n_matches: [[Dedup.incrementalAdmit]] against the
    *    persisted d37 corpus index — batch bands probe the bucketed
    *    index with zero corpus-side shuffle;
    *  - weight_ppm = 10⁶ div (1 + n_matches), floored at 1: a batch doc
    *    that near-duplicates k standing documents enters with ~1/(k+1)
    *    of a document's sampling mass — the admission-tier form of
    *    x122's 1/|cluster| (cluster membership of REJECTED arrivals is
    *    exactly what n_matches counts; admitted docs have no matches by
    *    the greedy contract, weight 10⁶).
    * The oracle re-derives everything from the full tables (d37's
    * fixpoint CTEs + x121's histogram); byte-equal output proves the
    * incremental decomposition — the x100 proof applied to the
    * manifest. Scale: one scan of the batch partition (pushed
    * doc_id-mod filter), state reads are cell-/index-sized, the
    * quantile re-attach broadcasts the cell table; history text is
    * never read (ScaleSpec plan-gates the scans). */
  val x126IncrementalManifest = Q(
    "x126_incremental_manifest",
    s"""WITH ${Dedup.d37OracleCtes},
        $duckQuantileCells,
        bd AS (SELECT doc_id, source, n_chars FROM documents
               WHERE doc_id % ${Dedup.d37BatchMod} = 0),
        o AS (SELECT bd.doc_id, bd.source,
                     ${duckSplitBucket("bd.doc_id")} AS b,
                     hc.cum * 1000000 // hc.n AS q_ppm,
                     CASE WHEN m.b_id IS NULL THEN 1 ELSE 0 END AS admitted,
                     GREATEST(1000000 // (1 + COALESCE(m.n_matches, 0)), 1)
                       AS weight_ppm
              FROM bd
              JOIN hc ON bd.source = hc.source AND bd.n_chars = hc.c
              LEFT JOIN m ON bd.doc_id = m.b_id)
        SELECT doc_id, source,
               ${duckSplitOf("b")} AS split,
               CAST(q_ppm AS BIGINT) AS q_ppm,
               CAST(admitted AS BIGINT) AS admitted,
               CAST(weight_ppm AS BIGINT) AS weight_ppm,
               CAST(CASE WHEN admitted = 1 AND b < 8 AND q_ppm >= 200000
                         THEN weight_ppm ELSE 0 END AS BIGINT)
                 AS train_weight_ppm
        FROM o ORDER BY doc_id""") { (spark, dir) =>
    val (hotPath, setsT, bandsT) = Dedup.d37CorpusIndex(spark, dir)
    val batch = T(spark, dir, "documents")
      .filter(col("doc_id") % Dedup.d37BatchMod === 0)
    val (verdicts, _, _) = Dedup.incrementalAdmit(
      batch.select("doc_id", "text"),
      spark.table(setsT), spark.table(bandsT).hint("merge"),
      spark.read.parquet(hotPath))
    val hist = spark.read.parquet(x126CellState(spark, dir))
    val merged = mergeCellState(hist, batch)
      .ckpt // tiny (source, cell) counts — histCum consumes it twice
    manifestRows(batch, verdicts, merged).orderBy("doc_id")
  }

  /** Merge a (flag, c, cnt) cell-count state with a batch's delta —
    * x126's quantile-state maintenance step, shared with the streaming
    * maintainer ([[graft.streaming.StreamOps.ManifestMaintainer]]). */
  private[graft] def mergeCellState(state: DataFrame,
      batch: DataFrame): DataFrame = {
    state.unionByName(cellCounts(batch))
      .groupBy("flag", "c").agg(sum(col("cnt")).as("cnt"))
  }

  /** x126's scoring tail — batch docs + admission verdicts + the merged
    * cell state → manifest rows. ONE definition for the batch query and
    * the streaming maintainer, so the two tiers cannot drift. */
  private[graft] def manifestRows(batch: DataFrame, verdicts: DataFrame,
      mergedCells: DataFrame): DataFrame = {
    val cells = quantileCells(mergedCells)
    val docs = batch.select(col("doc_id"), col("source"), col("n_chars"))
    docs.join(broadcast(cells),
        docs("source") === cells("source") && docs("n_chars") === cells("c"))
      .select(docs("doc_id"), docs("source"), col("q_ppm"))
      .join(verdicts.select(col("doc_id"), col("admitted"), col("n_matches")),
        Seq("doc_id"))
      .withColumn("b", splitBucket("doc_id"))
      .withColumn("weight_ppm",
        expr("greatest(1000000 div (1 + n_matches), 1)"))
      .select(col("doc_id"), col("source"), splitOf(col("b")).as("split"),
        col("q_ppm"), col("admitted"), col("weight_ppm"),
        when(col("admitted") === 1 && col("b") < 8 && col("q_ppm") >= 200000,
          col("weight_ppm")).otherwise(lit(0L)).as("train_weight_ppm"))
  }

  val all: Seq[Q] = Seq(t27TrainSplit, x90CorpusPipeline, x91SourceMix,
    x92Decontamination, x94TokenBudgetMix, x97StratifiedSample,
    x99GlobalIndex, t33SequencePack, x101SplitLeakage, x102TemperatureMix,
    x103ClusterSplit, x104ShardManifest, x105ManifestDiff, x116ShardExport,
    x117IncrementalExport,
    x106CurriculumOrder, x108DatasetCard, x109EpochPlan, x110ProfileDrift,
    x111AblationProfile, x112PipelineFunnel, x114ChurnAudit,
    x115CurriculumShards, x120PrioritySample, x121QuantileNorm,
    x124SamplingManifest, x125QuantileMap, x126IncrementalManifest,
    x128ContaminationSpans, x129DsirWeights, x131DecontaminatedRewrite,
    x132SourcePrioritySample, x133DsirSelection)
}
