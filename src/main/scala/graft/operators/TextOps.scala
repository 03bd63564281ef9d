package graft.operators

import org.apache.spark.sql.functions._
import Ckpt.Reuse

/** Shared deterministic hashing used by the text/dedup/similarity operators.
  *
  * Both the Spark implementation and the DuckDB oracle need the *same* hash
  * function, so we derive an unsigned value from a prefix of a standard md5
  * (32 bits = the first 8 hex chars unless a caller asks for more) —
  * computable with built-ins on both engines (and fully codegen'd on the
  * Spark side: md5/substring/conv are native expressions).
  * All downstream arithmetic stays below 2^63 (DuckDB errors on overflow
  * instead of wrapping, so the two engines would otherwise diverge).
  */
object H {
  /** Spark SQL dialect: the `bits`-bit hash of expression `x` as bigint
    * (the first `bits / 4` md5 hex chars). */
  def s(x: String, bits: Int = 32): String =
    s"cast(conv(substring(md5($x),1,${bits / 4}),16,10) as bigint)"
  /** DuckDB dialect of the same hash. */
  def d(x: String, bits: Int = 32): String =
    s"CAST('0x' || substring(md5($x),1,${bits / 4}) AS BIGINT)"
  /** JVM twin of the same hash: the first `bits / 8` bytes of the utf-8
    * md5 digest, big-endian, unsigned. `md5` is caller-provided so tight
    * loops reuse one instance. */
  def jvm(x: String, md5: java.security.MessageDigest, bits: Int = 32): Long = {
    md5.reset()
    prefix(md5.digest(x.getBytes(java.nio.charset.StandardCharsets.UTF_8)), bits)
  }
  /** The ONE bit assembly of the hash: the first `bits / 8` bytes of an
    * md5 `digest` as an unsigned big-endian number. Every JVM caller (the
    * kernels, the stub codec, the hyperplane weights, the spec-side
    * recomputations) goes through it, so the dialects cannot drift apart
    * one copy at a time. 56 bits (7 bytes, 14 hex chars) is the widest
    * prefix that is a whole number of bytes and < 2^63 for both SQL
    * engines' signed-bigint arithmetic; the scalable media fingerprint
    * ([[Multimodal.m49MediaComponentsScalable]]) uses it, since 32 bits
    * leave too few distinguishing bits per candidate block. */
  def prefix(digest: Array[Byte], bits: Int): Long = {
    var v = 0L
    var i = 0
    while (i < bits / 8) { v = (v << 8) | (digest(i) & 0xFFL); i += 1 }
    v
  }
}

/** Text-analysis operators over the `documents` table (SURVEY.md §2 Part B,
  * LLM-pipeline extensions): token counting, per-language profiling, quality
  * scoring, heuristic language ID, and document fingerprinting.
  *
  * Scale posture: every operator is a single narrow projection or one
  * hash-partitioned aggregation over the scan — no joins, no driver
  * collection; at 100 TB these run as embarrassingly-parallel map stages
  * (plus one shuffle for the groupBy profiles).
  */
object TextOps {
  private val M = "1000000007" // poly-hash modulus, keeps products < 2^63

  /** Token counting: whitespace tokens, distinct tokens, chars, and a
    * regex ("BPE-ish") token count — all codegen'd built-ins. */
  val t21TokenStats = Q(
    "t21_token_stats",
    """SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
       CAST(length(text) AS BIGINT) AS n_chars_calc,
       CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS n_word_tokens
       FROM documents ORDER BY doc_id""") { (spark, dir) =>
    T(spark, dir, "documents").selectExpr(
      "doc_id",
      "cast(size(split(text, ' ')) as bigint) as n_tokens",
      "cast(size(array_distinct(split(text, ' '))) as bigint) as n_distinct",
      "cast(length(text) as bigint) as n_chars_calc",
      "cast(regexp_count(text, '[a-z]+') as bigint) as n_word_tokens")
      .orderBy("doc_id")
  }

  /** Per-language corpus profile (one shuffle, map-side partial agg). */
  val t22LangProfile = Q(
    "t22_lang_profile",
    """SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
       CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT) AS total_tokens
       FROM documents GROUP BY lang ORDER BY lang""") { (spark, dir) =>
    T(spark, dir, "documents")
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"),
        sum(expr("cast(size(split(text, ' ')) as bigint)")).as("total_tokens"))
      .orderBy("lang")
  }

  /** Quality scoring: stopword ratio, mean word length, length-band flag.
    * Ratios are exact double divisions of integers — identical on both
    * engines, so the oracle compares values, not approximations. */
  val t23QualityScore = Q(
    "t23_quality_score",
    """SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       CAST(len(list_filter(string_split(text, ' '), x -> x = 'the' OR x = 'a')) AS DOUBLE)
         / len(string_split(text, ' ')) AS stop_ratio,
       CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
         / len(string_split(text, ' ')) AS avg_word_len,
       CAST(CASE WHEN len(string_split(text, ' ')) BETWEEN 20 AND 120
                  AND CAST(len(list_filter(string_split(text, ' '), x -> x = 'the' OR x = 'a')) AS DOUBLE)
                      / len(string_split(text, ' ')) <= 0.25
             THEN 1 ELSE 0 END AS BIGINT) AS is_quality
       FROM documents ORDER BY doc_id""") { (spark, dir) =>
    // ONE tokenization pass per row: the split/filter form re-evaluated
    // the (interpreted) tokenization per derived column after projection
    // collapse — ~6 passes per document. token_stats is aliased once and
    // field-extracted; CollapseProject keeps a non-cheap multi-referenced
    // alias in its own Project (SPARK-36718), so the kernel runs once.
    // Ratios are the same int-derived double divisions as the oracle.
    val n = col("ts.n_tokens")
    val stop = col("ts.n_stop")
    T(spark, dir, "documents")
      .select(col("doc_id"), length(col("text")).as("len"),
        graft.functions.TokenStats(col("text")).as("ts"))
      .select(col("doc_id"),
        n.cast("long").as("n_tokens"),
        (stop.cast("double") / n).as("stop_ratio"),
        ((col("len") - n + 1).cast("double") / n).as("avg_word_len"),
        when(n.between(20, 120) && stop.cast("double") / n <= 0.25, 1L)
          .otherwise(0L).as("is_quality"))
      .orderBy("doc_id")
  }

  // Heuristic language-ID: score each language by counts of marker
  // substrings (character-n-gram profile, unigram/bigram level), pick the
  // argmax with a fixed precedence. Pure integer arithmetic over
  // length/replace — the identical snippet runs on both engines.
  private def occ(sub: String): String =
    s"(length(text) - length(replace(text, '$sub', '')))"
  private val sEn = s"(${occ("th")} + ${occ("w")})"
  private val sEs = s"(${occ("rr")} + 2*${occ("o ")})"
  private val sDe = s"(${occ("sch")} + ${occ("z")})"
  private val sFr = s"(${occ("ou")} + ${occ("q")})"
  private val sZh = s"(${occ("zh")} * 3)"
  private val predLang =
    s"""CASE WHEN $sEn >= $sEs AND $sEn >= $sDe AND $sEn >= $sFr AND $sEn >= $sZh THEN 'en'
            WHEN $sEs >= $sDe AND $sEs >= $sFr AND $sEs >= $sZh THEN 'es'
            WHEN $sDe >= $sFr AND $sDe >= $sZh THEN 'de'
            WHEN $sFr >= $sZh THEN 'fr'
            ELSE 'zh' END"""

  /** Heuristic n-gram language ID (deterministic; the oracle re-runs the
    * same formula — correctness is formula equivalence, the profile weights
    * are pluggable). */
  val t24LangId = Q(
    "t24_lang_id",
    s"""SELECT doc_id, lang, $predLang AS pred_lang,
        CAST(CASE WHEN $predLang = lang THEN 1 ELSE 0 END AS BIGINT) AS agree
        FROM documents ORDER BY doc_id""") { (spark, dir) =>
    T(spark, dir, "documents").selectExpr(
      "doc_id", "lang", s"$predLang AS pred_lang",
      s"CAST(CASE WHEN $predLang = lang THEN 1 ELSE 0 END AS BIGINT) AS agree")
      .orderBy("doc_id")
  }

  /** Document fingerprinting: content md5, order-sensitive rolling
    * polynomial hash over tokens (mod 1e9+7), and the min token hash
    * (a 1-permutation minhash). */
  val t25Fingerprint = Q(
    "t25_fingerprint",
    s"""SELECT doc_id, md5(text) AS content_md5,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(string_split(text, ' '), x -> ${H.d("x")} % $M)),
          (acc, h) -> (acc * 31 + h) % $M) AS poly_fp,
        list_min(list_transform(string_split(text, ' '), x -> ${H.d("x")})) AS min_tok_hash
        FROM documents ORDER BY doc_id""") { (spark, dir) =>
    T(spark, dir, "documents").selectExpr(
      "doc_id",
      "md5(text) as content_md5",
      s"aggregate(transform(split(text, ' '), x -> ${H.s("x")} % $M)," +
        s" cast(0 as bigint), (acc, h) -> (acc * 31 + h) % $M) as poly_fp",
      s"array_min(transform(split(text, ' '), x -> ${H.s("x")})) as min_tok_hash")
      .orderBy("doc_id")
  }

  /** Keyword extraction: top-3 terms per document by a TF-IDF-style score.
    * The score is pure integer arithmetic (tf·1e6 div df) so both engines
    * rank identically — ln()-based IDF could differ in the last ulp across
    * engines. Corpus document frequency comes from one aggregation over
    * the exploded (doc, distinct-token) pairs; the per-doc ranking is a
    * window. */
  val t26Keywords = Q(
    "t26_keywords",
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
       tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
       df AS (SELECT w, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
       scored AS (SELECT tf.doc_id, tf.w, tf.tf, df.df,
                         tf.tf * 1000000 // df.df AS score
                  FROM tf JOIN df ON tf.w = df.w),
       ranked AS (SELECT doc_id, w, tf, df, score,
                         ROW_NUMBER() OVER (PARTITION BY doc_id
                           ORDER BY score DESC, w) AS rnk
                  FROM scored)
       SELECT doc_id, w, tf, df, score, CAST(rnk AS BIGINT) AS rnk
       FROM ranked WHERE rnk <= 3 ORDER BY doc_id, rnk""") { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val tok = T(spark, dir, "documents")
      .select(col("doc_id"), explode(expr("split(text, ' ')")).as("w"))
    val tf = tok.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val df = tok.groupBy("w").agg(countDistinct(col("doc_id")).as("df"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("w"))
    tf.join(df, "w")
      .withColumn("score", expr("tf * 1000000 div df"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select("doc_id", "w", "tf", "df", "score", "rnk")
      .orderBy("doc_id", "rnk")
  }

  // BPE-ish pre-tokenizer (GPT-2 shape, lookahead-free so Java regex and
  // RE2 agree): contraction suffixes, space-prefixed letter runs, digit
  // runs, punctuation runs. Alternation order is load-bearing and
  // identical in both dialects (both engines are leftmost-first). The
  // apostrophe means the pattern must NOT pass through a SQL string
  // literal on the Spark side (Column API below); the oracle doubles it.
  private val BpePattern =
    "'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"
  private val BpeSql = BpePattern.replace("'", "''")

  /** BPE-ish token counting — the cost estimator a training-data pipeline
    * runs per document (chars/token ratio is the standard data-quality and
    * budget signal). Pure per-row regex counting: map-only, codegen'd,
    * embarrassingly parallel at any scale. */
  val t28TokenBpe = Q(
    "t28_token_bpe",
    s"""SELECT doc_id,
        CAST(len(regexp_extract_all(text, '$BpeSql')) AS BIGINT) AS n_bpe_tokens,
        CAST(length(text) AS BIGINT) AS n_chars,
        CAST(length(text) AS DOUBLE)
          / NULLIF(len(regexp_extract_all(text, '$BpeSql')), 0) AS chars_per_token
        FROM documents ORDER BY doc_id""") { (spark, dir) =>
    // NULLIF in BOTH dialects: on a zero-token doc (empty/all-space text)
    // Spark's non-ANSI x/0 yields NULL but DuckDB yields IEEE inf — the
    // explicit NULL is the one value the engines agree on
    val nTok = regexp_count(col("text"), lit(BpePattern))
    T(spark, dir, "documents").select(
      col("doc_id"),
      nTok.cast("long").as("n_bpe_tokens"),
      length(col("text")).cast("long").as("n_chars"),
      (length(col("text")).cast("double") / nullif(nTok, lit(0))).as("chars_per_token"))
      .orderBy("doc_id")
  }

  /** Gopher-style repetition stats (Rae et al. 2021 §A1.1): fraction of
    * 2-grams occupied by the most frequent 2-gram and the duplicate-2-gram
    * fraction — the standard "degenerate repetition" quality filters a
    * pretraining pipeline runs per document.
    *
    * Shape: explode 2-grams → hash-partitioned (doc_id, gram) count →
    * per-doc agg → join back to per-doc token counts. Both shuffles are
    * keyed (no cross-doc joins, no driver state); the gram count per doc
    * is bounded by document length, so partitions stay balanced at any
    * corpus size. Docs with <2 tokens have no 2-grams: counts coalesce
    * to 0, fractions stay NULL (identically in both dialects). */
  val t29Repetition = Q(
    "t29_repetition",
    """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       g AS (SELECT doc_id,
               unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS g
             FROM tok),
       c AS (SELECT doc_id, g, COUNT(*) AS c FROM g GROUP BY 1, 2),
       p AS (SELECT doc_id, MAX(c) AS top_c, CAST(SUM(c) AS BIGINT) AS n_grams,
                    COUNT(*) AS n_distinct FROM c GROUP BY 1)
       SELECT tok.doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
              CAST(COALESCE(n_grams, 0) AS BIGINT) AS n_grams,
              CAST(COALESCE(n_distinct, 0) AS BIGINT) AS n_distinct_grams,
              CAST(top_c AS DOUBLE) / n_grams AS top_gram_frac,
              1 - CAST(n_distinct AS DOUBLE) / n_grams AS dup_gram_frac
       FROM tok LEFT JOIN p ON tok.doc_id = p.doc_id
       ORDER BY tok.doc_id""") { (spark, dir) =>
    val tok = T(spark, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("t"))
    // adjacent-pair 2-grams via zip_with over two slices; slice length 0
    // (single-token doc) yields an empty array, so explode drops the doc
    // and the left join below restores it with NULL stats. sequence() is
    // NOT usable here: sequence(1, 0) counts DOWN ([1,0]) instead of
    // returning empty.
    val grams = tok.select(col("doc_id"), explode(expr(
      "zip_with(slice(t, 1, size(t)-1), slice(t, 2, size(t)-1)," +
        " (a, b) -> concat(a, ' ', b))")).as("g"))
    val per = grams.groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max(col("c")).as("top_c"),
        sum(col("c")).as("n_grams"), count(lit(1)).as("n_distinct"))
    // two column-pruned scans of (doc_id, text): cheaper at scale than
    // caching the tokenized corpus just to avoid one re-read
    tok.select(col("doc_id"), size(col("t")).cast("long").as("n_tokens"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct_grams"),
        (col("top_c").cast("double") / col("n_grams")).as("top_gram_frac"),
        (lit(1.0) - col("n_distinct").cast("double") / col("n_grams"))
          .as("dup_gram_frac"))
      .orderBy("doc_id")
  }

  // PII patterns shared by both dialects: no lookarounds, no anchors, no
  // shorthand classes — the subset where Java regex (Spark) and RE2
  // (DuckDB) agree byte-for-byte. Built with the Column API on the Spark
  // side (a SQL string literal would eat the backslash).
  private val EmailRe = "[a-z0-9]+@[a-z0-9]+\\.[a-z]+"
  private val PhoneRe = "555-[0-9]{4}"

  /** PII redaction: count and mask email/phone matches. The corpus
    * carries no PII, so the query plants one synthetic email and phone
    * per document (derived from doc_id — deterministic on both engines)
    * and redacts them; the oracle checks counts and the full redacted
    * text. Map-only, codegen'd regex — embarrassingly parallel; on real
    * data the augmentation step disappears and redaction runs straight
    * over the text column. */
  val t31PiiRedact = Q(
    "t31_pii_redact",
    s"""WITH a AS (SELECT doc_id,
          text || ' contact user' || CAST(doc_id AS VARCHAR)
               || '@example.com or 555-'
               || CAST(1000 + doc_id % 9000 AS VARCHAR) AS aug
        FROM documents)
        SELECT doc_id,
          CAST(len(regexp_extract_all(aug, '$EmailRe')) AS BIGINT) AS n_emails,
          CAST(len(regexp_extract_all(aug, '$PhoneRe')) AS BIGINT) AS n_phones,
          regexp_replace(regexp_replace(aug, '$EmailRe', '<EMAIL>', 'g'),
                         '$PhoneRe', '<PHONE>', 'g') AS clean
        FROM a ORDER BY doc_id""") { (spark, dir) =>
    val aug = concat(col("text"), lit(" contact user"),
      col("doc_id").cast("string"), lit("@example.com or 555-"),
      (lit(1000) + col("doc_id") % 9000).cast("string"))
    T(spark, dir, "documents").select(
      col("doc_id"),
      regexp_count(aug, lit(EmailRe)).cast("long").as("n_emails"),
      regexp_count(aug, lit(PhoneRe)).cast("long").as("n_phones"),
      regexp_replace(regexp_replace(aug, lit(EmailRe), lit("<EMAIL>")),
        lit(PhoneRe), lit("<PHONE>")).as("clean"))
      .orderBy("doc_id")
  }

  // Chunking geometry: 64-token windows every 48 tokens (16-token
  // overlap) — the pretraining/RAG shape where each boundary sentence
  // appears in two chunks so no context is lost at a cut.
  private val ChunkSize = 64
  private val ChunkStride = 48

  /** Overlapping-window chunking: split each document into whitespace
    * tokens and emit one row per `ChunkSize`-token window starting every
    * `ChunkStride` tokens — the chunk table a tokenize-and-pack training
    * job or a RAG indexer consumes. Window starts are `1, 1+stride, …`
    * up to the token count, so every token lands in ≥1 chunk and a
    * trailing short chunk keeps the document suffix.
    *
    * Scale posture: map-only — split/sequence/explode/slice/array_join
    * are all codegen'd built-ins, no shuffle before the deterministic
    * ORDER BY; the ~1.33× fan-out (stride/size overlap) is row-local, so
    * at 100 TB this is an embarrassingly-parallel scan whose output
    * partitioning follows the input's. */
  val t32ChunkOverlap = Q(
    "t32_chunk_overlap",
    s"""WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        s AS (SELECT doc_id, toks,
                     UNNEST(generate_series(1, greatest(len(toks),1), $ChunkStride)) AS st
              FROM t)
        SELECT doc_id,
               CAST((st-1)/$ChunkStride AS BIGINT) AS chunk_idx,
               CAST(len(list_slice(toks, st, st+${ChunkSize - 1})) AS BIGINT) AS n_chunk_tokens,
               array_to_string(list_slice(toks, st, st+${ChunkSize - 1}), ' ') AS chunk_text
        FROM s ORDER BY doc_id, chunk_idx""") { (spark, dir) =>
    chunkRows(T(spark, dir, "documents")).orderBy("doc_id", "chunk_idx")
  }

  /** The t32 chunking transform on any (doc_id, text) frame — stateless
    * and map-only, so it applies unchanged to a STREAMING frame (append
    * mode, no watermark/state; see StreamOps.chunkStream and its spec). */
  private[graft] def chunkRows(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(1), greatest(size(col("toks")), lit(1)),
          lit(ChunkStride))).as("st"))
      .select(col("doc_id"),
        ((col("st") - 1) / lit(ChunkStride)).cast("long").as("chunk_idx"),
        size(slice(col("toks"), col("st"), lit(ChunkSize))).cast("long")
          .as("n_chunk_tokens"),
        array_join(slice(col("toks"), col("st"), lit(ChunkSize)), " ")
          .as("chunk_text"))

  /** t34: per-document corpus surprisal — the perplexity-proxy filter a
    * pretraining pipeline runs with a corpus-level unigram model (docs
    * whose tokens are all corpus-common are boilerplate; docs of
    * corpus-rare tokens are gibberish/OOV-heavy; both tails get culled).
    * Per token the score is floor-quantized Shannon surprisal in bits,
    * floor(log2 T) − floor(log2 cnt(w)), computed EXACTLY in integers as
    * `length(bin(T)) − length(bin(cnt))` — a transcendental log here
    * would be the one place in the engine where Spark's libm and
    * DuckDB's could drift a ulp and flip a floor; binary-string length
    * cannot drift. Output: token count, total bits, and the mean bits
    * ppm (integer-scaled mean surprisal per token).
    *
    * Scale shape: one vocab aggregate (map-side partial over tokens),
    * one token⋈vocab equi-join (vocab is the small side — AQE
    * broadcasts it at any realistic vocab/corpus ratio), the 1-row
    * total crossJoin broadcast, then a per-doc aggregate that reuses
    * the explode's partitioning. No driver loop, no doubles anywhere. */
  val t34Surprisal = Q(
    "t34_surprisal",
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
       cnt AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w),
       tot AS (SELECT COUNT(*) AS t FROM tok),
       sc AS (SELECT tok.doc_id,
                     CAST(LENGTH(bin(tot.t)) - LENGTH(bin(cnt.c)) AS BIGINT) AS bits
              FROM tok JOIN cnt ON tok.w = cnt.w, tot)
       SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
              CAST(SUM(bits) AS BIGINT) AS sum_bits,
              CAST(SUM(bits) * 1000000 // COUNT(*) AS BIGINT) AS mean_bits_ppm
       FROM sc GROUP BY doc_id ORDER BY doc_id""") { (spark, dir) =>
    val tok = T(spark, dir, "documents")
      .select(col("doc_id"), explode(expr("split(text, ' ')")).as("w"))
    val cnt = tok.groupBy("w").agg(count(lit(1)).as("c"))
    val tot = tok.agg(count(lit(1)).as("t"))
    surprisalScore(tok, cnt, tot).orderBy("doc_id")
  }

  /** The t34 scoring transform against a FROZEN model — (w, c) vocab and
    * 1-row (t) total — shared by the batch query and the streaming twin:
    * the model sides are static/broadcast, the token stream is the only
    * moving part, so the same code scores an ingest stream incrementally
    * (SurprisalStreamSpec pins stream == batch). Mirrors the x96
    * contract: model-building (vocab counts / centroids) is batch,
    * model-APPLICATION streams. */
  private[graft] def surprisalScore(tok: org.apache.spark.sql.DataFrame,
      cnt: org.apache.spark.sql.DataFrame,
      tot: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    tok.join(cnt, "w")
      .crossJoin(broadcast(tot))
      .withColumn("bits",
        (length(bin(col("t"))) - length(bin(col("c")))).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("bits")).as("sum_bits"))
      .withColumn("mean_bits_ppm", expr("sum_bits * 1000000 div n_tokens"))

  /** t35: bigram CONDITIONAL surprisal — the next model tier above
    * [[t34Surprisal]]'s unigram scoring, the same floor-quantized
    * integer log2 so both engines are bit-exact with no transcendental
    * drift. Per in-document bigram (p, w):
    * bits = ⌊log2 c(p·)⌋ − ⌊log2 c(p,w)⌋ ≈ −log2 P̂(w | p) with
    * P̂(w|p) = c(p,w)/c(p·) and c(p·) counting p's occurrences AS a
    * predecessor (the proper conditional normalizer). Low mean bits =
    * locally predictable text (boilerplate/templates); high = unusual
    * transitions — the bigram perplexity-proxy quality filter.
    *
    * Shape: positioned bigram explode (map-only), two hash-keyed counts
    * (bigram table and context table — the Zipf head is the hot key,
    * handled exactly like t34's vocab join: small model side broadcasts
    * here, AQE skew-split at corpus-scale model size), one per-doc
    * aggregate. Docs with < 2 tokens have no bigrams and drop out — by
    * contract, same in both dialects. */
  val t35BigramSurprisal = Q(
    "t35_bigram_surprisal",
    """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       bg0 AS (SELECT doc_id, unnest(list_transform(range(1, len(t)),
                 i -> {'p': t[i], 'w': t[i+1]})) AS b FROM tok),
       bg AS (SELECT doc_id, b.p AS p, b.w AS w FROM bg0),
       ctx AS (SELECT p, COUNT(*) AS cp FROM bg GROUP BY p),
       bgc AS (SELECT p, w, COUNT(*) AS cb FROM bg GROUP BY p, w),
       sc AS (SELECT bg.doc_id,
                     CAST(LENGTH(bin(ctx.cp)) - LENGTH(bin(bgc.cb)) AS BIGINT) AS bits
              FROM bg JOIN bgc ON bg.p = bgc.p AND bg.w = bgc.w
                      JOIN ctx ON bg.p = ctx.p)
       SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
              CAST(SUM(bits) AS BIGINT) AS sum_bits,
              CAST(SUM(bits) * 1000000 // COUNT(*) AS BIGINT) AS mean_bits_ppm
       FROM sc GROUP BY doc_id ORDER BY doc_id""") { (spark, dir) =>
    val bg = T(spark, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 2) // the duck range(1, len) is empty there too
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(t) - 2), " +
          "i -> named_struct('p', t[i], 'w', t[i+1]))")).as("b"))
      .select(col("doc_id"), col("b.p").as("p"), col("b.w").as("w"))
    val ctx = bg.groupBy("p").agg(count(lit(1)).as("cp"))
    val bgc = bg.groupBy("p", "w").agg(count(lit(1)).as("cb"))
    bg.join(bgc, Seq("p", "w")).join(ctx, "p")
      .withColumn("bits",
        (length(bin(col("cp"))) - length(bin(col("cb")))).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("bits")).as("sum_bits"))
      .withColumn("mean_bits_ppm", expr("sum_bits * 1000000 div n_bigrams"))
      .orderBy("doc_id")
  }

  /** t36: n-gram NOVELTY — per document, the fraction of its distinct
    * 3-gram shingles that are corpus-unique (document frequency 1). Low
    * novelty = boilerplate/template text sharing most of its phrasing
    * with other documents (the signal behind boilerplate stripping and
    * template-site downweighting); high novelty = original prose. The
    * complement of t34's surprisal (which scores against a UNIGRAM
    * model): novelty sees phrase-level repetition across documents.
    * Integer-exact rational (`n_novel·1e6 div n_shingles`) so both
    * engines rank identically — the t26 rule.
    *
    * Reuses the dedup stack's shingle→hash derivation verbatim
    * ([[Dedup.shingleHashesFrom]] / [[Dedup.duckHashedShingles]]) so
    * "shingle" means the same thing in dedup and novelty. Scale: unlike
    * the dedup self-joins this needs NO hot-shingle cap — the df count
    * is a partial-aggregated groupBy and the df join's output equals the
    * index size (no pair blow-up); a stop shingle is one hot bigint key
    * among millions (AQE). One shuffle for df, one for the join, one for
    * the per-doc regroup. */
  val t36NgramNovelty = Q(
    "t36_ngram_novelty",
    s"""WITH ${Dedup.duckShingles},
        ${Dedup.duckHashedShingles},
        ex AS (SELECT doc_id, unnest(th) AS h FROM hs0),
        dfreq AS (SELECT h, COUNT(*) AS df FROM ex GROUP BY h),
        per AS (SELECT ex.doc_id, COUNT(*) AS n_shingles,
                       SUM(CASE WHEN dfreq.df = 1 THEN 1 ELSE 0 END) AS n_novel
                FROM ex JOIN dfreq ON ex.h = dfreq.h GROUP BY ex.doc_id)
        SELECT doc_id, n_shingles, CAST(n_novel AS BIGINT) AS n_novel,
               CAST(n_novel * 1000000 // n_shingles AS BIGINT) AS novelty_ppm
        FROM per ORDER BY doc_id""") { (spark, dir) =>
    val hs = Dedup.shingleHashes(spark, dir).ckpt
    val ex = hs.select(col("doc_id"), explode(col("th")).as("h"))
    val dfreq = ex.groupBy("h").agg(count(lit(1)).as("df"))
    ex.join(dfreq, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty_ppm", expr("n_novel * 1000000 div n_shingles"))
      .orderBy("doc_id")
  }

  /** Query terms for [[t37Bm25]] — a literal term bag, mixed document
    * frequency (rare "dup" dominates via idf; common "vector"/"spark"
    * contribute length-normalized tf). ORDER is load-bearing: the final
    * per-doc score adds the three term scores in THIS fixed order, so the
    * double sum is deterministic without any decimal detour. */
  private val Bm25Terms = Seq("dup", "vector", "spark")

  /** BM25 top-k retrieval: rank the corpus against a fixed query term bag
    * with the BM25 scoring shape — integer idf (the t26 rule: ln() would
    * drift in the last ulp across engines), real tf saturation and
    * document-length normalization in double (every op correctly rounded
    * IEEE on identical operands, so both engines produce bit-equal
    * scores). The retrieval tier of the pipeline: decontamination
    * against eval sets, targeted corpus search, nearest-text lookup —
    * the lexical complement of the s3x embedding ANN family.
    *
    * Shape at 100 TB: the token stream is filtered to the query terms
    * BEFORE any aggregation (predicate on the exploded token — map-side,
    * so the tf groupBy only ever shuffles matching (doc, term) pairs);
    * df and the corpus stats (N, total tokens) are one-row/3-row
    * broadcasts; the per-doc score is a conditional aggregation over ≤
    * |terms| rows per doc; the top-10 is a TakeOrdered (per-partition
    * heads, never a global sort). Per-term scores add in a FIXED literal
    * order, so the double total needs no decimal rounding detour. */
  /** The BM25 scoring CTE chain (ends in `bmscore(doc_id, score)`) —
    * shared by the t37 oracle and s44's hybrid-retrieval oracle so
    * both score with the identical lexical formula. */
  private[graft] val bm25DuckCtes =
    s"""dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
                    FROM documents),
        st AS (SELECT COUNT(*) AS n, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
               FROM dl),
        tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM tok
               WHERE w IN (${Bm25Terms.map(t => s"'$t'").mkString(", ")})
               GROUP BY 1, 2),
        dfreq AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY 1),
        sc AS (SELECT tf.doc_id, tf.w,
                      (st.n * 1000000 // dfreq.df) * (tf.tf * 2.2)
                        / (tf.tf + (1.2 * (0.25 + (0.75 * (dl.dl / st.avgdl)))))
                        AS s
               FROM tf JOIN dfreq ON tf.w = dfreq.w
                       JOIN dl ON tf.doc_id = dl.doc_id, st),
        agg AS (SELECT doc_id,
                       ${Bm25Terms.zipWithIndex.map { case (t, i) =>
                         s"MAX(CASE WHEN w = '$t' THEN s END) AS s$i" }.mkString(", ")}
                FROM sc GROUP BY doc_id),
        bmscore AS (SELECT doc_id,
               ${Bm25Terms.indices.map(i => s"COALESCE(s$i, 0.0)").mkString(" + ")} AS score
        FROM agg)"""

  val t37Bm25 = Q(
    "t37_bm25",
    s"""WITH $bm25DuckCtes
        SELECT doc_id, score FROM bmscore
        ORDER BY score DESC, doc_id LIMIT 10""") { (spark, dir) =>
    bm25Scores(spark, dir).orderBy(col("score").desc, col("doc_id")).limit(10)
  }

  /** The Spark BM25 scorer (doc_id, score) — t37's body, shared with
    * s44's hybrid first stage. */
  private[graft] def bm25Scores(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val docs = T(spark, dir, "documents")
    val dl = docs.selectExpr("doc_id",
      "cast(size(split(text, ' ')) as bigint) as dl")
    val st = dl.agg(count(lit(1)).as("n"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val tf = docs
      .select(col("doc_id"), explode(expr("split(text, ' ')")).as("w"))
      .filter(col("w").isin(Bm25Terms: _*)) // map-side, before the explode output shuffles
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val sc = tf.join(broadcast(dfreq), "w")
      .join(dl, "doc_id")
      .crossJoin(broadcast(st))
      .withColumn("idf", expr("n * 1000000 div df"))
      .withColumn("s",
        expr("(idf * (tf * 2.2)) / (tf + (1.2 * (0.25 + (0.75 * (dl / avgdl)))))"))
    // per-term pivot so the closing sum adds doubles in the FIXED literal
    // term order (k1/b constants comment above the oracle): tf*(k1+1) =
    // tf*2.2 and k1*(1-b+b*dl/avgdl) = 1.2*(0.25+0.75*(dl/avgdl))
    val termCols = Bm25Terms.zipWithIndex.map { case (t, i) =>
      max(when(col("w") === t, col("s"))).as(s"s$i") }
    sc.groupBy("doc_id")
      .agg(termCols.head, termCols.tail: _*)
      .withColumn("score",
        Bm25Terms.indices.map(i => coalesce(col(s"s$i"), lit(0.0)))
          .reduce(_ + _))
      .select("doc_id", "score")
  }

  /** Vocabulary size for [[t38VocabOov]]. */
  private val VocabK = 16

  /** t38: frequency-vocabulary builder + OOV profiling — the tokenizer-
    * training step: the top-[[VocabK]] tokens by corpus count (count
    * desc, token asc — fully deterministic) become the vocabulary, and
    * every document reports its out-of-vocabulary token count and OOV
    * fraction (ppm, the t26 integer rule). High OOV = text the tokenizer
    * will fragment — the coverage signal behind vocab sizing and
    * multilingual mix decisions.
    *
    * Shape: the vocab is one partial-aggregated count + TakeOrdered K
    * (per-partition heaps, Zipf head absorbed map-side — never a global
    * sort); scoring is the token stream against the K-row broadcast via
    * a LEFT join, regrouped per doc. At 100 TB both shuffles carry
    * (token, count) partials and (doc, counts) — never raw text. */
  val t38VocabOov = Q(
    "t38_vocab_oov",
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        vc AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w
               ORDER BY c DESC, w LIMIT $VocabK),
        sc AS (SELECT tok.doc_id, CASE WHEN vc.w IS NULL THEN 1 ELSE 0 END AS oov
               FROM tok LEFT JOIN vc ON tok.w = vc.w)
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(oov) AS BIGINT) AS n_oov,
               CAST(SUM(oov) * 1000000 // COUNT(*) AS BIGINT) AS oov_ppm
        FROM sc GROUP BY doc_id ORDER BY doc_id""") { (spark, dir) =>
    val tok = T(spark, dir, "documents")
      .select(col("doc_id"), explode(expr("split(text, ' ')")).as("w"))
    val vocab = tok.groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w")).limit(VocabK)
      .select(col("w"), lit(1).as("iv"))
    tok.join(broadcast(vocab), Seq("w"), "left")
      .select(col("doc_id"),
        when(col("iv").isNull, 1L).otherwise(0L).as("oov"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("oov")).as("n_oov"))
      .withColumn("oov_ppm", expr("n_oov * 1000000 div n_tokens"))
      .orderBy("doc_id")
  }

  /** t39: cross-source overlap matrix — exact shingle-set Jaccard between
    * every source PAIR: how much of source A's phrasing recurs in source
    * B (mirror-site detection, redundant-source pruning, crawl-overlap
    * budgeting). Reuses the dedup stack's shingle-hash derivation
    * verbatim ([[Dedup.shingleHashes]] / [[Dedup.duckHashedShingles]]) so
    * "shingle" means the same thing here as in d27/d28/t36.
    *
    * Shape: distinct (source, shingle) first — ONE partial-aggregated
    * dedup bounded by |sources| × |shingle domain| — then the
    * intersection counts come from a self-join on the shingle hash
    * (a < b): each hash matches ≤ S sources, so the join's output per
    * key is ≤ S²/2 rows with S = #sources (tiny) — a stop shingle is
    * one hot bigint key whose output is still S²/2, nothing like the
    * doc-pair blow-ups the d2x caps exist for. Union sizes come from
    * the S-row per-source totals via inclusion–exclusion; the Jaccard
    * is an exact integer ratio in ppm (the t26 rule). */
  val t39SourceOverlap = Q(
    "t39_source_overlap",
    s"""WITH ${Dedup.duckShingles},
        ${Dedup.duckHashedShingles},
        ds AS (SELECT d.source, uh.h
               FROM (SELECT doc_id, unnest(th) AS h FROM hs0) uh
               JOIN documents d ON uh.doc_id = d.doc_id
               GROUP BY 1, 2),
        tot AS (SELECT source, COUNT(*) AS n FROM ds GROUP BY 1),
        inter AS (SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_inter
                  FROM ds a JOIN ds b ON a.h = b.h AND a.source < b.source
                  GROUP BY 1, 2)
        SELECT src_a, src_b, CAST(n_inter AS BIGINT) AS n_inter,
               CAST(ta.n + tb.n - n_inter AS BIGINT) AS n_union,
               n_inter * 1000000 // (ta.n + tb.n - n_inter) AS jaccard_ppm
        FROM inter JOIN tot ta ON src_a = ta.source
                   JOIN tot tb ON src_b = tb.source
        ORDER BY src_a, src_b""") { (spark, dir) =>
    val src = T(spark, dir, "documents").select("doc_id", "source")
    // r12 optimization: ds feeds the totals AND both self-join sides —
    // without the checkpoint, the shingle kernel + explode + join +
    // distinct ran three times per query
    val ds = Dedup.shingleHashes(spark, dir)
      .select(col("doc_id"), explode(col("th")).as("h"))
      .join(src, "doc_id")
      .select("source", "h").distinct().ckpt
    val tot = ds.groupBy("source").agg(count(lit(1)).as("n"))
    val a = ds.select(col("source").as("src_a"), col("h"))
    val b = ds.select(col("source").as("src_b"), col("h"))
    a.join(b, Seq("h")).filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_inter"))
      .join(broadcast(tot.select(col("source").as("src_a"), col("n").as("na"))), "src_a")
      .join(broadcast(tot.select(col("source").as("src_b"), col("n").as("nb"))), "src_b")
      .select(col("src_a"), col("src_b"), col("n_inter"),
        (col("na") + col("nb") - col("n_inter")).as("n_union"),
        expr("n_inter * 1000000 div (na + nb - n_inter)").as("jaccard_ppm"))
      .orderBy("src_a", "src_b")
  }

  /** Count-min geometry for [[t41CmsSketch]]: 4 hash rows × 1024 buckets
    * (≤ 4096 cells — the sketch IS the shuffle state). */
  private val CmsD = 4
  private val CmsW = 1024
  /** Probe tokens whose estimates the query surfaces: mixed true
    * frequencies (a rare token, the BM25 terms, a stopword). */
  private val CmsProbes = Seq("dup", "vector", "spark", "the", "data")

  /** t41: count-min sketch — the mergeable frequency sketch behind
    * streaming heavy-hitter estimation, expressed RELATIONALLY: row d's
    * cells are `groupBy(d, h_d(token) % W) count`, so the sketch is a
    * ≤ 4096-row table built by one partial-aggregated pass (merging two
    * corpora's sketches = summing cells — the same mergeability contract
    * as x100's partials and q30's GK sketch). The estimate for a token
    * is MIN over rows of its cell — guaranteed ≥ the true count, and the
    * query VERIFIES that contract by surfacing exact counts beside the
    * estimates (overestimate ≥ 0 for every probe, by construction).
    * Hashes are the shared md5-derived [[H]], so both engines build
    * bit-identical sketches — no engine-specific hash anywhere.
    *
    * Scale: the token stream maps to (d, bucket) cells with map-side
    * partials absorbing the Zipf head (a hot token is ONE cell per
    * row); probes and the sketch both broadcast. */
  val t41CmsSketch = Q(
    "t41_cms_sketch",
    s"""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        cells AS (SELECT d, ${H.d("CAST(d AS VARCHAR) || ':' || w")} % $CmsW AS b,
                         COUNT(*) AS c
                  FROM tok, (SELECT unnest(range(0, $CmsD)) AS d)
                  GROUP BY 1, 2),
        probes AS (SELECT unnest([${CmsProbes.map(p => s"'$p'").mkString(", ")}]) AS w),
        pb AS (SELECT w, d, ${H.d("CAST(d AS VARCHAR) || ':' || w")} % $CmsW AS b
               FROM probes, (SELECT unnest(range(0, $CmsD)) AS d)),
        est AS (SELECT pb.w, MIN(COALESCE(cells.c, 0)) AS est
                FROM pb LEFT JOIN cells ON pb.d = cells.d AND pb.b = cells.b
                GROUP BY pb.w),
        ex AS (SELECT w, COUNT(*) AS exact FROM tok
               WHERE w IN (${CmsProbes.map(p => s"'$p'").mkString(", ")})
               GROUP BY w)
        SELECT est.w, CAST(COALESCE(exact, 0) AS BIGINT) AS exact,
               CAST(est AS BIGINT) AS est,
               CAST(est - COALESCE(exact, 0) AS BIGINT) AS overestimate
        FROM est LEFT JOIN ex ON est.w = ex.w ORDER BY est.w""") { (spark, dir) =>
    val tok = T(spark, dir, "documents")
      .select(explode(expr("split(text, ' ')")).as("w"))
    cmsEstimates(spark, tok, CmsProbes, CmsD, CmsW).orderBy("w")
  }

  /** The t41 kernel over an arbitrary token frame and geometry — shared
    * with the spec, which shrinks W to FORCE collisions and pins the
    * over-estimation contract non-vacuously (at the query's 4×1024 on
    * this vocab, every probe is collision-free and overestimate = 0). */
  /** The sketch table itself — (d, b, c) cells from a token frame (col
    * `w`). Mergeable by construction (union + sum of c), which is what
    * the streaming twin [[graft.streaming.StreamOps.CmsAccumulator]]
    * exercises per micro-batch. */
  private[graft] def cmsCells(tok: org.apache.spark.sql.DataFrame,
      d: Int, wBuckets: Int): org.apache.spark.sql.DataFrame =
    tok.withColumn("d", expr(s"explode(sequence(0, ${d - 1}))"))
      .withColumn("b",
        expr(s"${H.s("concat(cast(d as string), ':', w)")} % $wBuckets"))
      .groupBy("d", "b").agg(count(lit(1)).as("c"))

  private[graft] def cmsEstimates(spark: org.apache.spark.sql.SparkSession,
      tok: org.apache.spark.sql.DataFrame, probeList: Seq[String],
      d: Int, wBuckets: Int): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val ds = expr(s"explode(sequence(0, ${d - 1}))")
    val hb = s"${H.s("concat(cast(d as string), ':', w)")} % $wBuckets"
    val cells = cmsCells(tok, d, wBuckets)
    val probes = probeList.toDF("w")
      .withColumn("d", ds)
      .withColumn("b", expr(hb))
    val est = broadcast(probes).join(cells, Seq("d", "b"), "left")
      .groupBy("w").agg(min(coalesce(col("c"), lit(0L))).as("est"))
    val exact = tok.filter(col("w").isin(probeList: _*))
      .groupBy("w").agg(count(lit(1)).as("exact"))
    est.join(broadcast(exact), Seq("w"), "left")
      .select(col("w"), coalesce(col("exact"), lit(0L)).as("exact"),
        col("est"), (col("est") - coalesce(col("exact"), lit(0L)))
          .as("overestimate"))
  }

  /** t42: label-quality confusion matrix — declared `lang` vs [[t24LangId]]'s
    * detected language, as counts and row-share ppm per (declared,
    * predicted) cell. The label-noise audit every labeled corpus needs
    * before the labels drive filtering or mixing: off-diagonal mass IS
    * the mislabel estimate. One partial-aggregated pass; the per-row
    * share window runs over the ≤ |langs|² matrix, never the corpus. */
  val t42LangConfusion = Q(
    "t42_lang_confusion",
    s"""WITH p AS (SELECT lang, $predLang AS pred_lang FROM documents),
        m AS (SELECT lang, pred_lang, COUNT(*) AS n FROM p GROUP BY 1, 2)
        SELECT lang, pred_lang, CAST(n AS BIGINT) AS n,
               CAST(n * 1000000 // SUM(n) OVER (PARTITION BY lang)
                 AS BIGINT) AS row_share_ppm,
               CAST(lang = pred_lang AS BIGINT) AS is_diagonal
        FROM m ORDER BY lang, pred_lang""") { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val byLang = Window.partitionBy(col("lang"))
    T(spark, dir, "documents")
      .selectExpr("lang", s"$predLang AS pred_lang")
      .groupBy("lang", "pred_lang").agg(count(lit(1)).as("n"))
      .withColumn("row_total", sum(col("n")).over(byLang))
      .select(col("lang"), col("pred_lang"), col("n"),
        expr("n * 1000000 div row_total").as("row_share_ppm"),
        (col("lang") === col("pred_lang")).cast("long").as("is_diagonal"))
      .orderBy("lang", "pred_lang")
  }

  /** Merge rounds for [[t43BpeMerges]] (both engines unroll/loop the
    * same K). */
  private[graft] val BpeK = 8

  /** t43: BPE merge-pair TRAINING — learn the top-K byte-pair merges
    * from corpus pair frequencies, completing the tokenizer story t28
    * (regex token counting) and t38 (vocab/OOV) start. Classic
    * Sennrich-style BPE without an end-of-word marker: words are
    * whitespace tokens, initial symbols are characters, and each round
    * (1) counts ALL adjacent symbol pairs weighted by word frequency,
    * (2) picks the max-count pair with the deterministic tie-break
    * (count DESC, lhs, rhs), (3) rewrites every word by merging its
    * non-overlapping occurrences LEFT-TO-RIGHT. Output = the ordered
    * merge table (merge_rank, lhs, rhs, pair_count).
    *
    * Shape: x95-Lloyd's loop structure — the trainer iterates on the
    * WORD-FREQUENCY table (Zipf/vocab-bounded, ~1% of corpus rows; the
    * one corpus-scale scan is the initial groupBy), each round is one
    * map-side-partial pair count plus a map-only array fold, with
    * `localCheckpoint` truncating lineage per round (d34's rule) and
    * ONE (lhs, rhs) row collected to the driver per round — the same
    * K-row driver state the Lloyd loop holds. The merge application is
    * an `aggregate` fold over the symbol array: merge when the
    * accumulator's last element is lhs and the current is rhs; the
    * merged symbol lhs||rhs can never re-match lhs, so the fold is
    * exactly left-to-right non-overlapping (BpeSpec pins the run
    * parity cases against a plain-Scala reference).
    *
    * The oracle replays the SAME training in pure SQL with the K
    * rounds unrolled ([[bpeOracleSql]]): rows (word, pos, symbol),
    * pair counts via LEAD, and the non-overlap rule as gaps-and-
    * islands — merge starts are the odd ordinals of each island of
    * consecutive hits, a row is consumed iff its predecessor started a
    * merge. An independent formulation of the identical contract. */
  val t43BpeMerges = Q("t43_bpe_merges", bpeOracleSql(BpeK)) { (spark, dir) =>
    bpeTrain(T(spark, dir, "documents"), BpeK)
  }

  /** The K-round BPE trainer over any frame with a `text` column; see
    * [[t43BpeMerges]] for the contract and scale posture. */
  private[graft] def bpeTrain(docs: org.apache.spark.sql.DataFrame,
      k: Int): org.apache.spark.sql.DataFrame = bpeLoop(docs, k)._1

  /** The loop itself, returning (merge table, final vocab tokenization
    * state (w, cnt, syms)) — the state is what [[t44BpeEncode]] scores
    * documents against, so training and encoding cannot drift. */
  private[graft] def bpeLoop(docs: org.apache.spark.sql.DataFrame, k: Int)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val spark = docs.sparkSession
    import spark.implicits._
    val wf = docs.select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    var state = wf.select(col("w"), col("cnt"), split(col("w"), "").as("syms"))
      .ckpt
    val merges = scala.collection.mutable.Buffer[(Long, String, String, Long)]()
    var exhausted = false
    for (i <- 1 to k if !exhausted) {
      val best = state
        .filter(size(col("syms")) >= 2)
        .select(col("cnt"), explode(expr(
          "transform(sequence(0, size(syms) - 2), " +
            "j -> struct(syms[j] as x, syms[j + 1] as y))")).as("pr"))
        .groupBy(col("pr.x").as("x"), col("pr.y").as("y"))
        .agg(sum(col("cnt")).as("c"))
        .orderBy(col("c").desc, col("x"), col("y"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (x, y, c) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((i.toLong, x, y, c))
        state = bpeApplyMerge(state, x, y).ckpt
      }
    }
    (merges.toSeq.toDF("merge_rank", "lhs", "rhs", "pair_count"), state)
  }

  /** One merge application: rewrite `syms` merging adjacent (x, y)
    * left-to-right non-overlapping. The pair rides as a 1-row broadcast
    * (never string-spliced into the lambda — symbols may contain any
    * character); `get()` returns NULL off the empty accumulator, so the
    * first element always appends. */
  private[graft] def bpeApplyMerge(state: org.apache.spark.sql.DataFrame,
      x: String, y: String): org.apache.spark.sql.DataFrame = {
    val spark = state.sparkSession
    import spark.implicits._
    val pair = Seq((x, y)).toDF("bx", "by")
    state.crossJoin(broadcast(pair))
      .withColumn("syms", expr(
        "aggregate(syms, cast(array() as array<string>), (acc, s) -> " +
          "if(get(acc, size(acc) - 1) = bx and s = by, " +
          "concat(slice(acc, 1, size(acc) - 1), array(concat(bx, by))), " +
          "concat(acc, array(s))))"))
      .drop("bx", "by")
  }

  /** The t43 oracle: K unrolled BPE rounds in DuckDB SQL (contract at
    * [[t43BpeMerges]]). Program-generated — each round is the same CTE
    * block over the previous round's (word, pos, symbol) rows.
    * Merge exhaustion: bb$i re-aggregates the ≤1-row best-pair CTE
    * (MIN over zero rows = one NULL row), so when no pair remains the
    * round's cross join becomes a pass-through (hit is never 1 against
    * NULL) instead of emptying every later round — mirroring
    * [[bpeLoop]]'s `exhausted` semantics, which keeps the last
    * non-empty state. The aggregate form (not UNION + NOT EXISTS —
    * which DuckDB planned catastrophically, re-evaluating the probe per
    * row) keeps each round O(corpus). t43's merge-table finals still
    * read b$i, so exhausted rounds emit no merge row on either side. */
  private[graft] def bpeOracleSql(k: Int): String = {
    def round(i: Int): String = {
      val prev = s"r${i - 1}"
      s"""p$i AS (SELECT s AS x, ns AS y, SUM(cnt) AS c FROM
         (SELECT w, cnt, s, LEAD(s) OVER (PARTITION BY w ORDER BY p) AS ns FROM $prev)
         WHERE ns IS NOT NULL GROUP BY s, ns),
       b$i AS (SELECT x, y, c FROM p$i ORDER BY c DESC, x, y LIMIT 1),
       bb$i AS (SELECT MIN(x) AS x, MIN(y) AS y FROM b$i),
       m$i AS (SELECT r.w, r.cnt, r.p, r.s, b.x AS bx, b.y AS by,
                CASE WHEN r.s = b.x AND LEAD(r.s) OVER (PARTITION BY r.w ORDER BY r.p) = b.y
                     THEN 1 ELSE 0 END AS hit
         FROM $prev r, bb$i b),
       i$i AS (SELECT *, p - ROW_NUMBER() OVER (PARTITION BY w, hit ORDER BY p) AS isl FROM m$i),
       o$i AS (SELECT *, CASE WHEN hit = 1 THEN ROW_NUMBER() OVER (PARTITION BY w, hit, isl ORDER BY p) ELSE 0 END AS ord FROM i$i),
       g$i AS (SELECT *, CASE WHEN hit = 1 AND ord % 2 = 1 THEN 1 ELSE 0 END AS st FROM o$i),
       h$i AS (SELECT *, COALESCE(LAG(st) OVER (PARTITION BY w ORDER BY p), 0) AS consumed FROM g$i),
       r$i AS (SELECT w, cnt, ROW_NUMBER() OVER (PARTITION BY w ORDER BY p) AS p,
                CASE WHEN st = 1 THEN s || by ELSE s END AS s
         FROM h$i WHERE consumed = 0)"""
    }
    val header =
      """WITH wf AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt
              FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
              WHERE len(w) > 0 GROUP BY w),
       s0 AS (SELECT w, cnt, regexp_split_to_array(w, '') AS syms FROM wf),
       r0 AS (SELECT w, cnt, CAST(i AS BIGINT) AS p, syms[i] AS s
              FROM s0, unnest(generate_series(1, len(syms))) AS t(i)),"""
    val rounds = (1 to k).map(round).mkString(",\n       ")
    val finals = (1 to k).map(i =>
      s"SELECT CAST($i AS BIGINT) AS merge_rank, x AS lhs, y AS rhs, " +
        s"CAST(c AS BIGINT) AS pair_count FROM b$i").mkString("\n       UNION ALL ")
    s"$header\n       $rounds\n       $finals\n       ORDER BY merge_rank"
  }

  /** The t44 oracle: the SAME K unrolled rounds as [[bpeOracleSql]], but
    * the final select scores each document against round K's vocab
    * tokenization state instead of emitting the merge table. */
  /** The t43-trained encode state as oracle CTEs (train body + `enc` —
    * the (word, n_sub) table): ONE definition shared by t44's per-doc
    * scoring and t48's per-source fertility rollup, so the two oracles
    * cannot train divergent tokenizers. */
  private[graft] def bpeEncCtes(k: Int): String = {
    val train = bpeOracleSql(k)
    val body = train.substring(0, train.lastIndexOf(s"SELECT CAST(1 AS BIGINT)"))
    s"""${body.trim.stripSuffix(",")},
       enc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n_sub FROM r$k GROUP BY w)"""
  }

  private[graft] def bpeEncodeOracleSql(k: Int): String =
    s"""${bpeEncCtes(k)},
       tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
       j AS (SELECT tok.doc_id, enc.n_sub
             FROM tok JOIN enc ON tok.w = enc.w WHERE len(tok.w) > 0)
       SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
              CAST(SUM(n_sub) AS BIGINT) AS n_subwords,
              CAST(SUM(CASE WHEN n_sub = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_single,
              CAST(SUM(n_sub) * 1000000 // COUNT(*) AS BIGINT) AS subwords_per_token_ppm
       FROM j GROUP BY doc_id ORDER BY doc_id"""

  /** t44: BPE vocabulary ENCODING / coverage profiling — score every
    * document against the t43-learned merges: tokens per doc, total
    * subword symbols after the K merges, fully-merged token count
    * (n_sub = 1 — the token IS a learned vocab entry, the t38 OOV
    * signal re-pinned against the LEARNED vocab instead of the raw
    * frequency top-K), and subwords-per-token in integer ppm (the
    * compression/fertility metric tokenizer teams track). Oracle-typing
    * rule applied (CAST ... AS BIGINT on the SUM-derived ppm).
    *
    * Scale: the encode runs ONCE over the vocab-bounded word table
    * (shared with training via [[bpeLoop]] — the scored vocab IS the
    * trained state, no drift possible), then a (token → word) join
    * scores the corpus stream: vocab side broadcasts at any corpus
    * size (it is bounded by distinct words, Zipf-compact), the stream
    * side is map-only + one doc_id aggregate. */
  val t44BpeEncode = Q("t44_bpe_encode", bpeEncodeOracleSql(BpeK)) { (spark, dir) =>
    val docs = T(spark, dir, "documents")
    val enc = bpeLoop(docs, BpeK)._2
      .select(col("w"), size(col("syms")).cast("long").as("n_sub"))
    bpeScore(docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w")),
      enc).orderBy("doc_id")
  }

  /** The t44 scoring transform against a FROZEN encode state (w, n_sub)
    * — shared by the batch query and the streaming twin (BpeStreamSpec
    * pins stream == batch): the model side is static/broadcast, the
    * token stream is the only moving part — t34's model-application-
    * streams contract applied to the tokenizer. */
  private[graft] def bpeScore(tok: org.apache.spark.sql.DataFrame,
      enc: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    tok.filter(length(col("w")) > 0)
      .join(broadcast(enc), "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("n_sub")).as("n_subwords"),
        sum(when(col("n_sub") === 1L, 1L).otherwise(0L)).as("n_single"),
        expr("sum(n_sub) * 1000000 div count(1)").as("subwords_per_token_ppm"))

  /** t48: TOKENIZER FERTILITY by source — the per-source efficiency
    * table a tokenizer team reads before fixing a training mix: tokens,
    * subwords after the t43-learned merges, fertility (subwords per
    * whitespace token, ppm) and compression (chars per subword, ppm).
    * A source whose fertility is far above the corpus norm is being
    * tokenized badly (its bytes buy fewer effective tokens), which
    * silently distorts any token-budgeted mix (x94/x109) — this is the
    * audit that catches it. Encode state is [[bpeEncCtes]]/[[bpeLoop]]
    * VERBATIM (one trained tokenizer for t43/t44/t48).
    *
    * Scale: t44's posture — the vocab-bounded encode table broadcasts,
    * the token stream is map-only, and the rollup is |sources| groups
    * whose partials absorb everything map-side. The ppm multiply bounds
    * a source at ~9·10¹² subwords (the t34/x110 documented domain
    * bound). */
  val t48TokenizerFertility = Q(
    "t48_tokenizer_fertility",
    s"""${bpeEncCtes(BpeK)},
       tok AS (SELECT d.source, unnest(string_split(d.text, ' ')) AS w
               FROM documents d),
       j AS (SELECT tok.source, enc.n_sub
             FROM tok JOIN enc ON tok.w = enc.w WHERE len(tok.w) > 0),
       a AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tokens,
                    CAST(SUM(n_sub) AS BIGINT) AS n_subwords
             FROM j GROUP BY source),
       c AS (SELECT source, CAST(SUM(n_chars) AS BIGINT) AS src_chars
             FROM documents GROUP BY source)
       SELECT a.source, a.n_tokens, a.n_subwords,
              CAST(a.n_subwords * 1000000 // a.n_tokens AS BIGINT)
                AS fertility_ppm,
              CAST(c.src_chars * 1000000 // a.n_subwords AS BIGINT)
                AS chars_per_subword_ppm
       FROM a JOIN c ON a.source = c.source ORDER BY a.source""") { (spark, dir) =>
    val docs = T(spark, dir, "documents")
    val enc = bpeLoop(docs, BpeK)._2
      .select(col("w"), size(col("syms")).cast("long").as("n_sub"))
    val a = docs.select(col("source"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .join(broadcast(enc), "w")
      .groupBy("source")
      .agg(count(lit(1)).as("n_tokens"), sum(col("n_sub")).as("n_subwords"))
    val c = docs.groupBy("source").agg(sum(col("n_chars")).as("src_chars"))
    a.join(c, "source")
      .select(col("source"), col("n_tokens"), col("n_subwords"),
        expr("n_subwords * 1000000 div n_tokens").as("fertility_ppm"),
        expr("src_chars * 1000000 div n_subwords").as("chars_per_subword_ppm"))
      .orderBy("source")
  }

  /** t45: canonical text NORMALIZATION — the cleaning map every corpus
    * goes through before hashing/dedup (lowercase, collapse whitespace
    * runs, trim), emitted with before/after lengths, a changed flag and
    * the md5 of the canonical form (the content key exact dedup would
    * run on post-cleaning — d26 on raw text and d26-on-t45 differ
    * exactly where normalization collapses variants, which is the
    * point). Map-only, codegen'd built-ins, no shuffle; the oracle runs
    * the same three functions in DuckDB (regexp_replace needs the 'g'
    * flag there — Spark's is global by default, a classic silent
    * cross-dialect divergence this oracle row pins). */
  val t45Normalize = Q(
    "t45_normalize",
    """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_raw,
       CAST(length(lower(trim(regexp_replace(text, ' +', ' ', 'g')))) AS BIGINT) AS n_norm,
       CAST(CASE WHEN lower(trim(regexp_replace(text, ' +', ' ', 'g'))) = text
                 THEN 0 ELSE 1 END AS BIGINT) AS changed,
       md5(lower(trim(regexp_replace(text, ' +', ' ', 'g')))) AS norm_md5
       FROM documents ORDER BY doc_id""") { (spark, dir) =>
    T(spark, dir, "documents")
      .withColumn("norm", lower(trim(regexp_replace(col("text"), " +", " "))))
      .select(col("doc_id"),
        length(col("text")).cast("long").as("n_raw"),
        length(col("norm")).cast("long").as("n_norm"),
        when(col("norm") === col("text"), 0L).otherwise(1L).as("changed"),
        md5(col("norm").cast("binary")).as("norm_md5"))
      .orderBy("doc_id")
  }

  /** t46: the Gopher-style RULE SUITE — the published multi-rule
    * document filter (Rae et al.'s quality heuristics re-expressed on
    * this corpus' scale): word-count band, mean-word-length band,
    * minimum stop-word evidence (>= 2 occurrences of a fixed 5-word
    * stop list — the "is this prose at all" test), and a distinct-token
    * floor (exact integer form n_distinct·2 >= n — no ratio doubles
    * needed). Each rule emits its own flag so a data team can see WHICH
    * rule kills a document, plus the conjunctive keep — t23 is the
    * compact 2-rule gate x90 pipelines; t46 is the full audit table.
    * Map-only, one tokenization pass per dialect, no shuffle. */
  /** t46's rule CTE chain (ends in `f` with the per-rule flags) —
    * shared with x113's kill-rate matrix so the audit aggregates the
    * IDENTICAL rule definitions. */
  private[graft] val gopherDuckCtes =
    """d AS (SELECT doc_id, string_split(text, ' ') AS t, length(text) AS nc
                  FROM documents),
       f AS (SELECT doc_id,
                    CAST(len(t) AS BIGINT) AS n_tokens,
                    CAST(CASE WHEN len(t) BETWEEN 20 AND 90 THEN 1 ELSE 0 END AS BIGINT) AS r_wordcount,
                    CAST(CASE WHEN CAST(nc - len(t) + 1 AS DOUBLE) / len(t) BETWEEN 3.0 AND 10.0
                              THEN 1 ELSE 0 END AS BIGINT) AS r_meanwordlen,
                    CAST(CASE WHEN len(list_filter(t, x -> x IN ('the', 'a', 'of', 'to', 'in'))) >= 2
                              THEN 1 ELSE 0 END AS BIGINT) AS r_stopwords,
                    CAST(CASE WHEN len(list_distinct(t)) * 2 >= len(t)
                              THEN 1 ELSE 0 END AS BIGINT) AS r_distinct
             FROM d)"""

  val t46GopherRules = Q(
    "t46_gopher_rules",
    s"""WITH $gopherDuckCtes
       SELECT doc_id, n_tokens, r_wordcount, r_meanwordlen, r_stopwords, r_distinct,
              CAST(r_wordcount * r_meanwordlen * r_stopwords * r_distinct AS BIGINT) AS keep
       FROM f ORDER BY doc_id""") { (spark, dir) =>
    T(spark, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("t"),
        length(col("text")).as("nc"))
      .select(col("doc_id"),
        size(col("t")).cast("long").as("n_tokens"),
        when(size(col("t")).between(20, 90), 1L).otherwise(0L).as("r_wordcount"),
        when(((col("nc") - size(col("t")) + 1).cast("double") / size(col("t")))
          .between(3.0, 10.0), 1L).otherwise(0L).as("r_meanwordlen"),
        when(expr("size(filter(t, x -> x IN ('the', 'a', 'of', 'to', 'in'))) >= 2"),
          1L).otherwise(0L).as("r_stopwords"),
        when(expr("size(array_distinct(t)) * 2 >= size(t)"), 1L)
          .otherwise(0L).as("r_distinct"))
      .withColumn("keep",
        (col("r_wordcount") * col("r_meanwordlen") *
          col("r_stopwords") * col("r_distinct")).cast("long"))
      .orderBy("doc_id")
  }

  /** x113: per-source RULE KILL-RATE matrix — the question a data team
    * asks right after t46 ("which sources die to which rule"): per
    * source, the doc count, each rule's kill count, the surviving
    * count and keep rate in ppm. Composes the REGISTERED t46 operator
    * wholesale (x112's pattern — the audit can never describe rules
    * the filter doesn't ship) joined to the source column; one
    * partial-aggregated pass over the flag frame. A rule that
    * disproportionately kills one source is either a bad rule or a bad
    * source — this table is where that argument starts. */
  val x113KillMatrix = Q(
    "x113_kill_matrix",
    s"""WITH $gopherDuckCtes,
        j AS (SELECT f.*, d2.source FROM f JOIN documents d2 ON f.doc_id = d2.doc_id)
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(1 - r_wordcount) AS BIGINT) AS kill_wordcount,
               CAST(SUM(1 - r_meanwordlen) AS BIGINT) AS kill_meanwordlen,
               CAST(SUM(1 - r_stopwords) AS BIGINT) AS kill_stopwords,
               CAST(SUM(1 - r_distinct) AS BIGINT) AS kill_distinct,
               CAST(SUM(r_wordcount * r_meanwordlen * r_stopwords * r_distinct) AS BIGINT) AS n_keep,
               CAST(SUM(r_wordcount * r_meanwordlen * r_stopwords * r_distinct)
                      * 1000000 // COUNT(*) AS BIGINT) AS keep_ppm
        FROM j GROUP BY source ORDER BY source""") { (spark, dir) =>
    t46GopherRules.fn(spark, dir)
      .join(T(spark, dir, "documents").select("doc_id", "source"), "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(lit(1L) - col("r_wordcount")).as("kill_wordcount"),
        sum(lit(1L) - col("r_meanwordlen")).as("kill_meanwordlen"),
        sum(lit(1L) - col("r_stopwords")).as("kill_stopwords"),
        sum(lit(1L) - col("r_distinct")).as("kill_distinct"),
        sum(col("keep")).as("n_keep"))
      .withColumn("keep_ppm", expr("n_keep * 1000000 div n_docs"))
      .orderBy("source")
  }

  /** t47: duplicate/top n-gram CHARACTER fractions — the repetition half
    * of the Gopher rule set (Rae et al. 2021 §A1.1) that t29's count
    * ratios and t46's lexical rules do not cover. Per document:
    *  - top{2,3,4}_frac: characters claimed by the most frequent n-gram
    *    (count × its char length, spaces between tokens excluded), over
    *    n_chars. Argmax is pinned deterministic: (count DESC, char
    *    length DESC, gram ASC).
    *  - dup{5,10}_frac: characters of tokens covered by ANY n-gram
    *    occurring ≥ 2 times — positional interval UNION via DISTINCT
    *    (doc, pos), so overlapping duplicate grams never double-count
    *    (the naive sum-over-grams form overshoots past 1.0 on exactly
    *    the repetitive documents this metric exists to kill).
    *
    * Scale: one tokenization pass generates all five gram sizes in a
    * single flatten-transform explode (~5 × n_tokens rows, map-side),
    * one window count per (doc, n, gram) — partition-bounded by the
    * document — and the coverage join is (doc, pos)-keyed, ≤ n_tokens
    * rows per doc. No corpus-wide state; every stage partitions by
    * doc_id. Guard order matters: Spark's sequence(1, n) with n < 1
    * counts DOWN (d36's pinned footgun), so short docs take the
    * if-empty branch before sequence() is evaluated. */
  val t47DupNgramChars = Q(
    "t47_dup_ngram_chars",
    s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t,
                            length(text) AS nc FROM documents),
        gs AS (SELECT doc_id, nc, 2 AS n, i AS pos,
                      array_to_string(t[i:i+1], ' ') AS g
               FROM tok, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
               UNION ALL
               SELECT doc_id, nc, 3 AS n, i AS pos,
                      array_to_string(t[i:i+2], ' ') AS g
               FROM tok, UNNEST(generate_series(1, len(t) - 2)) AS u(i)
               UNION ALL
               SELECT doc_id, nc, 4 AS n, i AS pos,
                      array_to_string(t[i:i+3], ' ') AS g
               FROM tok, UNNEST(generate_series(1, len(t) - 3)) AS u(i)
               UNION ALL
               SELECT doc_id, nc, 5 AS n, i AS pos,
                      array_to_string(t[i:i+4], ' ') AS g
               FROM tok, UNNEST(generate_series(1, len(t) - 4)) AS u(i)
               UNION ALL
               SELECT doc_id, nc, 10 AS n, i AS pos,
                      array_to_string(t[i:i+9], ' ') AS g
               FROM tok, UNNEST(generate_series(1, len(t) - 9)) AS u(i)),
        c AS (SELECT doc_id, nc, n, pos, g,
                     COUNT(*) OVER (PARTITION BY doc_id, n, g) AS c
              FROM gs),
        top AS (SELECT doc_id, n,
                       CAST(c * (length(g) - (n - 1)) AS DOUBLE) / nc AS frac,
                       ROW_NUMBER() OVER (PARTITION BY doc_id, n
                         ORDER BY c DESC, length(g) DESC, g) AS rk
                FROM (SELECT DISTINCT doc_id, nc, n, g, c FROM c)
                WHERE n IN (2, 3, 4)),
        topp AS (SELECT doc_id,
                        MAX(CASE WHEN n = 2 THEN frac END) AS top2,
                        MAX(CASE WHEN n = 3 THEN frac END) AS top3,
                        MAX(CASE WHEN n = 4 THEN frac END) AS top4
                 FROM top WHERE rk = 1 GROUP BY doc_id),
        cov AS (SELECT DISTINCT doc_id, n, pos + j AS p
                FROM c, UNNEST(generate_series(0, n - 1)) AS v(j)
                WHERE c >= 2 AND n IN (5, 10)),
        tokpos AS (SELECT doc_id, i AS p, length(t[i]) AS wl
                   FROM tok, UNNEST(generate_series(1, len(t))) AS u(i)),
        covp AS (SELECT doc_id,
                        MAX(CASE WHEN n = 5 THEN cc END) AS c5,
                        MAX(CASE WHEN n = 10 THEN cc END) AS c10
                 FROM (SELECT cov.doc_id, cov.n, SUM(wl) AS cc
                       FROM cov JOIN tokpos
                         ON cov.doc_id = tokpos.doc_id AND cov.p = tokpos.p
                       GROUP BY 1, 2) GROUP BY doc_id)
        SELECT tok.doc_id, CAST(nc AS BIGINT) AS n_chars,
               COALESCE(top2, CAST(0 AS DOUBLE)) AS top2_frac,
               COALESCE(top3, CAST(0 AS DOUBLE)) AS top3_frac,
               COALESCE(top4, CAST(0 AS DOUBLE)) AS top4_frac,
               CAST(COALESCE(c5, 0) AS DOUBLE) / nc AS dup5_frac,
               CAST(COALESCE(c10, 0) AS DOUBLE) / nc AS dup10_frac
        FROM tok LEFT JOIN topp ON tok.doc_id = topp.doc_id
                 LEFT JOIN covp ON tok.doc_id = covp.doc_id
        ORDER BY tok.doc_id""") { (spark, dir) =>
    val tok = T(spark, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("t"),
        length(col("text")).as("nc"))
    // single pass: all five gram sizes from one explode (oracle uses the
    // readable 5-branch UNION — same rows, clarity over one-pass there)
    val grams = tok.select(col("doc_id"), col("nc"), explode(expr(
      "flatten(transform(array(2, 3, 4, 5, 10), n -> " +
        "transform(if(size(t) >= n, sequence(1, size(t) - n + 1), " +
        "array()), p -> named_struct(" +
        "'n', n, 'pos', p, 'g', array_join(slice(t, p, n), ' ')))))")).as("e"))
      .select(col("doc_id"), col("nc"), col("e.n").as("n"),
        col("e.pos").as("pos"), col("e.g").as("g"))
    import org.apache.spark.sql.expressions.Window
    val c = grams.withColumn("c",
      count(lit(1)).over(Window.partitionBy("doc_id", "n", "g")))
    val wTop = Window.partitionBy("doc_id", "n")
      .orderBy(col("c").desc, length(col("g")).desc, col("g"))
    val top = c.select("doc_id", "nc", "n", "g", "c").distinct()
      .filter(col("n").isin(2, 3, 4))
      .withColumn("rk", row_number().over(wTop)).filter(col("rk") === 1)
      .withColumn("frac", (col("c") * (length(col("g")) - (col("n") - 1)))
        .cast("double") / col("nc"))
      .groupBy("doc_id").agg(
        max(when(col("n") === 2, col("frac"))).as("top2"),
        max(when(col("n") === 3, col("frac"))).as("top3"),
        max(when(col("n") === 4, col("frac"))).as("top4"))
    val cov = c.filter(col("c") >= 2 && col("n").isin(5, 10))
      .select(col("doc_id"), col("n"),
        explode(expr("sequence(pos, pos + n - 1)")).as("p")).distinct()
    val tokpos = tok.select(col("doc_id"), posexplode(col("t")))
      .select(col("doc_id"), (col("pos") + 1).as("p"), length(col("col")).as("wl"))
    val covp = cov.join(tokpos, Seq("doc_id", "p"))
      .groupBy("doc_id", "n").agg(sum("wl").as("cc"))
      .groupBy("doc_id").agg(
        max(when(col("n") === 5, col("cc"))).as("c5"),
        max(when(col("n") === 10, col("cc"))).as("c10"))
    tok.select("doc_id", "nc")
      .join(top, Seq("doc_id"), "left")
      .join(covp, Seq("doc_id"), "left")
      .select(col("doc_id"), col("nc").cast("long").as("n_chars"),
        coalesce(col("top2"), lit(0.0)).as("top2_frac"),
        coalesce(col("top3"), lit(0.0)).as("top3_frac"),
        coalesce(col("top4"), lit(0.0)).as("top4_frac"),
        (coalesce(col("c5"), lit(0L)).cast("double") / col("nc")).as("dup5_frac"),
        (coalesce(col("c10"), lit(0L)).cast("double") / col("nc")).as("dup10_frac"))
      .orderBy("doc_id")
  }

  val all: Seq[Q] = Seq(t21TokenStats, t22LangProfile, t23QualityScore,
    t24LangId, t25Fingerprint, t26Keywords, t28TokenBpe, t29Repetition,
    t31PiiRedact, t32ChunkOverlap, t34Surprisal, t35BigramSurprisal,
    t36NgramNovelty, t37Bm25, t38VocabOov, t39SourceOverlap, t41CmsSketch,
    t42LangConfusion, t43BpeMerges, t44BpeEncode, t45Normalize, t46GopherRules,
    t47DupNgramChars, t48TokenizerFertility, x113KillMatrix)
}
