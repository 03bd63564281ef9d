package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Ckpt.Reuse

/** Deduplication operators over `documents` / `embeddings` (SURVEY.md §2
  * Part B, LLM-pipeline extensions): exact, n-gram Jaccard, MinHash+LSH,
  * SimHash, and embedding-cosine near-dup.
  *
  * Scale posture (100 TB):
  *  - exact dedup is one hash-partitioned groupBy on a 128-bit content hash;
  *  - n-gram Jaccard joins on *shingle* (the inverted-index join) — never a
  *    doc×doc cross join; hot shingles are capped by document frequency
  *    ([[MaxShingleDf]]) before the self-join, so no single stop-shingle
  *    bucket can go quadratic;
  *  - MinHash-LSH reduces the candidate space to band-bucket collisions
  *    (b=4 bands × r=3 rows here), then verifies exact Jaccard only on
  *    candidates — the classic sub-quadratic near-dup pipeline;
  *  - SimHash pairs join on 8-bit chunk equality (pigeonhole: hamming ≤ 3
  *    over 4 chunks guarantees ≥ 1 equal chunk), again sub-quadratic;
  *  - embedding near-dup at this SF is the exact quadratic baseline; the
  *    sub-quadratic path is the hyperplane-LSH variant in [[Similarity]].
  */
object Dedup {

  /** Exact dedup: group by content md5, keep the smallest doc_id. */
  val d26ExactDedup = Q(
    "d26_exact_dedup",
    """SELECT md5(text) AS content_md5, MIN(doc_id) AS keep_id,
       COUNT(*) AS n_copies
       FROM documents GROUP BY md5(text) ORDER BY keep_id""") { (spark, dir) =>
    T(spark, dir, "documents")
      .groupBy(md5(col("text").cast("binary")).as("content_md5"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy("keep_id")
  }

  /** doc_id + distinct word-3-gram shingle set. Tokenization runs in its
    * own projection: with `split` inlined inside the transform lambda it
    * would re-tokenize the whole string for every shingle element (3 splits
    * x ~300 shingles per doc — 11s at sf0.1 for what is a 1s job). */
  def shingles(spark: SparkSession, dir: String): DataFrame =
    T(spark, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .selectExpr(
        "doc_id",
        "case when size(t) >= 3 then " +
          "array_distinct(transform(sequence(0, size(t) - 3), " +
          "i -> concat(t[i], ' ', t[i+1], ' ', t[i+2]))) " +
          "else array() end as s")

  /** JVM kernel computing each document's distinct word-3-gram shingle
    * *hashes* directly (split → concat → md5 → first-8-hex as unsigned
    * 32-bit, exactly [[H.s]]/[[H.d]] — the same derivation the DuckDB
    * oracles apply). The expression form ([[shingles]] + a transform) is
    * interpreted per element and costs ~4 s at sf0.1; this is the SURVEY §2
    * custom-operator tier (d) numeric-kernel escape, ~5x faster, and every
    * consumer (min per permutation, intersect sizes, counts) is
    * order-insensitive so the set order is free.
    *
    * Defined as a stable function value, so every MapPartitions plan over
    * it canonicalizes equal and Spark can reuse an exchange over two such
    * plans within one query. */
  /** Per-string form of the kernel (shared with the streaming near-dup
    * tier): distinct word-3-gram shingle hashes of one text, insertion
    * order. `md5` is caller-provided so partition-level loops reuse one
    * instance. */
  private[graft] def shingleHashesOf(text: String,
      md5: java.security.MessageDigest): Array[Long] = {
    val t = text.split(" ", -1) // matches Spark/DuckDB split semantics
    if (t.length < 3) Array.empty[Long]
    else {
      val seen = new java.util.LinkedHashSet[java.lang.Long]
      var i = 0
      while (i <= t.length - 3) {
        val sh = t(i) + " " + t(i + 1) + " " + t(i + 2)
        seen.add(H.jvm(sh, md5))
        i += 1
      }
      val out = new Array[Long](seen.size)
      val itr = seen.iterator(); var j = 0
      while (itr.hasNext) { out(j) = itr.next(); j += 1 }
      out
    }
  }

  private val shingleHashKernel: Iterator[(Long, String)] => Iterator[(Long, Array[Long])] =
    it => {
      val md5 = java.security.MessageDigest.getInstance("MD5")
      it.map { case (id, text) => (id, shingleHashesOf(text, md5)) }
    }

  private val minhash12 = new graft.functions.MinHashAgg(12)

  /** 12-permutation minhash signature of a shingle-hash set — the exact
    * JVM twin of [[sigSpark]]/[[sigDuck]]: a fold of
    * [[graft.functions.MinHashAgg]]'s buffer, so the streaming tier and the
    * aggregator share the one permutation loop. Empty set → all-p sentinel
    * signature (never collides with a real minimum, since h_k < p). */
  private[graft] def minhashSig(th: Array[Long]): Array[Long] =
    th.foldLeft(minhash12.zero)(minhash12.reduce)

  /** (doc_id, th = distinct shingle hashes) of any (doc_id, text) frame via
    * [[shingleHashKernel]]. */
  private[operators] def shingleHashesFrom(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions(shingleHashKernel)
      .toDF("doc_id", "th")
  }

  /** (doc_id, th = distinct shingle hashes) of the documents table. */
  private[operators] def shingleHashes(spark: SparkSession, dir: String): DataFrame =
    shingleHashesFrom(T(spark, dir, "documents"))

  private[operators] val duckShingles =
    """tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       sh AS (SELECT doc_id,
              CASE WHEN len(t) >= 3 THEN list_distinct(list_transform(
                     range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
                   ELSE []::VARCHAR[] END AS s FROM tok)"""

  /** Document-frequency cap for the inverted-index self-joins: a shingle
    * appearing in more than this many documents ("the cat sat"-style stop
    * shingles) is dropped from the index before any self-join. Without it
    * one hot shingle's bucket is quadratic in its document frequency — the
    * last quadratic cliff in the dedup stack at 100 TB. The cap is applied
    * identically in both dialects, so capped Jaccard stays oracle-exact;
    * the hot set itself is tiny by construction (≤ |shingles| / cap) and is
    * broadcast for the anti-join. */
  private[operators] val MaxShingleDf = 64

  /** The hot-shingle frame (single `h` column, df > [[MaxShingleDf]]) of a
    * (doc_id, th) frame — THE definition of "hot"; both the batch cap and
    * the streaming guard derive from this one plan so they can never
    * disagree. */
  private def hotShingleFrame(hs: DataFrame): DataFrame =
    hs.select(col("doc_id"), explode(col("th")).as("h"))
      .groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") > MaxShingleDf).select("h")

  /** Capped shingle index of a (doc_id, th) frame: explode, then drop every
    * shingle whose document frequency exceeds [[MaxShingleDf]] via a
    * broadcast anti-join against the (tiny by construction) hot set.
    * Returns the exploded (doc_id, h) inverted index. */
  private[operators] def cappedShingleIndex(hs: DataFrame): DataFrame = {
    val ex = hs.select(col("doc_id"), explode(col("th")).as("h"))
    ex.join(broadcast(hotShingleFrame(hs)), Seq("h"), "left_anti")
  }

  /** Capped per-doc shingle sets (doc_id, th): [[cappedShingleIndex]]
    * regrouped per document (bounded group count — one group per doc, not
    * per shingle). Docs whose shingles are empty or all hot drop out, same
    * as the oracle dialect (unnest drops empties, GROUP BY re-forms the
    * rest); downstream consumers (permuted mins, intersect sizes) are
    * order-insensitive, so collect_list order is free. */
  private[operators] def cappedShingleSets(hs: DataFrame): DataFrame =
    cappedShingleIndex(hs).groupBy("doc_id").agg(collect_list(col("h")).as("th"))

  /** The corpus's hot-shingle set (df > [[MaxShingleDf]]) as a driver-side
    * set — tiny by construction (≤ |distinct shingles| / cap). This is the
    * batch profile the STREAMING tier's `hotShingles` guard consumes
    * ([[graft.streaming.StreamOps.nearDupPairs]]): document frequency is
    * unknowable mid-stream, so the offline profile is the skew guard. */
  private[graft] def hotShingleSet(hs: DataFrame): Set[Long] =
    hotShingleFrame(hs).collect().map(_.getLong(0)).toSet

  /** DuckDB dialect of [[cappedShingleSets]]: CTEs from a word-shingle CTE
    * named `sh` (doc_id, s) to capped sets `sh2` (doc_id, th), with the
    * exploded capped index available as `ex2`. Shared verbatim by the d27 /
    * d28 / x90 oracles so all three cap identically. */
  /** DuckDB dialect of [[shingleHashesFrom]]'s output: hashed distinct
    * shingle sets `hs0` (doc_id, th) from a word-shingle CTE named `sh`.
    * THE single statement of the shingle→hash derivation in SQL — shared
    * by [[duckCappedSets]] and the x92 oracle so the overlap operators
    * cannot disagree on what a shingle is. */
  private[operators] val duckHashedShingles =
    s"""hs0 AS (SELECT doc_id, list_distinct(list_transform(s, x -> ${H.d("x")})) AS th FROM sh)"""

  private[operators] val duckCappedSets =
    s"""$duckHashedShingles,
        ex AS (SELECT doc_id, unnest(th) AS h FROM hs0),
        dfreq AS (SELECT h, COUNT(*) AS df FROM ex GROUP BY h),
        ex2 AS (SELECT ex.doc_id, ex.h FROM ex JOIN dfreq ON ex.h = dfreq.h
                WHERE dfreq.df <= $MaxShingleDf),
        sh2 AS (SELECT doc_id, list(h) AS th FROM ex2 GROUP BY doc_id)"""

  /** N-gram Jaccard near-dup: inverted-index self-join over *hashed*
    * shingles (bigint join keys, not 30-char strings) with the
    * [[MaxShingleDf]] hot-shingle cap, exact Jaccard ≥ 0.5 over the capped
    * sets. Both engines hash and cap with the same formula, so the counts
    * are identical value-for-value. */
  /** Shared capped-pair scaffold for [[d27NgramJaccard]] and
    * [[d40Containment]]: the (a_id, b_id, n_common, n_a, n_b) frame from
    * the df-capped shingle index — pair generation is ONE shuffle on h +
    * a sorted-run JVM pass (per-run emission ≤ K²/2 by the cap, the
    * property that makes this linear-ish at 100 TB); the two queries
    * differ only in the score they derive from it. */
  private def pairCounts(spark: SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    // checkpoint: hs fans out into the df count and the index (plan-level
    // fan-out would re-run the kernel per consumer). The cap itself is a
    // broadcast anti-join against the (tiny by construction) hot set —
    // cheaper than regrouping the index into posting lists, which pays a
    // 1M+-group collect_list. The self-join stays a bigint sort-merge join.
    import spark.implicits._
    val hs = shingleHashes(spark, dir).ckpt
    val ex2 = cappedShingleIndex(hs).ckpt
    // pair generation: ONE shuffle on h + a sorted-run JVM pass, instead of
    // a sort-merge self-join (which sorts the 1.5M-row index twice). Every
    // run is ≤ MaxShingleDf docs by the cap, so per-run pair emission is
    // bounded (≤ K²/2) — the property that makes this linear-ish at 100 TB.
    val pairs = ex2.repartition(col("h")).sortWithinPartitions("h")
      .select(col("h"), col("doc_id")).as[(Long, Long)]
      .mapPartitions { it =>
        // single pass over runs of equal h; per-run emission is ≤ K²/2 by
        // the cap, and the buffered pairs are exactly the rows the old
        // self-join shuffled — per-partition memory is the same order as
        // the shuffle write buffer it replaces
        val pairs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        val run = scala.collection.mutable.ArrayBuffer.empty[Long]
        var curH = 0L
        var first = true
        def flush(): Unit = {
          var i = 0
          while (i < run.length) {
            var j = i + 1
            while (j < run.length) {
              val a = run(i); val b = run(j)
              pairs += (if (a < b) (a, b) else (b, a))
              j += 1
            }
            i += 1
          }
          run.clear()
        }
        it.foreach { case (h, d) =>
          if (first || h != curH) { flush(); curH = h; first = false }
          run += d
        }
        flush()
        pairs.iterator
      }
      .toDF("a_id", "b_id")
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("n_common"))
    val sz = ex2.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    pairs
      .join(sz.select(col("doc_id").as("a_id"), col("n_sh").as("n_a")), "a_id")
      .join(sz.select(col("doc_id").as("b_id"), col("n_sh").as("n_b")), "b_id")
  }

  /** DuckDB dialect of [[pairCounts]]: every co-occurring pair's
    * `pairs` (a_id, b_id, n_common) over the capped index, and the
    * per-doc set sizes `sz` (doc_id, n_sh). */
  private val duckPairCounts =
    s"""$duckShingles,
        $duckCappedSets,
        pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_common
                  FROM ex2 a JOIN ex2 b ON a.h = b.h AND a.doc_id < b.doc_id
                  GROUP BY 1, 2),
        sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM ex2 GROUP BY doc_id)"""

  /** The exact-Jaccard output of a `pairs` (a_id, b_id, n_common) and
    * `sz` (doc_id, n_sh) CTE pair: the verified rows at ≥ 0.5 in (a_id,
    * b_id) order — d27's and d46's answer, one text. */
  private val duckJaccardRows =
    s"""SELECT a_id, b_id, n_common, sa.n_sh AS n_a, sb.n_sh AS n_b,
               CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) AS jaccard
        FROM pairs JOIN sz sa ON a_id = sa.doc_id JOIN sz sb ON b_id = sb.doc_id
        WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.5
        ORDER BY a_id, b_id"""

  val d27NgramJaccard = Q(
    "d27_ngram_jaccard",
    s"""WITH $duckPairCounts
        $duckJaccardRows""") { (spark, dir) =>
    pairCounts(spark, dir)
      .withColumn("jaccard",
        col("n_common").cast("double") / (col("n_a") + col("n_b") - col("n_common")))
      .filter(col("jaccard") >= 0.5)
      .select("a_id", "b_id", "n_common", "n_a", "n_b", "jaccard")
      .orderBy("a_id", "b_id")
  }

  /** d40: asymmetric CONTAINMENT dedup — pairs where the smaller
    * document's shingle set is ≥ 90% contained in the other's:
    * containment = n_common / min(n_a, n_b). Catches quote-expansion and
    * superset pages (a doc plus boilerplate around it) that symmetric
    * Jaccard MISSES — a 100-shingle doc fully quoted inside a
    * 1000-shingle page has Jaccard ≈ 0.1 but containment 1.0. Same
    * capped-pair scaffold as d27 (one h shuffle, bounded runs); only the
    * derived score differs, so the scale posture is d27's verbatim.
    * Quadratic-output contract on mass duplicates also inherited
    * (d26 owns those; SkewBench covers this via d27's line). */
  val d40Containment = Q(
    "d40_containment",
    s"""WITH $duckPairCounts
        SELECT a_id, b_id, n_common, sa.n_sh AS n_a, sb.n_sh AS n_b,
               CAST(n_common AS DOUBLE) / LEAST(sa.n_sh, sb.n_sh) AS containment
        FROM pairs JOIN sz sa ON a_id = sa.doc_id JOIN sz sb ON b_id = sb.doc_id
        WHERE CAST(n_common AS DOUBLE) / LEAST(sa.n_sh, sb.n_sh) >= 0.9
        ORDER BY a_id, b_id""") { (spark, dir) =>
    pairCounts(spark, dir)
      .withColumn("containment",
        col("n_common").cast("double") / least(col("n_a"), col("n_b")))
      .filter(col("containment") >= 0.9)
      .select("a_id", "b_id", "n_common", "n_a", "n_b", "containment")
      .orderBy("a_id", "b_id")
  }

  // MinHash: K=12 permutations h_k(x) = ((2k+1)·h32(x) + k²+1) mod p over
  // the shingle hash; LSH: 4 bands of 3 rows each.
  private val P = "2147483647"
  // shingle hashes are computed ONCE per doc (sh2.th); the 12 permutations
  // are cheap integer maps over that array — not 12 recomputed md5 passes
  private[operators] def sigSpark =
    s"transform(sequence(0, 11), k -> array_min(transform(th, " +
      s"h -> ((2*k + 1) * h + (k*k + 1)) % $P)))"
  private[operators] def sigDuck =
    s"list_transform(range(0, 12), k -> list_min(list_transform(th, " +
      s"h -> ((2*k + 1) * h + (k*k + 1)) % $P)))"

  /** The LSH candidate chain over capped sets `sh2` (doc_id, th):
    * signatures `sig`, 4 band buckets `band` and the distinct
    * bucket-colliding pairs `cand` (a_id < b_id) — [[lshVerifiedPairs]]'
    * band layout in DuckDB dialect, shared with the x90 oracle. */
  private[operators] val duckLshCandidates =
    s"""sig AS (SELECT doc_id, $sigDuck AS m FROM sh2),
        band AS (SELECT doc_id, b,
                 m[b*3+1]::VARCHAR || ',' || m[b*3+2]::VARCHAR || ',' || m[b*3+3]::VARCHAR AS bkey
                 FROM sig, range(0, 4) r(b)),
        cand AS (SELECT DISTINCT a.doc_id AS a_id, c.doc_id AS b_id
                 FROM band a JOIN band c ON a.b = c.b AND a.bkey = c.bkey
                                        AND a.doc_id < c.doc_id)"""

  /** MinHash-LSH near-dup: hot-shingle cap ([[MaxShingleDf]]) → signatures
    * → band buckets → candidate pairs → exact-Jaccard verification at
    * ≥ 0.5. Only bucket-colliding pairs are verified — the candidate join
    * is on (band, band_key) — and the capped shingle sets feed both the
    * signatures and the verification, identically in both dialects.
    *
    * DuckDB dialect of [[nearDupSets]] → [[lshVerifiedPairs]] up to the
    * verification inputs `v` (a_id, b_id, n_common, n_a, n_b): documents
    * → capped sets → band buckets → distinct candidates. */
  private[operators] val duckLshPairCtes: String =
    s"""$duckShingles,
        $duckCappedSets,
        $duckLshCandidates,
        v AS (SELECT a_id, b_id,
                     CAST(len(list_intersect(sa.th, sb.th)) AS BIGINT) AS n_common,
                     CAST(len(sa.th) AS BIGINT) AS n_a, CAST(len(sb.th) AS BIGINT) AS n_b
              FROM cand JOIN sh2 sa ON a_id = sa.doc_id JOIN sh2 sb ON b_id = sb.doc_id)"""

  /** The near-dup pair graph in DuckDB dialect, [[nearDupPairs]]'s twin:
    * [[duckLshPairCtes]] plus the verified `pairs` (a_id, b_id) CTE at
    * Jaccard ≥ 0.5 — what every oracle that clusters, splits or mines
    * near-duplicates starts from. */
  private[operators] val duckNearDupPairs: String =
    s"""$duckLshPairCtes,
        pairs AS (SELECT a_id, b_id FROM v
                  WHERE CAST(n_common AS DOUBLE) / (n_a + n_b - n_common) >= 0.5)"""

  /** The recursive transitive closure over the undirected pair CTE named
    * by `pairs` (a_id, b_id), ending in `comp` (doc_id, component = the
    * minimum id reachable): the oracle twin of [[connectedComponents]]
    * and [[connectedComponentsStar]], one text for the text and media
    * tiers. Needs `WITH RECURSIVE`. */
  private[operators] def duckComponents(pairs: String): String =
    s"""edges AS (SELECT a_id AS u, b_id AS w FROM $pairs
                  UNION ALL SELECT b_id, a_id FROM $pairs),
        nodes AS (SELECT DISTINCT u FROM edges),
        reach(u, r) AS (
          SELECT u, u FROM nodes
          UNION
          SELECT e.u, reach.r FROM edges e JOIN reach ON reach.u = e.w),
        comp AS (SELECT u AS doc_id, MIN(r) AS component FROM reach GROUP BY u)"""

  /** The component table `sz` (component, n_members) over [[duckComponents]]'
    * `comp`: a component's size. */
  private[operators] val duckComponentSizes =
    """sz AS (SELECT component, CAST(COUNT(*) AS BIGINT) AS n_members
               FROM comp GROUP BY component)"""

  /** [[labelsToComponents]]' oracle twin: [[duckComponentSizes]] plus the
    * (doc_id, component, n_members, is_keeper) rows in doc_id order. */
  private[operators] val duckComponentRows =
    s"""$duckComponentSizes
        SELECT c.doc_id, c.component, s.n_members,
               c.doc_id = c.component AS is_keeper
        FROM comp c JOIN sz s ON c.component = s.component
        ORDER BY c.doc_id"""

  /** Capped per-doc shingle sets (doc_id, th) of a (doc_id, text) frame:
    * [[shingleHashesFrom]] and [[cappedShingleSets]], each materialized
    * once (the hashes feed both the df count and the cap, the sets both
    * the signatures and the verification). */
  private[operators] def nearDupSets(docs: DataFrame): DataFrame =
    cappedShingleSets(shingleHashesFrom(docs).ckpt).ckpt

  /** The documents table's verified near-dup pairs ([[lshVerifiedPairs]]
    * over [[nearDupSets]]): "near-dup" means capped MinHash-LSH candidates
    * with exact Jaccard ≥ 0.5, and every entry that needs the pair graph
    * takes it from here. */
  private[operators] def nearDupPairs(spark: SparkSession, dir: String): DataFrame =
    lshVerifiedPairs(nearDupSets(T(spark, dir, "documents")))

  /** HashMin components ([[connectedComponents]]) of [[nearDupPairs]]:
    * (doc_id, component, n_members, is_keeper) for every paired doc. */
  private[operators] def nearDupComponents(spark: SparkSession, dir: String): DataFrame =
    connectedComponents(nearDupPairs(spark, dir).select("a_id", "b_id"))

  val d28MinhashLsh = Q(
    "d28_minhash_lsh",
    s"""WITH $duckLshPairCtes
        SELECT a_id, b_id, n_common, n_a, n_b,
               CAST(n_common AS DOUBLE) / (n_a + n_b - n_common) AS jaccard
        FROM v WHERE CAST(n_common AS DOUBLE) / (n_a + n_b - n_common) >= 0.5
        ORDER BY a_id, b_id""") { (spark, dir) =>
    nearDupPairs(spark, dir)
      .select("a_id", "b_id", "n_common", "n_a", "n_b", "jaccard")
      .orderBy("a_id", "b_id")
  }

  /** d41: MinHash estimator CALIBRATION — for every d28-verified pair,
    * the 12-permutation signature agreement (est_ppm = matches·1e6/12)
    * beside the exact Jaccard: the audit that tells you whether the
    * sketch's similarity estimates can be TRUSTED as a filter (E[est] =
    * jaccard; systematic drift here means broken permutations or a bad
    * band layout). Reuses the d28 kernels verbatim — capped sets,
    * [[sigSpark]]/[[sigDuck]], [[lshVerifiedPairs]] — so the audited
    * estimator IS the production one. Scale: pairs are the d28 output
    * (capped), the signature join adds two doc-keyed joins of 12-long
    * arrays. */
  val d41MinhashCalibration = Q(
    "d41_minhash_calibration",
    s"""WITH $duckLshPairCtes
        SELECT a_id, b_id,
               CAST(n_common AS DOUBLE) / (n_a + n_b - n_common) AS jaccard,
               CAST(len(list_filter(range(1, 13),
                    k -> ga.m[CAST(k AS INTEGER)] = gb.m[CAST(k AS INTEGER)]))
                    AS BIGINT) AS n_sig_match,
               len(list_filter(range(1, 13),
                    k -> ga.m[CAST(k AS INTEGER)] = gb.m[CAST(k AS INTEGER)]))
                    * 1000000 // 12 AS est_ppm
        FROM v JOIN sig ga ON a_id = ga.doc_id JOIN sig gb ON b_id = gb.doc_id
        WHERE CAST(n_common AS DOUBLE) / (n_a + n_b - n_common) >= 0.5
        ORDER BY a_id, b_id""") { (spark, dir) =>
    val sh = nearDupSets(T(spark, dir, "documents"))
    val sig = sh.withColumn("m", expr(sigSpark))
    lshVerifiedPairs(sh)
      .join(sig.select(col("doc_id").as("a_id"), col("m").as("ma")), "a_id")
      .join(sig.select(col("doc_id").as("b_id"), col("m").as("mb")), "b_id")
      .withColumn("n_sig_match",
        expr("size(filter(zip_with(ma, mb, (x, y) -> x = y), z -> z))").cast("long"))
      .withColumn("est_ppm", expr("n_sig_match * 1000000 div 12"))
      .select("a_id", "b_id", "jaccard", "n_sig_match", "est_ppm")
      .orderBy("a_id", "b_id")
  }

  /** Bounded-round cap for HashMin label propagation. Near-dup graphs
    * are band-bucket cliques glued at shared documents — diameters of
    * 2-4, converging in ≤3 rounds; 20 is a pathological-chain backstop
    * (the loop stops the first round nothing changes). */
  private val CCMaxIter = 20

  /** d34: duplicate CLUSTERS, not pairs — connected components over the
    * d28 near-dup pair graph, because production dedup keeps one doc per
    * component (a–b and b–c must collapse to ONE keeper even when a–c
    * never co-banded). Output: every paired doc with its component id
    * (= min doc_id reachable), the component size, and the keeper flag;
    * singletons (docs in no pair) are trivially their own keeper and are
    * excluded by contract.
    *
    * Spark side is HashMin label propagation ([[connectedComponents]]):
    * O(diameter) rounds of (edge ⋈ label, min) — each round one shuffle
    * keyed on doc_id over (id, lbl) longs ONLY, nothing wide. The DuckDB
    * oracle computes the same fixpoint as a recursive transitive-closure
    * CTE — tractable at oracle SF, exactly what the Spark side must NOT
    * do at 100 TB (closure is O(n·paths); HashMin materializes only one
    * label per node per round). At extreme diameters the upgrade is
    * large-star/small-star contraction — implemented as
    * [[connectedComponentsStar]] / d35, spec-pinned bit-equal here and
    * O(log n)-round on a 1024-node chain HashMin cannot finish. */
  val d34DedupComponents = Q(
    "d34_dedup_components",
    s"""WITH RECURSIVE $duckNearDupPairs,
        ${duckComponents("pairs")},
        $duckComponentRows""") { (spark, dir) =>
    nearDupComponents(spark, dir).orderBy("doc_id")
  }

  /** HashMin connected components over an undirected pair list
    * (a_id, b_id): every node starts labeled with its own id; each round
    * every node takes the min of its own and its neighbors' labels; stop
    * when a round changes nothing (or at [[CCMaxIter]]). Deterministic —
    * min over longs, no tie to break. Returns (doc_id, component,
    * n_members, is_keeper). */
  private[operators] def connectedComponents(pairs: DataFrame): DataFrame =
    labelsToComponents(hashMinLabels(pairs)._1)

  /** The HashMin loop itself, returning (labels, rounds) — rounds exposed
    * for the same diagnostic reason as [[starContractionLabels]]: the
    * round count IS the cost model (one label shuffle per round), so specs
    * and perf investigation can observe it directly. */
  private[operators] def hashMinLabels(pairs: DataFrame): (DataFrame, Int) = {
    // pre-partition on the probe key ONCE and localCheckpoint: the
    // checkpointed RDD KEEPS hashpartitioning(w) (LogicalRDD captures the
    // physical outputPartitioning), so every round's edge⋈label join
    // reuses it instead of re-shuffling the (static) edge list — at scale
    // the edge list is the big side of every round. Checkpoint, never
    // cache: a cache bounds the physical work but not the DRIVER work —
    // each round's plan still embeds the full upstream lineage (here the
    // whole LSH pair pipeline) plus ~3× per round, and analysis/cache
    // lookup canonicalize that tree on every action, which measured
    // SECONDS per round on a 254-pair graph. Truncating per round makes
    // round cost flat. (On a cluster, reliable `checkpoint()` to the
    // checkpoint dir is the executor-loss-tolerant variant; localCheckpoint
    // trades that tolerance for zero external storage.)
    val edges = pairs
      .select(col("a_id").as("u"), col("b_id").as("w"))
      .union(pairs.select(col("b_id").as("u"), col("a_id").as("w")))
      .repartition(col("w"))
      .ckpt
    // r12 optimization: initialize each label at min(id, min neighbor id)
    // — exactly the result of the first HashMin round from the identity
    // labeling, computed as ONE aggregate over the edge list instead of a
    // distinct + a full propagate round (join + regroup + checkpoint +
    // convergence count). HashMin is monotone toward the same fixpoint
    // from any state ≥ it, so the final labels are bit-identical (d34's
    // oracle and the d35 star-equality spec pin this); the loop just
    // starts one hop further in. Every node appears as `u` in the
    // doubled edge list, so the aggregate covers all nodes.
    var labels = edges.groupBy(col("u").as("id"))
      .agg(min(col("w")).as("mn"))
      .select(col("id"), least(col("id"), col("mn")).as("lbl")).ckpt
    var changed = 1L
    var it = 0
    while (changed > 0 && it < CCMaxIter) {
      val prop = edges
        .join(labels.select(col("id").as("w2"), col("lbl").as("wl")),
          col("w") === col("w2"))
        .groupBy(col("u").as("pid")).agg(min(col("wl")).as("plbl"))
      // carry the pre-round label through the update so the convergence
      // check is a filter over THIS round's materialization — not an
      // extra labels⋈next join per round
      val next = labels
        .join(prop, col("id") === col("pid"), "left")
        .select(col("id"), col("lbl").as("old"),
          least(col("lbl"), coalesce(col("plbl"), col("lbl"))).as("lbl"))
        .ckpt
      changed = next.filter(col("lbl") =!= col("old")).count()
      labels = next.select("id", "lbl")
      it += 1
    }
    (labels, it)
  }

  /** Shared tail of both component algorithms: (id, lbl) labels →
    * (doc_id, component, n_members, is_keeper). One place, so the two
    * forms cannot drift in output shape. */
  private def labelsToComponents(labels: DataFrame): DataFrame = {
    val sz = labels.groupBy(col("lbl").as("component"))
      .agg(count(lit(1)).as("n_members"))
    labels.select(col("id").as("doc_id"), col("lbl").as("component"))
      .join(sz, "component")
      .select(col("doc_id"), col("component"), col("n_members"),
        (col("doc_id") === col("component")).as("is_keeper"))
  }

  /** Alternating large-star/small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond") — the
    * extreme-diameter regime [[connectedComponents]]'s scaladoc names.
    * HashMin moves the min label ONE hop per round (O(diameter) rounds:
    * fine on band-clique dup graphs of diameter 2-4, hopeless on a
    * path); star rounds rewire edges toward neighborhood minima, halving
    * long paths — O(log n) rounds on a chain, same one-shuffle-per-round
    * join/agg shape per pass. Each round = one large-star then one
    * small-star; fixpoint when the canonical edge set stops changing, at
    * which point edges ARE the component stars (center = component min).
    *
    *  - large-star(u): connect every strictly-larger neighbor to
    *    min(Γ(u) ∪ u). Nodes never drop: for any edge (x,v) with x < v,
    *    x's emission keeps v incident.
    *  - small-star(u): connect every smaller neighbor AND u itself to
    *    that min — the ∪{u} self-emission is what keeps chain interiors
    *    alive through this pass.
    */
  private[operators] def starContractionLabels(pairs: DataFrame): (DataFrame, Int) = {
    // canonical form (small, large), no self-loops, distinct — the
    // convergence test is set equality, so edges must stay canonical
    def canon(e: DataFrame): DataFrame = e
      .filter(col("u") =!= col("w"))
      .select(least(col("u"), col("w")).as("u"), greatest(col("u"), col("w")).as("w"))
      .distinct()
    def sym(e: DataFrame): DataFrame =
      e.union(e.select(col("w").as("u"), col("u").as("w")))
    // per-node min of the closed neighborhood, joined back onto the
    // symmetric edge list: one shuffle for the agg, one for the join
    def withMin(e: DataFrame): DataFrame = {
      val s = sym(e)
      val m = s.groupBy("u").agg(min(col("w")).as("mw"))
        .select(col("u").as("cu"), least(col("u"), col("mw")).as("m"))
      s.join(m, col("u") === col("cu"))
    }
    def largeStar(e: DataFrame): DataFrame = {
      val s = withMin(e)
      canon(s.filter(col("w") > col("u"))
        .select(col("w").as("u"), col("m").as("w")))
    }
    def smallStar(e: DataFrame): DataFrame = {
      val s = withMin(e)
      canon(s.filter(col("w") < col("u"))
        .select(col("w").as("u"), col("m").as("w"))
        .union(s.select(col("u"), col("m").as("w"))))
    }

    // localCheckpoint per round, NOT cache: one star round references its
    // input ~9× (sym doubles it, withMin joins it against an aggregate of
    // itself, large+small compound), so the LOGICAL plan grows ~9^rounds
    // even though caching bounds the physical work — by round 6 the plan
    // tree is large enough that AQE's per-stage explainString alone burns
    // minutes. Checkpointing truncates the lineage to the materialized
    // partitions each round — the standard shape for iterative Spark
    // algorithms (same reason GraphX/GraphFrames checkpoint in-loop).
    var edges = canon(pairs.select(col("a_id").as("u"), col("b_id").as("w")))
      .ckpt
    var it = 0
    var changed = 1L
    while (changed > 0 && it < CCMaxIter) {
      val next = smallStar(largeStar(edges)).ckpt
      // set equality both ways: star rounds can only shrink-or-rewire, but
      // the symmetric check makes the fixpoint test independent of that
      changed = next.except(edges).union(edges.except(next)).count()
      edges = next
      it += 1
    }
    // at fixpoint every canonical edge is (component-min, member); the
    // min-agg also degrades gracefully if the CCMaxIter backstop fired
    val labels = edges.select(col("w").as("id"), col("u").as("lbl"))
      .union(edges.select(col("u").as("id"), col("u").as("lbl")))
      .groupBy("id").agg(min(col("lbl")).as("lbl"))
    (labels, it)
  }

  /** [[connectedComponents]] behind the star-contraction engine — same
    * input contract, same output shape (spec-pinned bit-equal on the d28
    * pair graph and exact on a 1024-node shuffled chain). */
  private[operators] def connectedComponentsStar(pairs: DataFrame): DataFrame =
    labelsToComponents(starContractionLabels(pairs)._1)

  /** MinHash-LSH verified near-dup pairs of capped per-doc sets `sh`
    * (doc_id, th): signatures → 4 band buckets → candidate equi-join →
    * exact-Jaccard verification at ≥ 0.5. The SINGLE implementation behind
    * d28 and x90's near-dup stage, so band count, key format, and the
    * verification arithmetic cannot drift apart. */
  private[operators] def lshVerifiedPairs(sh: DataFrame): DataFrame = {
    val sig = sh.withColumn("m", expr(sigSpark)).ckpt
    val band = sig
      .select(col("doc_id"), explode(expr("sequence(0, 3)")).as("b"), col("m"))
      .selectExpr("doc_id", "b",
        "concat(cast(m[b*3] as string), ',', cast(m[b*3+1] as string), ',', cast(m[b*3+2] as string)) as bkey")
    val cand = band.select(col("b"), col("bkey"), col("doc_id").as("a_id"))
      .join(band.select(col("b").as("b2"), col("bkey").as("bkey2"), col("doc_id").as("b_id")),
        col("b") === col("b2") && col("bkey") === col("bkey2") && col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
    verifiedPairs(cand, sh)
  }

  /** Exact-Jaccard verification of candidate pairs (a_id, b_id) against
    * per-doc capped sets `sets` (doc_id, th): n_common, n_a, n_b and
    * jaccard, kept at ≥ 0.5 — one formula for the LSH (d28) and the
    * prefix-filter (d46) candidate generators. */
  private def verifiedPairs(cand: DataFrame, sets: DataFrame): DataFrame =
    cand
      .join(sets.select(col("doc_id").as("a_id"), col("th").as("th_a")), "a_id")
      .join(sets.select(col("doc_id").as("b_id"), col("th").as("th_b")), "b_id")
      .withColumn("n_common", size(array_intersect(col("th_a"), col("th_b"))).cast("long"))
      .withColumn("n_a", size(col("th_a")).cast("long"))
      .withColumn("n_b", size(col("th_b")).cast("long"))
      .withColumn("jaccard",
        col("n_common").cast("double") / (col("n_a") + col("n_b") - col("n_common")))
      .filter(col("jaccard") >= 0.5)

  // 32-bit SimHash: per bit, majority vote of gram-hash bits (gram
  // multiset, order-insensitive). The vote formulas are shared with the
  // char-gram media variant ([[Multimodal.m44MediaNeardup]]) so the two
  // tiers cannot drift — only the gram source differs.
  private[operators] def simhashSpark = simhashSparkBits(32)
  /** Width-parameterized vote builder behind [[simhashSpark]] — the
    * 56-bit media fingerprint ([[Multimodal.m49MediaComponentsScalable]])
    * shares THIS builder rather than copying the formula, so the two
    * widths cannot drift one edit at a time. */
  private[operators] def simhashSparkBits(bits: Int): String =
    s"aggregate(sequence(0, ${bits - 1}), cast(0 as bigint), (acc, b) -> acc + " +
      "(case when 2 * size(filter(th, h -> (shiftright(h, b) & 1) = 1)) > size(th) " +
      "then shiftleft(cast(1 as bigint), b) else cast(0 as bigint) end))"
  /** DuckDB dialect of [[simhashSpark]]'s vote over a list column `th`. */
  private[operators] val duckSimVote = duckSimVoteBits(32)
  /** DuckDB dialect of [[simhashSparkBits]]. */
  private[operators] def duckSimVoteBits(bits: Int): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform(range(0, $bits), b ->
                    CASE WHEN 2 * len(list_filter(th, h -> ((h >> b) & 1) = 1)) > len(th)
                         THEN (CAST(1 AS BIGINT) << CAST(b AS INTEGER))
                         ELSE CAST(0 AS BIGINT) END)),
                  (acc, x) -> acc + x)"""
  private val duckSimhash =
    s"""th AS (SELECT doc_id, list_transform(string_split(text, ' '), x -> ${H.d("x")}) AS th
               FROM documents),
        sim AS (SELECT doc_id, $duckSimVote AS simhash FROM th)"""

  /** Per-document 32-bit SimHash fingerprint + its 8 diagnostic chunks
    * (4 bits each). NOTE: [[d30SimhashPairs]] does NOT consume these —
    * its LSH join derives its own 4 chunks of 8 bits (the pigeonhole
    * guarantee hamming ≤ 3 over 4 chunks holds for THAT chunking); the
    * value-level contract shared with d30 is the `simhash` column only. */
  val d29Simhash = Q(
    "d29_simhash",
    s"""WITH $duckSimhash
        SELECT doc_id, simhash,
               (simhash >> 0) & 15 AS c0, (simhash >> 4) & 15 AS c1,
               (simhash >> 8) & 15 AS c2, (simhash >> 12) & 15 AS c3,
               (simhash >> 16) & 15 AS c4, (simhash >> 20) & 15 AS c5,
               (simhash >> 24) & 15 AS c6, (simhash >> 28) & 15 AS c7
        FROM sim ORDER BY doc_id""") { (spark, dir) =>
    // checkpoint barrier: compute simhash once, then derive the 8 chunk
    // columns from the materialized column (the checkpoint prevents the 8x
    // re-inline of the interpreted HOF expression)
    T(spark, dir, "documents")
      .selectExpr("doc_id", s"transform(split(text, ' '), x -> ${H.s("x")}) as th")
      .selectExpr("doc_id", s"$simhashSpark as simhash")
      .ckpt
      .selectExpr(Seq("doc_id", "simhash") ++
        (0 until 8).map(c => s"(shiftright(simhash, ${4 * c}) & 15) as c$c"): _*)
      .orderBy("doc_id")
  }

  /** SimHash near-dup pairs: chunk-equality join (4 chunks × 8 bits), then
    * hamming ≤ 3 — exact by pigeonhole (4 differing bits would need 4
    * distinct chunks), no cross join; 8-bit chunks keep buckets small. */
  val d30SimhashPairs = Q(
    "d30_simhash_pairs",
    s"""WITH $duckSimhash,
        chunk AS (SELECT doc_id, simhash, c, (simhash >> CAST(c*8 AS INTEGER)) & 255 AS cv
                  FROM sim, range(0, 4) r(c)),
        cand AS (SELECT DISTINCT a.doc_id AS a_id, a.simhash AS sim_a,
                                 b.doc_id AS b_id, b.simhash AS sim_b
                 FROM chunk a JOIN chunk b ON a.c = b.c AND a.cv = b.cv
                                          AND a.doc_id < b.doc_id
                 WHERE bit_count(xor(a.simhash, b.simhash)) <= 3)
        SELECT a_id, b_id, sim_a, sim_b,
               CAST(bit_count(xor(sim_a, sim_b)) AS BIGINT) AS hamming
        FROM cand ORDER BY a_id, b_id""") { (spark, dir) =>
    // checkpoint: the interpreted simhash higher-order expression would
    // otherwise be re-inlined by projection collapse into cv and both
    // self-join sides (16 evaluations per doc) — 25s -> 3s at sf0.1
    val sim = T(spark, dir, "documents")
      .selectExpr("doc_id", s"transform(split(text, ' '), x -> ${H.s("x")}) as th")
      .selectExpr("doc_id", s"$simhashSpark as simhash")
      .ckpt
    val chunk = sim
      .select(col("doc_id"), col("simhash"), explode(expr("sequence(0, 3)")).as("c"))
      .withColumn("cv", expr("shiftright(simhash, c*8) & 255"))
    val cand = chunk.select(col("c"), col("cv"), col("doc_id").as("a_id"), col("simhash").as("sim_a"))
      .join(chunk.select(col("c").as("c2"), col("cv").as("cv2"),
        col("doc_id").as("b_id"), col("simhash").as("sim_b")),
        col("c") === col("c2") && col("cv") === col("cv2") && col("a_id") < col("b_id"))
      .filter(expr("bit_count(sim_a ^ sim_b) <= 3")) // filter BEFORE distinct
      .select("a_id", "b_id", "sim_a", "sim_b").distinct()
    cand
      .withColumn("hamming", expr("cast(bit_count(sim_a ^ sim_b) as bigint)"))
      .orderBy("a_id", "b_id")
  }

  /** Embedding-cosine near-dup (exact, block-partitioned). All-pairs is the
    * operator's contract (the threshold sits inside the bulk of the cosine
    * distribution on this corpus — max pair cos ≈ 0.51 — so no angular-LSH
    * band scheme prunes it at useful recall; the *approximate* tiers are
    * [[Similarity.s33AnnLsh]]/[[Similarity.s34AnnIvf]]). The pair space is
    * distributed by block-partitioning BOTH sides: vectors hash into B
    * blocks, the B·(B+1)/2 block pairs are enumerated as a (broadcast) tiny
    * relation, and each task evaluates one block×block tile — no driver
    * collect, no full-table broadcast, per-task memory = one tile. B scales
    * with N to keep tiles bounded. Block assignment affects only execution,
    * never the result, so the oracle stays the plain quadratic SQL. Dots run
    * in a JVM loop with the identical left-to-right fold as the oracle's
    * [[Cosine]] folds — doubles compare bit-equal. */
  /** Rows per block the tile scheme targets: one tile holds two blocks, so
    * per-task memory is ~2 × TargetBlockRows × dim × 8 B (≈ 64 MB at 64
    * dims) regardless of N. B therefore grows LINEARLY with N — tile count
    * B·(B+1)/2 grows with N², which is inherent to the exact all-pairs
    * contract (the output itself is O(N²) work); the approximate tiers
    * ([[Similarity.s33AnnLsh]]/[[Similarity.s34AnnIvf]]) are the escape. */
  private[operators] val TargetBlockRows = 65536L

  /** Block count for N vectors: keeps every block ≤ [[TargetBlockRows]],
    * floor 8 so small inputs still parallelize across tasks. */
  private[operators] def blocksFor(n: Long): Int =
    math.max(8L, (n + TargetBlockRows - 1) / TargetBlockRows).toInt

  val d31EmbeddingNeardup = Q(
    "d31_embedding_neardup",
    s"""WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        e AS (SELECT vec_id, v, ${Cosine.duckNorm("v")} AS nrm FROM e0),
        p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                     ${Cosine.duckDot("a.v", "b.v")} / (a.nrm * b.nrm) AS cos
              FROM e a, e b WHERE a.vec_id < b.vec_id)
        SELECT a_id, b_id, cos FROM p WHERE cos >= 0.45 ORDER BY a_id, b_id""") { (spark, dir) =>
    // B derived from a cheap count (metadata-only on parquet) so one tile
    // always fits an executor; block assignment affects execution only,
    // never the result (DedupSpec pins B-invariance bit-exactly)
    d31Blocked(spark, dir, blocksFor(T(spark, dir, "embeddings").count()))
  }

  /** d31's engine with an explicit block count (the query derives B via
    * [[blocksFor]]; the B-invariance spec sweeps it). */
  private[operators] def d31Blocked(spark: SparkSession, dir: String,
      numBlocks: Int): DataFrame = {
    import spark.implicits._
    // tiles are enumerated driver-side (B(B+1)/2 small tuples) and the
    // count is Int arithmetic — sane only while the tile count is sane.
    // B = 4096 ⇒ 8.4M tiles, already far past any reasonable job; the
    // exact all-pairs CONTRACT itself (O(N²) dots ≈ 7e16 at the matching
    // N) gives out long before this guard does. Past it, use the
    // approximate tiers — that is their purpose.
    require(numBlocks <= 4096,
      s"d31 exact all-pairs with B=$numBlocks blocks (${numBlocks.toLong * (numBlocks + 1) / 2} tiles) " +
        "is beyond the exact tier's feasible scale; use s33/s34/s36")
    // one row per block: (blk, compact vector list). B grows with N
    // ([[blocksFor]]) so a tile (two blocks) stays executor-resident; tiles
    // are the unit of parallelism. Pair rows are never materialized through
    // a join — each tile's cross product runs as a JVM loop.
    val blocks = T(spark, dir, "embeddings")
      .selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) as v")
      .withColumn("nrm", expr(Cosine.sparkNorm("v")))
      .groupBy(expr(s"pmod(hash(vec_id), $numBlocks)").as("blk"))
      .agg(collect_list(struct(col("vec_id").as("_1"), col("v").as("_2"),
        col("nrm").as("_3"))).as("vs"))
    val blockPairs = (for {
      i <- 0 until numBlocks; j <- i until numBlocks
    } yield (i, j)).toDF("bi", "bj")
    val tiles = blockPairs
      .join(blocks.select(col("blk").as("bi"), col("vs").as("vsa")), "bi")
      .join(blocks.select(col("blk").as("bj"), col("vs").as("vsb")), "bj")
      .repartition(numBlocks * (numBlocks + 1) / 2, col("bi"), col("bj"))
      .select(col("bi"), col("bj"), col("vsa"), col("vsb"))
      .as[(Int, Int, Array[(Long, Array[Double], Double)], Array[(Long, Array[Double], Double)])]
    tiles.flatMap { case (bi, bj, vsa, vsb) =>
      // diagonal tiles dedup by id; off-diagonal blocks are disjoint, so
      // every unordered pair appears exactly once — ids normalized to
      // (min, max), and the dot is elementwise-commutative, so the cosine
      // is bit-identical under swap
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
      var x = 0
      while (x < vsa.length) {
        val (aId, av, an) = vsa(x)
        var y = 0
        while (y < vsb.length) {
          val (bId, bv, bn) = vsb(y)
          if (bi != bj || aId < bId) {
            var dot = 0.0; var i = 0
            while (i < av.length) { dot += av(i) * bv(i); i += 1 }
            val cos = dot / (an * bn)
            if (cos >= 0.45)
              out += ((math.min(aId, bId), math.max(aId, bId), cos))
          }
          y += 1
        }
        x += 1
      }
      out
    }.toDF("a_id", "b_id", "cos")
      .orderBy("a_id", "b_id")
  }

  /** Exact quadratic baseline for d31 (spec-only, NOT registered): JVM-loop
    * mapPartitions against a broadcast of all vectors. Viable single-node /
    * small-N only — the spec uses it to pin that every LSH-pruned pair is
    * also an exact pair with the bit-identical cosine. Fold order matches
    * [[Cosine]] exactly (dot left-to-right, norms precomputed). */
  def d31ExactBaseline(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vecs = T(spark, dir, "embeddings")
      .selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) as v")
      .as[(Long, Array[Double])]
    def norm(v: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < v.length) { acc += v(i) * v(i); i += 1 }
      math.sqrt(acc)
    }
    val all = vecs.collect().sortBy(_._1).map { case (id, v) => (id, v, norm(v)) }
    val bc = spark.sparkContext.broadcast(all)
    val threshold = 0.45
    vecs.mapPartitions { it =>
      val right = bc.value
      it.flatMap { case (aId, av) =>
        val an = norm(av)
        right.iterator.filter(_._1 > aId).flatMap { case (bId, bv, bn) =>
          var dot = 0.0; var i = 0
          while (i < av.length) { dot += av(i) * bv(i); i += 1 }
          val cos = dot / (an * bn)
          if (cos >= threshold) Some((aId, bId, cos)) else None
        }
      }
    }.toDF("a_id", "b_id", "cos")
      .orderBy("a_id", "b_id")
  }

  /** Embedding near-dup, hyperplane-LSH-bucketed with Hamming-1
    * multi-probe — the beyond-exact-tier scale path d31's own guard
    * points to (`use s33/s34/s36`). Candidate pairs are vectors whose
    * LSH buckets ([[Similarity.bucketedVecs]], 64 buckets) differ in at
    * most one hyperplane bit (each vector probes its own + 6 neighbor
    * buckets, s36's probe set); survivors are verified with the exact
    * cosine at d31's 0.45 threshold. Every qualifying pair appears
    * exactly once: for fixed buckets there is exactly one probe mask
    * mapping one onto the other, and `a_id < b_id` kills the mirror.
    *
    * Recall is by construction of the probe set: at the near-DUPLICATE
    * design point (cos ≥ 0.99, θ ≈ 2.6°, per-plane split chance θ/π ≈
    * 0.8 %) P(Hamming ≤ 1) ≈ 0.999 — RecallSpec measures ≥ 0.95 on a
    * generated clustered corpus. On far pairs (the 0.45 tail, θ ≈ 63°)
    * the probe set intentionally prunes most candidates — that pruning
    * IS the operator, the same candidates-then-verify contract as d28's
    * bands, and the oracle states the identical formula (DedupSpec pins
    * d33 ⊆ d31 with bit-equal cosines).
    *
    * At 100 TB: one equi-join on the bucket key (probe side exploded
    * 7×, data side untouched) — no tiles, no driver-side block
    * enumeration; AQE splits an oversized bucket like any skewed
    * sort-merge key. Mass-duplicated vectors make the OUTPUT quadratic
    * (every dup pair is a correct row) — same SkewBench exclusion
    * contract as d30/d31; dedup exact-first. */
  val d33EmbeddingNeardupLsh = Q(
    "d33_embedding_neardup_lsh",
    s"""WITH ${Similarity.duckVecs}, ${Similarity.duckW},
        bk AS (SELECT vec_id, v, nrm, ${Similarity.bucketDuck} AS bucket FROM e, w),
        pr AS (SELECT vec_id AS a_id, v, nrm,
                      ${Similarity.probeUnnestDuck("bucket")} AS pb
               FROM bk),
        p AS (SELECT a.a_id, b.vec_id AS b_id,
                     ${Cosine.duckDot("a.v", "b.v")} / (a.nrm * b.nrm) AS cos
              FROM pr a JOIN bk b ON a.pb = b.bucket AND a.a_id < b.vec_id)
        SELECT a_id, b_id, cos FROM p WHERE cos >= 0.45
        ORDER BY a_id, b_id""") { (spark, dir) =>
    val bk = Similarity.bucketedVecs(spark, dir)
    val a = bk.select(col("vec_id").as("a_id"), col("v").as("va"),
      col("nrm").as("na"), Similarity.probeBuckets(col("bucket")).as("pb"))
    val b = bk.select(col("vec_id").as("b_id"), col("v").as("vb"),
      col("nrm").as("nb"), col("bucket").as("bb"))
    a.join(b, col("pb") === col("bb") && col("a_id") < col("b_id"))
      .withColumn("cos", Cosine.dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= 0.45)
      .select("a_id", "b_id", "cos")
      .orderBy("a_id", "b_id")
  }

  /** d36 tuning: gram width (tokens) for span detection, the document-
    * frequency cap that keeps boilerplate grams out of the pair join (same
    * contract as [[MaxShingleDf]]), and the minimum reported span. */
  private[operators] val SpanGram = 8
  private[operators] val SpanGramDfCap = 64
  private[operators] val SpanMinTokens = 12

  /** d36: exact duplicated-SPAN detection — the span-granular form of
    * exact-substring dedup (Lee et al.'s "Deduplicating Training Data
    * Makes Language Models Better"): find maximal runs of ≥
    * [[SpanMinTokens]] tokens shared verbatim between two documents, with
    * positions, so a pipeline can strip the repeated boilerplate while
    * keeping both documents. Doc-level dedup (d26-d28) cannot see these —
    * two 5k-token pages sharing a 200-token licence header are not
    * near-dups.
    *
    * Algorithm (pure relational, both engines run it verbatim): token
    * [[SpanGram]]-grams with positions → document-frequency cap (grams in
    * > [[SpanGramDfCap]] docs are corpus boilerplate; the cap bounds the
    * gram join exactly like d27's shingle cap) → occurrence equi-join on
    * the gram STRING (cross-engine identity for free, a < b) → matches on
    * one diagonal (pa − pb) with consecutive positions collapse to one
    * span via the rownumber-island trick → spans ≥ [[SpanMinTokens]].
    *
    * Scale shape: explode fan-out ≈ tokens/doc (linear); the join is an
    * inverted-index join on gram, never doc×doc, with per-gram membership
    * df-capped; islands/spans are one window + one aggregate keyed by the
    * (a,b) pair. Intra-doc repetition can still multiply occurrences of a
    * df-passing gram (m×n matches when BOTH docs repeat it) — genuine
    * output, same quadratic-output-by-contract caveat as d30. */
  /** d36's positioned-gram occurrence CTEs (`toks`→`grams`→`hot`→`occ`)
    * — shared with the cross-corpus contamination-span oracle
    * ([[Pipeline.x128ContaminationSpans]]) so "an occurrence" is one SQL
    * definition across the span operators. */
  private[operators] def duckSpanOcc: String =
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        grams AS (SELECT doc_id, i AS pos,
                         array_to_string(tk[i:i+${SpanGram - 1}], ' ') AS g
                  FROM toks, UNNEST(generate_series(1, len(tk) - ${SpanGram - 1})) AS t(i)),
        hot AS (SELECT g FROM (SELECT g, COUNT(DISTINCT doc_id) AS df
                               FROM grams GROUP BY g) WHERE df > $SpanGramDfCap),
        occ AS (SELECT * FROM grams WHERE g NOT IN (SELECT g FROM hot))"""

  /** The diagonal island-merge CTEs over a pair table `p(a_id, b_id,
    * pa, pb)` — d36's span kernel, reused verbatim by x128. */
  private[operators] def duckSpanIslands: String =
    s"""isl AS (SELECT a_id, b_id, pa, pb, pa - pb AS diag,
                       pa - ROW_NUMBER() OVER (PARTITION BY a_id, b_id, pa - pb
                         ORDER BY pa) AS isl
                FROM p),
        spans AS (SELECT a_id, b_id,
                         CAST(MIN(pa) AS BIGINT) AS a_start,
                         CAST(MIN(pb) AS BIGINT) AS b_start,
                         CAST(MAX(pa) - MIN(pa) + $SpanGram AS BIGINT) AS span_tokens
                  FROM isl GROUP BY a_id, b_id, diag, isl)"""

  /** Spark twin of [[duckSpanOcc]]: df-capped positioned gram
    * occurrences (doc_id, pos, g). */
  private[operators] def spanGramOccurrences(spark: SparkSession,
      dir: String): DataFrame = {
    val grams = T(spark, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      // guard BEFORE sequence(): Spark's sequence(1, n) with n < 1 counts
      // DOWN (DuckDB's generate_series is empty) — short docs must not
      // reach it
      .filter(size(col("tk")) >= SpanGram)
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("tk")) - (SpanGram - 1))).as("pos"),
        col("tk"))
      .select(col("doc_id"), col("pos"),
        array_join(slice(col("tk"), col("pos"), lit(SpanGram)), " ").as("g"))
    val hot = grams.groupBy("g")
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") > SpanGramDfCap)
      .select("g")
    // r12 optimization: every caller (d36, x128/x131) consumes the capped
    // occurrences 2-4× (self-join sides / split sides) — checkpoint the
    // POST-CAP frame so the tokenize+explode+cap pipeline runs once per
    // query. Deliberately NOT materializing the pre-cap `grams`: under a
    // mass-duplicated corpus the uncapped explosion is unbounded, and
    // materializing it regressed the skew gauntlet's d36 line ~8×
    // (measured round 12) — the two pre-cap passes (df profile +
    // anti-join side) stay streaming, the df cap bounds what is stored.
    grams.join(hot, Seq("g"), "left_anti").ckpt
  }

  /** Spark twin of [[duckSpanIslands]]: collapse a pair table (a_id,
    * b_id, pa, pb) into maximal shared spans ≥ [[SpanMinTokens]]. */
  private[operators] def spanIslands(p: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("a_id"), col("b_id"), col("diag")).orderBy(col("pa"))
    p.withColumn("diag", col("pa") - col("pb"))
      .withColumn("isl", col("pa") - row_number().over(w))
      .groupBy("a_id", "b_id", "diag", "isl")
      .agg(min(col("pa")).cast("long").as("a_start"),
        min(col("pb")).cast("long").as("b_start"),
        (max(col("pa")) - min(col("pa")) + SpanGram).cast("long").as("span_tokens"))
      .filter(col("span_tokens") >= SpanMinTokens)
      .select("a_id", "b_id", "a_start", "b_start", "span_tokens")
  }

  val d36DuplicateSpans = Q(
    "d36_duplicate_spans",
    s"""WITH $duckSpanOcc,
        p AS (SELECT x.doc_id AS a_id, y.doc_id AS b_id, x.pos AS pa, y.pos AS pb
              FROM occ x JOIN occ y ON x.g = y.g AND x.doc_id < y.doc_id),
        $duckSpanIslands
        SELECT * FROM spans WHERE span_tokens >= $SpanMinTokens
        ORDER BY a_id, b_id, a_start, b_start""") { (spark, dir) =>
    val occ = spanGramOccurrences(spark, dir)
    val p = occ.select(col("g"), col("doc_id").as("a_id"), col("pos").as("pa"))
      .join(occ.select(col("g").as("g2"), col("doc_id").as("b_id"), col("pos").as("pb")),
        col("g") === col("g2") && col("a_id") < col("b_id"))
    spanIslands(p)
      .orderBy("a_id", "b_id", "a_start", "b_start")
  }

  /** d35: d34's component semantics behind the star-contraction engine —
    * the extreme-diameter upgrade d34's scaladoc names, surfaced as its
    * own oracle entry. The oracle SQL is d34's verbatim: both engines
    * compute the same fixpoint, so any divergence between HashMin and
    * star contraction fails the driver's hash compare. */
  val d35ComponentsStar = Q(
    "d35_components_star",
    d34DedupComponents.oracle.get) { (spark, dir) =>
    connectedComponentsStar(nearDupPairs(spark, dir).select("a_id", "b_id"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------------
  // d37: incremental batch-vs-corpus near-dedup (continuous ingestion)
  // ---------------------------------------------------------------------

  /** Batch membership for [[d37IncrementalDedup]]: every 5th doc_id is
    * "newly arriving", the rest is the standing corpus. Deterministic and
    * SF-independent, so the oracle can mirror the split exactly.
    * Shared with the admission-tier manifest
    * ([[Pipeline.x126IncrementalManifest]]) so "the batch" is one
    * definition across the ingestion operators. */
  private[operators] val d37BatchMod = 5

  /** Band key with the band index embedded — a SINGLE join column, so the
    * candidate join's key matches the corpus index's bucketing exactly
    * (a composite (b, bkey) key would need hashpartitioning(b, bkey),
    * which bucketing on bkey alone cannot satisfy). */
  private val d37BkeySpark =
    "concat(cast(b as string), ':', cast(m[b*3] as string), ',', " +
      "cast(m[b*3+1] as string), ',', cast(m[b*3+2] as string))"

  /** The precomputed corpus-side near-dup index for [[d37IncrementalDedup]]:
    *  - `hot` (parquet): the corpus's hot-shingle profile (df >
    *    [[MaxShingleDf]]) — tiny by construction, broadcast to cap every
    *    future batch with the CORPUS's document frequencies (a batch
    *    cannot know corpus-wide df any other way; same contract as the
    *    streaming tier's hotShingles guard);
    *  - `sets` (8-bucket table on doc_id): capped per-doc shingle sets,
    *    the verification side;
    *  - `bands` (8-bucket table on bkey, sorted): the LSH band index the
    *    per-batch candidate join probes.
    * Written ONCE per source-dir content ([[Scale.sourceKey]]) — at 100 TB
    * this index is maintained incrementally (admitted docs append their
    * bands/sets), never recomputed; the rebuild here stands in for the
    * initial bootstrap. */
  private[graft] def d37CorpusIndex(
      spark: SparkSession, dir: String): (String, String, String) = {
    val key = Scale.sourceKey(dir, "documents")
    val tmp = System.getProperty("java.io.tmpdir")
    val hotPath = s"$tmp/graft_d37_hot_$key"
    val setsT = s"graft_d37_sets_$key"
    val bandsT = s"graft_d37_bands_$key"
    if (!spark.catalog.tableExists(bandsT) || !spark.catalog.tableExists(setsT)
      || !new java.io.File(s"$hotPath/_SUCCESS").exists()) {
      val corpus = T(spark, dir, "documents")
        .filter(col("doc_id") % d37BatchMod =!= 0).select("doc_id", "text")
      val hs = shingleHashesFrom(corpus).ckpt
      hs.select(explode(col("th")).as("h"))
        .groupBy("h").agg(count(lit(1)).as("df"))
        .filter(col("df") > MaxShingleDf).select("h")
        .write.mode("overwrite").parquet(hotPath)
      val ex = hs.select(col("doc_id"), explode(col("th")).as("h"))
        .join(broadcast(spark.read.parquet(hotPath)), Seq("h"), "left_anti")
      ex.groupBy("doc_id").agg(collect_list(col("h")).as("th"))
        .write.mode("overwrite").bucketBy(8, "doc_id")
        .option("path", s"$tmp/graft_d37_sets_$key").saveAsTable(setsT)
      spark.table(setsT).withColumn("m", expr(sigSpark))
        .select(col("doc_id"), explode(expr("sequence(0, 3)")).as("b"), col("m"))
        .selectExpr("doc_id", s"$d37BkeySpark as bkey")
        .write.mode("overwrite").bucketBy(8, "bkey").sortBy("bkey")
        .option("path", s"$tmp/graft_d37_bands_$key").saveAsTable(bandsT)
    }
    (hotPath, setsT, bandsT)
  }

  /** d37: INCREMENTAL near-dedup — admit or reject a batch of newly
    * arriving documents against a standing corpus WITHOUT touching the
    * corpus's text. The continuous-ingestion shape every production
    * training-data pipeline runs: the corpus's LSH index
    * ([[d37CorpusIndex]]) is precomputed and bucketed, so per-batch cost
    * is ∝ batch size — batch bands probe the bucketed band index with
    * ZERO corpus-side shuffle (the index scan is pre-bucketed on the
    * single bkey join column; PlanSpec gates it), batch docs are capped
    * by the corpus's broadcast hot-shingle profile, and only
    * band-colliding candidates fetch corpus shingle sets (bucketed on
    * doc_id) for exact-Jaccard verification at ≥ 0.5.
    *
    * Within-batch duplicates reject greedily against earlier batch docs
    * (a_id < b_id) — the batch band self-join is batch-sized, not
    * corpus-sized. Output: every batch doc with its verdict (admitted =
    * no match in corpus ∪ earlier batch), the match count, and the
    * smallest matching partner. The oracle recomputes the identical
    * fixpoint from scratch — same hash, same cap, same bands — proving
    * the incremental decomposition returns exactly what a full-corpus
    * rerun would. */
  val d37IncrementalDedup = Q(
    "d37_incremental_dedup",
    d37OracleSql) { (spark, dir) =>
    val (hotPath, setsT, bandsT) = d37CorpusIndex(spark, dir)
    val batch = T(spark, dir, "documents")
      .filter(col("doc_id") % d37BatchMod === 0)
    val (verdicts, _, _) = incrementalAdmit(batch,
      spark.table(setsT), spark.table(bandsT).hint("merge"),
      spark.read.parquet(hotPath))
    verdicts.orderBy("doc_id")
  }

  /** ONE incremental-admission round — the shared kernel of batch d37 and
    * the streaming ingest twin ([[graft.streaming.StreamOps.IngestAdmission]]),
    * so the two tiers cannot drift. Verdicts every `batch` (doc_id, text)
    * doc against an existing index (`indexSets`: doc_id→capped shingle
    * set; `indexBands`: bkey→doc_id — the caller supplies any join hint)
    * plus the batch's OWN earlier docs (a_id < b_id), capping the batch
    * by the broadcast `hotDf` corpus profile. Returns (verdicts,
    * batchSets, batchBands); an index-maintaining caller appends the
    * latter two so the next round sees this round's docs — admitted or
    * not, matching the greedy contract (later docs reject against ALL
    * earlier arrivals). batchSets/batchBands are checkpointed here (three
    * consumers each), so they hold no plan and need no release. */
  private[graft] def incrementalAdmit(batch: DataFrame,
      indexSets: DataFrame, indexBands: DataFrame, hotDf: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val bex = shingleHashesFrom(batch.select("doc_id", "text"))
      .select(col("doc_id"), explode(col("th")).as("h"))
      .join(broadcast(hotDf), Seq("h"), "left_anti")
    val bsets = bex.groupBy("doc_id").agg(collect_list(col("h")).as("th")).ckpt
    val bband = bsets.withColumn("m", expr(sigSpark))
      .select(col("doc_id"), explode(expr("sequence(0, 3)")).as("b"), col("m"))
      .selectExpr("doc_id", s"$d37BkeySpark as bkey").ckpt
    val candIndex = bband.select(col("bkey"), col("doc_id").as("b_id"))
      .join(indexBands.select(col("bkey"), col("doc_id").as("a_id")), "bkey")
      .select("b_id", "a_id")
    val candBatch = bband.select(col("bkey"), col("doc_id").as("b_id"))
      .join(bband.select(col("bkey"), col("doc_id").as("a_id")), "bkey")
      .filter(col("a_id") < col("b_id"))
      .select("b_id", "a_id")
    val cand = candIndex.unionByName(candBatch).distinct()
    val setsAll = indexSets.unionByName(bsets)
    val matches = cand
      .join(setsAll.select(col("doc_id").as("b_id"), col("th").as("th_b")), "b_id")
      .join(setsAll.select(col("doc_id").as("a_id"), col("th").as("th_a")), "a_id")
      .withColumn("n_common", size(array_intersect(col("th_a"), col("th_b"))).cast("long"))
      .withColumn("n_a", size(col("th_a")).cast("long"))
      .withColumn("n_b", size(col("th_b")).cast("long"))
      .withColumn("jaccard",
        col("n_common").cast("double") / (col("n_a") + col("n_b") - col("n_common")))
      .filter(col("jaccard") >= 0.5)
      .groupBy("b_id")
      .agg(count(lit(1)).as("n_matches"), min(col("a_id")).as("first_match"))
    val verdicts = batch.select(col("doc_id"))
      .join(matches.withColumnRenamed("b_id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("n_matches").isNull, 1L).otherwise(0L).as("admitted"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        col("first_match"))
    (verdicts, bsets, bband)
  }

  /** The d37 admission fixpoint as a reusable CTE chain ending at
    * `m(b_id, n_matches, first_match)` — shared by the d37 oracle and
    * the x126 incremental-manifest oracle so "the admission verdict" is
    * one SQL definition. */
  private[operators] def d37OracleCtes: String =
    s"""$duckShingles,
        $duckHashedShingles,
        cex AS (SELECT doc_id, unnest(th) AS h FROM hs0 WHERE doc_id % $d37BatchMod <> 0),
        hot AS (SELECT h FROM (SELECT h, COUNT(*) AS df FROM cex GROUP BY h)
                WHERE df > $MaxShingleDf),
        ex2 AS (SELECT e.doc_id, e.h
                FROM (SELECT doc_id, unnest(th) AS h FROM hs0) e
                WHERE e.h NOT IN (SELECT h FROM hot)),
        sh2 AS (SELECT doc_id, list(h) AS th FROM ex2 GROUP BY doc_id),
        sig AS (SELECT doc_id, $sigDuck AS m FROM sh2),
        band AS (SELECT doc_id, CAST(b AS VARCHAR) || ':' || m[b*3+1]::VARCHAR
                   || ',' || m[b*3+2]::VARCHAR || ',' || m[b*3+3]::VARCHAR AS bkey
                 FROM sig, range(0, 4) r(b)),
        cand AS (SELECT DISTINCT n.doc_id AS b_id, o.doc_id AS a_id
                 FROM band n JOIN band o ON n.bkey = o.bkey
                 WHERE n.doc_id % $d37BatchMod = 0
                   AND (o.doc_id % $d37BatchMod <> 0 OR o.doc_id < n.doc_id)),
        v AS (SELECT b_id, a_id,
                     CAST(len(list_intersect(sb.th, sa.th)) AS BIGINT) AS n_common,
                     CAST(len(sb.th) AS BIGINT) AS n_b,
                     CAST(len(sa.th) AS BIGINT) AS n_a
              FROM cand JOIN sh2 sb ON b_id = sb.doc_id
                        JOIN sh2 sa ON a_id = sa.doc_id),
        m AS (SELECT b_id, COUNT(*) AS n_matches, MIN(a_id) AS first_match
              FROM v WHERE CAST(n_common AS DOUBLE) / (n_a + n_b - n_common) >= 0.5
              GROUP BY b_id)"""

  private def d37OracleSql: String =
    s"""WITH $d37OracleCtes
        SELECT d.doc_id,
               CAST(CASE WHEN m.b_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS admitted,
               COALESCE(m.n_matches, 0) AS n_matches, m.first_match
        FROM (SELECT doc_id FROM documents WHERE doc_id % $d37BatchMod = 0) d
        LEFT JOIN m ON d.doc_id = m.b_id
        ORDER BY d.doc_id"""

  /** d38 knobs: blocking-key length, block-size cap (the hot-block analog
    * of [[MaxShingleDf]] — mass-identical prefixes are d26's job), and
    * the edit-distance acceptance threshold. */
  private val EditBlockLen = 40
  private val EditMaxBlock = 64
  private val EditMaxDist = 10

  /** d38: blocked EDIT-DISTANCE dedup — the record-linkage classic, the
    * character-level family none of the set-similarity tiers (d27/d28
    * shingles, d29/d30 SimHash) covers: detect pairs within
    * [[EditMaxDist]] Levenshtein edits of each other. All-pairs
    * Levenshtein is O(N²·L²) — dead twice over — so candidates come from
    * BLOCKING: two keys per doc, the first and last [[EditBlockLen]]
    * characters. A pair at distance ≤ K differs in at most K positions,
    * so with K < EditBlockLen an edit run inside the prefix leaves the
    * suffix identical and vice versa — a pair can only evade BOTH blocks
    * if edits hit both ends, the documented residual miss (three-key
    * middle blocking closes it at +50% key cost). Blocks over
    * [[EditMaxBlock]] members are dropped before the self-join (the
    * hot-block cap: a 10k-identical-prefix cluster is exact-dup
    * territory, d26's job — the cap is what keeps the join
    * sub-quadratic), then ONLY block-colliding candidates pay the exact
    * Levenshtein verify — Spark-side with the threshold early-exit form,
    * values on kept rows identical to the oracle's unbounded
    * levenshtein(). Docs shorter than EditBlockLen sit below the edit
    * resolution and are excluded by contract (identically in both
    * dialects). */
  val d38EditdistDedup = Q(
    "d38_editdist_dedup",
    s"""WITH d AS (SELECT doc_id, text, length(text) AS len FROM documents
                   WHERE length(text) >= $EditBlockLen),
        k AS (SELECT doc_id, 0 AS side, md5(substring(text, 1, $EditBlockLen)) AS bk FROM d
              UNION ALL
              SELECT doc_id, 1, md5(substring(text, len - ${EditBlockLen - 1}, $EditBlockLen))
              FROM d),
        sz AS (SELECT side, bk, COUNT(*) AS n FROM k GROUP BY side, bk),
        k2 AS (SELECT k.* FROM k JOIN sz ON k.side = sz.side AND k.bk = sz.bk
               WHERE sz.n <= $EditMaxBlock),
        cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
                 FROM k2 a JOIN k2 b ON a.side = b.side AND a.bk = b.bk
                                    AND a.doc_id < b.doc_id),
        v AS (SELECT a_id, b_id, levenshtein(da.text, db.text) AS lev
              FROM cand JOIN d da ON a_id = da.doc_id JOIN d db ON b_id = db.doc_id)
        SELECT a_id, b_id, CAST(lev AS BIGINT) AS lev
        FROM v WHERE lev <= $EditMaxDist ORDER BY a_id, b_id""") { (spark, dir) =>
    val d = T(spark, dir, "documents")
      .filter(length(col("text")) >= EditBlockLen)
      .select(col("doc_id"), col("text"), length(col("text")).as("len"))
      .ckpt
    val k = d.select(col("doc_id"), lit(0).as("side"),
        md5(substring(col("text"), 1, EditBlockLen).cast("binary")).as("bk"))
      .unionByName(d.select(col("doc_id"), lit(1).as("side"),
        md5(expr(s"substring(text, len - ${EditBlockLen - 1}, $EditBlockLen)")
          .cast("binary")).as("bk")))
    val sz = k.groupBy("side", "bk").agg(count(lit(1)).as("n"))
    val k2 = k.join(sz.filter(col("n") <= EditMaxBlock), Seq("side", "bk"))
      .select("doc_id", "side", "bk")
    val cand = k2.select(col("side"), col("bk"), col("doc_id").as("a_id"))
      .join(k2.select(col("side").as("s2"), col("bk").as("bk2"),
        col("doc_id").as("b_id")),
        col("side") === col("s2") && col("bk") === col("bk2")
          && col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
    cand
      .join(d.select(col("doc_id").as("a_id"), col("text").as("ta")), "a_id")
      .join(d.select(col("doc_id").as("b_id"), col("text").as("tb")), "b_id")
      // threshold form: early-exits above EditMaxDist (returns -1 there);
      // kept rows carry the identical distance the oracle computes
      .withColumn("lev", levenshtein(col("ta"), col("tb"), EditMaxDist).cast("long"))
      .filter(col("lev") >= 0 && col("lev") <= EditMaxDist)
      .select("a_id", "b_id", "lev")
      .orderBy("a_id", "b_id")
  }

  /** d39: BEST-COPY keeper selection — one keeper per near-dup cluster
    * chosen by CONTENT QUALITY, not by id. d34 keeps the min doc_id (the
    * arbitrary-but-deterministic convention); real curation keeps the
    * best copy: the cluster member with the most tokens (the least
    * truncated/boilerplate-stripped variant), doc_id ascending as the
    * tie-break. Composes two oracle-checked formulas — d34's components
    * and t21's whitespace token count — via one per-cluster argmax.
    *
    * Scale: the token count is map-only over cluster MEMBERS (pair
    * participants, ≪ corpus); the argmax is a rank-1 window per
    * component — map-side WindowGroupLimit, and component sizes are
    * bounded by the d28 cap upstream (the 10k-dup cluster never forms).
    * Output is one row per cluster. */
  val d39BestKeeper = Q(
    "d39_best_keeper",
    s"""WITH RECURSIVE $duckNearDupPairs,
        ${duckComponents("pairs")},
        m AS (SELECT c.doc_id, c.component,
                     CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens
              FROM comp c JOIN documents d ON c.doc_id = d.doc_id),
        r AS (SELECT component, doc_id, n_tokens,
                     COUNT(*) OVER (PARTITION BY component) AS n_members,
                     ROW_NUMBER() OVER (PARTITION BY component
                       ORDER BY n_tokens DESC, doc_id) AS rnk
              FROM m)
        SELECT component, doc_id AS keeper_id, n_tokens AS keeper_tokens,
               CAST(n_members AS BIGINT) AS n_members
        FROM r WHERE rnk = 1 ORDER BY component""") { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val comp = nearDupComponents(spark, dir).select("doc_id", "component")
    val toks = T(spark, dir, "documents")
      .select(col("doc_id"), expr("cast(size(split(text, ' ')) as bigint)").as("n_tokens"))
    val byComp = Window.partitionBy(col("component"))
    comp.join(toks, "doc_id")
      .withColumn("n_members", count(lit(1)).over(byComp))
      .withColumn("rnk", row_number().over(
        byComp.orderBy(col("n_tokens").desc, col("doc_id"))))
      .filter(col("rnk") === 1)
      .select(col("component"), col("doc_id").as("keeper_id"),
        col("n_tokens").as("keeper_tokens"), col("n_members"))
      .orderBy("component")
  }

  /** The shared d43 arithmetic — ONE string parsed by BOTH engines, so
    * every multiply happens in the same IEEE order and the doubles are
    * bit-identical (pow() is NOT correctly-rounded and may differ per
    * engine; explicit association is): p_band = s^r unrolled per r,
    * p_detect = 1 - (1-p_band)^b unrolled per b. */
  private val d43Select =
    """SELECT CAST(b AS BIGINT) AS b, CAST(r AS BIGINT) AS r,
              CAST(i * 5 AS BIGINT) AS s_pct,
              CASE r WHEN 2 THEN s * s
                     WHEN 3 THEN (s * s) * s
                     ELSE ((s * s) * s) * ((s * s) * s) END AS p_band,
              CASE b WHEN 2 THEN 1.0 - (q(r, s) * q(r, s))
                     WHEN 4 THEN 1.0 - ((q(r, s) * q(r, s)) * (q(r, s) * q(r, s)))
                     ELSE 1.0 - (((q(r, s) * q(r, s)) * (q(r, s) * q(r, s)))
                               * ((q(r, s) * q(r, s)) * (q(r, s) * q(r, s)))) END
                AS p_detect"""

  /** d43: LSH PARAMETER PLANNER — the detection-probability table behind
    * the engine's banding choice: for each candidate (bands b, rows r)
    * config and each Jaccard level s, the band-collision probability
    * s^r and the any-band detection probability 1 − (1−s^r)^b — the
    * S-curve a dedup designer reads to pick the b/r that catches
    * s ≥ 0.5 pairs while starving s ≤ 0.2 noise (the production config
    * b=4, r=3 sits in the table beside its alternatives; d41 then
    * CALIBRATES the chosen estimator against real pairs — d43 plans,
    * d41 audits). Pure closed form: a 3-config × 20-level grid, zero
    * data touched; both dialects share the literal arithmetic string so
    * the doubles hash-match (no pow(), explicit multiply association). */
  val d43LshPlanner = Q(
    "d43_lsh_planner",
    s"""WITH cfg(b, r) AS (VALUES (2, 6), (4, 3), (8, 2)),
        lv AS (SELECT i, CAST(i AS DOUBLE) / 20.0 AS s
               FROM range(1, 21) t(i)),
        g AS (SELECT b, r, i, s FROM cfg, lv)
        ${d43Select.replace("q(r, s)",
          "(1.0 - (CASE r WHEN 2 THEN s * s WHEN 3 THEN (s * s) * s " +
            "ELSE ((s * s) * s) * ((s * s) * s) END))")}
        FROM g ORDER BY b, r, s_pct""") { (spark, dir) =>
    val cfg = spark.sql("SELECT * FROM VALUES (2, 6), (4, 3), (8, 2) AS cfg(b, r)")
    val lv = spark.range(1, 21).selectExpr("cast(id as int) as i",
      "cast(id as double) / 20.0 as s")
    Views.sql(spark, "d43_g" -> cfg.crossJoin(lv))(
      s"""${d43Select.replace("q(r, s)",
           "(1.0 - (CASE r WHEN 2 THEN s * s WHEN 3 THEN (s * s) * s " +
             "ELSE ((s * s) * s) * ((s * s) * s) END))")}
         FROM d43_g ORDER BY b, r, s_pct""")
  }

  /** d45: FINGERPRINT COLLISION audit — is t25's cheap order-sensitive
    * poly hash (mod 1e9+7) safe as a dedup key? Per corpus: doc count,
    * distinct exact content hashes (md5, the truth), distinct poly
    * fingerprints, and the number of CONTENT-DISTINCT documents whose
    * poly fingerprint collides with a different content (the unsafe
    * event: a cheap-key dedup would wrongly merge them). On clean data
    * collisions should be 0 — but the audit is the evidence, not the
    * assumption (birthday bound at 1e9+7 bites around ~3·10⁴ distinct
    * texts: at 100 TB you MUST see this number before trusting the
    * cheap key, and it tells you to widen the modulus). Two counting
    * aggregations over (md5, poly) pairs — no joins, no text shuffled. */
  val d45FingerprintAudit = Q(
    "d45_fingerprint_audit",
    s"""WITH fp AS (SELECT md5(text) AS h,
                list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform(string_split(text, ' '), x -> ${H.d("x")} % 1000000007)),
                  (acc, v) -> (acc * 31 + v) % 1000000007) AS poly
               FROM documents),
        u AS (SELECT DISTINCT h, poly FROM fp),
        pc AS (SELECT poly, COUNT(*) AS n_contents FROM u GROUP BY poly)
        SELECT CAST((SELECT COUNT(*) FROM fp) AS BIGINT) AS n_docs,
               CAST((SELECT COUNT(*) FROM u) AS BIGINT) AS n_distinct_content,
               CAST(COUNT(*) AS BIGINT) AS n_distinct_poly,
               CAST(SUM(CASE WHEN n_contents > 1 THEN n_contents ELSE 0 END) AS BIGINT)
                 AS n_colliding_contents
        FROM pc""") { (spark, dir) =>
    val fp = T(spark, dir, "documents").selectExpr(
      "md5(text) as h",
      s"aggregate(transform(split(text, ' '), x -> ${H.s("x")} % 1000000007)," +
        s" cast(0 as bigint), (acc, v) -> (acc * 31 + v) % 1000000007) as poly")
      .ckpt
    val u = fp.select("h", "poly").distinct().ckpt
    val pc = u.groupBy("poly").agg(count(lit(1)).as("n_contents"))
    pc.agg(count(lit(1)).as("n_distinct_poly"),
        sum(when(col("n_contents") > 1, col("n_contents")).otherwise(0L))
          .as("n_colliding_contents"))
      .crossJoin(broadcast(fp.agg(count(lit(1)).as("n_docs"))))
      .crossJoin(broadcast(u.agg(count(lit(1)).as("n_distinct_content"))))
      .select("n_docs", "n_distinct_content", "n_distinct_poly",
        "n_colliding_contents")
  }

  /** d46: PREFIX-FILTERING set-similarity join (AllPairs/PPJoin) — the
    * third exact-Jaccard candidate strategy beside d27's full inverted
    * index and d28's LSH: order every doc's (capped) shingles by GLOBAL
    * rarity (df ASC, h ASC) and index only each doc's first
    * n − ⌈t·n⌉ + 1 shingles. Completeness is the classic prefix-filter
    * lemma: for any pair with J ≥ t, the globally-smallest COMMON
    * shingle must sit inside BOTH prefixes (if it missed x's prefix,
    * every common shingle would live in x's suffix of size ⌈t·n⌉ − 1 <
    * t·n ≤ |∩| — contradiction), so the prefix-to-prefix equi-join
    * loses nothing; Dedup spec pins d46's rows EQUAL to d27's.
    * Scale: the index halves per doc at t = 0.5 and, more importantly,
    * candidates form only through RARE shingles (each prefix token's
    * pairs ≤ its df² / 2 ≤ cap²/2 — the frequent tokens that dominate
    * d27's runs never enter the index); verification then touches only
    * surviving candidate pairs. */
  val d46PrefixJoin = Q(
    "d46_prefix_join",
    s"""WITH $duckShingles,
        $duckCappedSets,
        sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM ex2 GROUP BY doc_id),
        rk AS (SELECT ex2.doc_id, ex2.h,
                      ROW_NUMBER() OVER (PARTITION BY ex2.doc_id
                        ORDER BY dfreq.df, ex2.h) AS rnk
               FROM ex2 JOIN dfreq ON ex2.h = dfreq.h),
        pref AS (SELECT rk.doc_id, rk.h FROM rk JOIN sz ON rk.doc_id = sz.doc_id
                 WHERE rk.rnk <= sz.n_sh - ((sz.n_sh + 1) // 2) + 1),
        cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
                 FROM pref a JOIN pref b ON a.h = b.h AND a.doc_id < b.doc_id),
        pairs AS (SELECT c.a_id, c.b_id, COUNT(*) AS n_common
                  FROM cand c JOIN ex2 ea ON ea.doc_id = c.a_id
                              JOIN ex2 eb ON eb.doc_id = c.b_id AND eb.h = ea.h
                  GROUP BY 1, 2)
        $duckJaccardRows""") { (spark, dir) =>
    // r12 optimization — verification via per-doc capped ARRAYS (the
    // d28/lshVerifiedPairs idiom) instead of re-joining the exploded
    // index per candidate: the old tail was cand ⋈ ex(a) ⋈ ex(b,h) →
    // groupBy(pair) → 2 sz joins — five exchanges carrying
    // candidate×shingle exploded rows. Now ONE regroup of the checkpointed
    // index into (doc_id, th) feeds two doc-keyed joins and the
    // intersect/sizes are map-side; n_common = |array_intersect| over
    // distinct-per-doc sets is exactly the oracle's COUNT(*) on matched
    // h. Candidate GENERATION (the prefix-filter index) is unchanged —
    // that is the operator.
    val hs = shingleHashes(spark, dir).ckpt
    val ex = cappedShingleIndex(hs).ckpt
    val dfreq = ex.groupBy("h").agg(count(lit(1)).as("df"))
    val sets = ex.groupBy("doc_id").agg(collect_list(col("h")).as("th")).ckpt
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("df"), col("h"))
    val pref = ex.join(dfreq, "h")
      .withColumn("rnk", row_number().over(wDoc))
      .join(sets.select(col("doc_id"), size(col("th")).as("n_sh")), "doc_id")
      .filter(col("rnk") <= expr("n_sh - ((n_sh + 1) div 2) + 1"))
      .select("doc_id", "h")
    val cand = pref.as("a")
      .join(pref.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
    verifiedPairs(cand, sets)
      .select("a_id", "b_id", "n_common", "n_a", "n_b", "jaccard")
      .orderBy("a_id", "b_id")
  }

  /** x122: duplication-aware SAMPLING WEIGHTS — every document weighted
    * 1/|its near-dup cluster| in integer ppm (1,000,000 for docs in no
    * cluster): the loss/sampling de-biasing a pretraining mix applies
    * when it keeps duplicates instead of dropping them (each cluster
    * contributes ~one document's worth of mass however many copies
    * exist — the soft alternative to d39's hard keeper choice). The
    * clusters are [[d34DedupComponents]]'s graph verbatim (same shared
    * CTE chain in the oracle, same [[connectedComponents]] kernel), so
    * the two disciplines cannot drift.
    *
    * Scale: everything is d34's bounded machinery (capped pair graph,
    * O(log n) HashMin rounds) plus ONE left join of the corpus against
    * the component table (participants only — bounded by verified-pair
    * endpoints, usually ≪ corpus) and a map-side ppm projection. */
  val x122DupWeights = Q(
    "x122_dup_weights",
    s"""WITH RECURSIVE $duckNearDupPairs,
        ${duckComponents("pairs")},
        sz AS (SELECT component, COUNT(*) AS n_members FROM comp GROUP BY component)
        SELECT d.doc_id,
               CAST(COALESCE(GREATEST(1000000 // s.n_members, 1), 1000000) AS BIGINT)
                 AS weight_ppm
        FROM documents d
        LEFT JOIN comp c ON d.doc_id = c.doc_id
        LEFT JOIN sz s ON c.component = s.component
        ORDER BY d.doc_id""") { (spark, dir) =>
    val comp = nearDupComponents(spark, dir)
    T(spark, dir, "documents").select(col("doc_id"))
      .join(comp.select(col("doc_id"), col("n_members")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(expr("greatest(1000000 div n_members, 1)"), lit(1000000L))
          .as("weight_ppm"))
      .orderBy("doc_id")
  }

  /** x123: CONTRASTIVE TRIPLET MINING — (anchor, positive, negative)
    * training examples for an embedding/retrieval model, mined from the
    * corpus itself: the positive is the anchor's hash-ranked first
    * verified near-duplicate (d28's capped MinHash-LSH pairs — real
    * "same content, different surface" pairs, not synthetic
    * augmentation), the negative is the document sitting diametrically
    * opposite the anchor in x99's deterministic global shuffle order
    * (gidx + N/2 mod N — a uniform pick that both engines compute
    * bit-identically, no `rand()`), with accidental positives dropped
    * by an anti-join against the verified-pair set.
    *
    * Scale: anchors are bounded by verified-pair endpoints (≪ corpus);
    * the positive choice is one window over the capped pair set; the
    * negative lookup is two participant-bounded probe joins against the
    * bucket-parallel global index (the small side broadcasts under
    * AQE); the guard is one anti-join against the capped pairs. No
    * stage touches doc×doc. */
  val x123ContrastivePairs = Q(
    "x123_contrastive_pairs",
    s"""WITH $duckNearDupPairs,
        sym AS (SELECT a_id AS anchor_id, b_id AS cand FROM pairs
                UNION ALL SELECT b_id, a_id FROM pairs),
        pos AS (SELECT anchor_id, cand AS pos_id FROM (
                  SELECT anchor_id, cand,
                         ROW_NUMBER() OVER (PARTITION BY anchor_id
                           ORDER BY ${H.d("CAST(cand AS VARCHAR)")}, cand) AS rn
                  FROM sym) WHERE rn = 1),
        gi AS (SELECT doc_id,
                      ROW_NUMBER() OVER (ORDER BY ${H.d("text")}, doc_id) AS gidx
               FROM documents),
        nn AS (SELECT COUNT(*) AS n_docs FROM documents),
        trip AS (SELECT p.anchor_id, p.pos_id, g2.doc_id AS neg_id
                 FROM pos p
                 JOIN gi g1 ON p.anchor_id = g1.doc_id
                 CROSS JOIN nn
                 JOIN gi g2 ON g2.gidx = 1 + (g1.gidx - 1 + n_docs // 2) % n_docs)
        SELECT anchor_id, pos_id, neg_id
        FROM trip t
        WHERE t.neg_id <> t.anchor_id AND t.neg_id <> t.pos_id
          AND NOT EXISTS (SELECT 1 FROM pairs q
                          WHERE (q.a_id = t.anchor_id AND q.b_id = t.neg_id)
                             OR (q.b_id = t.anchor_id AND q.a_id = t.neg_id))
        ORDER BY anchor_id""") { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val pairs = nearDupPairs(spark, dir).select("a_id", "b_id").ckpt
    val sym = pairs.select(col("a_id").as("anchor_id"), col("b_id").as("cand"))
      .unionAll(pairs.select(col("b_id").as("anchor_id"), col("a_id").as("cand")))
    val w = Window.partitionBy(col("anchor_id"))
      .orderBy(expr(H.s("cast(cand as string)")), col("cand"))
    val pos = sym.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("anchor_id"), col("cand").as("pos_id"))
    val gi = Pipeline.globalIndexFrame(spark, dir)
      .select(col("doc_id"), col("global_idx"))
    val nDocs = gi.groupBy().agg(count(lit(1)).as("n_docs"))
    val trip = pos
      .join(gi.select(col("doc_id").as("anchor_id"), col("global_idx").as("a_idx")),
        Seq("anchor_id"))
      .crossJoin(broadcast(nDocs))
      .withColumn("neg_idx",
        lit(1L) + (col("a_idx") - 1 + expr("n_docs div 2")) % col("n_docs"))
      .join(gi.select(col("doc_id").as("neg_id"), col("global_idx").as("n_idx")),
        col("neg_idx") === col("n_idx"))
      .select("anchor_id", "pos_id", "neg_id")
    trip
      .filter(col("neg_id") =!= col("anchor_id") && col("neg_id") =!= col("pos_id"))
      .join(pairs.select(col("a_id").as("anchor_id"), col("b_id").as("neg_id"))
        .unionAll(pairs.select(col("b_id").as("anchor_id"), col("a_id").as("neg_id"))),
        Seq("anchor_id", "neg_id"), "left_anti")
      .orderBy("anchor_id")
  }

  /** d47 line segmentation width (words per line) and the corpus
    * document-frequency above which a line is boilerplate. The synthetic
    * corpus has no newlines, so "lines" are deterministic 8-word
    * segments — the same fixed-window segmentation both engines can
    * mirror exactly; on real web text the splitter is `split(text,
    * '\n')` and everything downstream is unchanged. */
  private val LineW = 8
  private[graft] val LineDfMax = 2

  /** d47: LINE-LEVEL dedup (CCNet/RefinedWeb-style) — remove duplicated
    * boilerplate LINES from within surviving documents, the granularity
    * real web-corpus curation leads with (nav bars, cookie banners,
    * footers repeat across docs whose bodies are unique — doc-level d26
    * keeps them, span-level d36 reports them; d47 REWRITES them out).
    * A line occurring in more than [[LineDfMax]] distinct documents is
    * boilerplate; every document is re-emitted with its boilerplate
    * lines dropped and the remainder stitched back in order, plus the
    * line counts an audit wants.
    *
    * Scale: map-side segmentation (one corpus scan), the line-df
    * aggregation is partial+final on the md5 LINE HASH (16-byte keys,
    * never line text, shuffled), the boilerplate filter is a keyed
    * left-anti join on that hash, and the rebuild regroups each doc's
    * own lines — every stage keyed, nothing quadratic, a 10k-×
    * duplicated line is just a hot count cell (SkewBench admits the
    * hostile corpus). Order is restored by the in-doc line index, so
    * the rebuild is deterministic in both engines. */
  val d47LineDedup = Q(
    "d47_line_dedup",
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        ix AS (SELECT doc_id, ws,
                      unnest(range(0, ((len(ws) - 1) // $LineW) + 1)) AS i
               FROM w),
        l AS (SELECT doc_id, i,
                     array_to_string(ws[i*$LineW+1 : i*$LineW+$LineW], ' ') AS line
              FROM ix),
        lh AS (SELECT doc_id, i, line, md5(line) AS h FROM l),
        b AS (SELECT h FROM (SELECT h, COUNT(DISTINCT doc_id) AS df
                             FROM lh GROUP BY h)
              WHERE df > $LineDfMax),
        k AS (SELECT * FROM lh WHERE h NOT IN (SELECT h FROM b)),
        a AS (SELECT doc_id, COUNT(*) AS n_kept,
                     string_agg(line, ' ' ORDER BY i) AS text_kept
              FROM k GROUP BY doc_id),
        n AS (SELECT doc_id, COUNT(*) AS n_lines FROM lh GROUP BY doc_id)
        SELECT n.doc_id, CAST(n.n_lines AS BIGINT) AS n_lines,
               CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_kept,
               COALESCE(a.text_kept, '') AS text_kept
        FROM n LEFT JOIN a ON n.doc_id = a.doc_id
        ORDER BY n.doc_id""") { (spark, dir) =>
    val lines = lineOccurrences(T(spark, dir, "documents"))
    val boiler = lineDf(lines).filter(col("df") > LineDfMax).select("h")
    rewriteLines(lines, boiler).orderBy("doc_id")
  }

  /** d47's line segmentation over a (doc_id, text) frame — (doc_id, i,
    * line, h) rows, shared with the streaming maintainer
    * ([[graft.streaming.StreamOps.LineDedupMaintainer]]). */
  private[graft] def lineOccurrences(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, (size(ws) - 1) div $LineW), " +
          s"i -> array_join(slice(ws, i * $LineW + 1, $LineW), ' '))")))
      .select(col("doc_id"), col("pos").as("i"), col("col").as("line"),
        md5(col("col").cast("binary")).as("h"))

  /** Distinct-doc frequency per line hash — the mergeable line-df model
    * (each document arrives once, so per-batch distinct counts SUM). */
  private[graft] def lineDf(lines: DataFrame): DataFrame =
    lines.groupBy("h").agg(countDistinct(col("doc_id")).as("df"))

  /** d47's rewrite tail: drop boilerplate lines, stitch survivors in
    * order, emit audit counts — ONE definition for batch and stream. */
  private[graft] def rewriteLines(lines: DataFrame,
      boiler: DataFrame): DataFrame = {
    val kept = lines.join(boiler, Seq("h"), "left_anti")
    val rebuilt = kept.groupBy("doc_id").agg(
      count(lit(1)).as("n_kept"),
      expr("array_join(transform(array_sort(collect_list(struct(i, line))), " +
        "s -> s.line), ' ')").as("text_kept"))
    lines.groupBy("doc_id").agg(count(lit(1)).as("n_lines"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_kept"), lit("")).as("text_kept"))
  }

  val all: Seq[Q] = Seq(d26ExactDedup, d27NgramJaccard, d40Containment, d28MinhashLsh,
    d41MinhashCalibration, d43LshPlanner, d45FingerprintAudit, d46PrefixJoin,
    d29Simhash, d30SimhashPairs, d31EmbeddingNeardup, d33EmbeddingNeardupLsh,
    d34DedupComponents, d35ComponentsStar, d36DuplicateSpans,
    d37IncrementalDedup, d38EditdistDedup, d39BestKeeper, x122DupWeights,
    x123ContrastivePairs, d47LineDedup)
}

/** Cosine similarity as an identical sequential double fold in both SQL
  * dialects — bit-equal results, so the oracle can compare raw doubles.
  * The Spark hot paths use the native codegen'd [[graft.functions.ArrayDot]]
  * (same fold order, whole-stage codegen); the higher-order-function string
  * forms remain for SQL-dialect parity and specs. */
object Cosine {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.sqrt

  /** Native codegen'd dot — bit-equal to [[sparkDot]]/[[duckDot]]. */
  def dot(a: Column, b: Column): Column = graft.functions.ArrayDot(a, b)
  /** Native norm: sqrt(dot(v, v)) — the same acc + x*x fold as
    * [[sparkNorm]]/[[duckNorm]]. */
  def norm(a: Column): Column = sqrt(dot(a, a))
  def sparkDot(a: String, b: String): String =
    s"aggregate(zip_with($a, $b, (x, y) -> x * y), cast(0 as double), (acc, t) -> acc + t)"
  def sparkNorm(a: String): String =
    s"sqrt(aggregate($a, cast(0 as double), (acc, x) -> acc + x * x))"
  def spark(a: String, b: String): String =
    s"${sparkDot(a, b)} / (${sparkNorm(a)} * ${sparkNorm(b)})"
  def duckDot(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, len($a)+1), i -> $a[i] * $b[i])), (acc, t) -> acc + t)"
  def duckNorm(a: String): String =
    s"sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, len($a)+1), i -> $a[i] * $a[i])), (acc, t) -> acc + t))"
  def duck(a: String, b: String): String =
    s"${duckDot(a, b)} / (${duckNorm(a)} * ${duckNorm(b)})"
}
