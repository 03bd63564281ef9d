package graft.operators

import org.apache.spark.sql.functions._
import Ckpt.Reuse

/** Multimodal-column plumbing (SURVEY.md §2 Part B, LLM-pipeline
  * extensions): media travels as opaque `binary` columns with typed
  * metadata; decode / feature-extraction runs batched per partition.
  *
  * The container has no image/audio codecs, so the decode itself is a
  * deterministic stub ([[graft.multimodal.StubImageCodec]]) — but the
  * Spark-side plumbing is real: binary column + metadata schema, typed
  * `Dataset` pipeline, per-partition batched execution (the JVM analogue of
  * `mapInPandas` batch shape), and the oracle checks every derived value.
  * Swapping in a real codec changes one class, no plan changes.
  *
  * Scale posture: pure map-side work — no shuffle, no driver collection;
  * batches bound memory per task regardless of blob size skew.
  */
object Multimodal {

  /** Binary ingestion + metadata + stub decode features, oracle-checked.
    * The Spark side runs the typed mapPartitions pipeline in
    * [[graft.multimodal.MediaPipeline]]; the oracle recomputes the same
    * deterministic features in SQL. */
  val m41BinaryFeatures = Q(
    "m41_binary_features",
    s"""SELECT doc_id,
        CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        md5(text) AS content_md5,
        (${H.d("text")} % 640) + 1 AS width,
        (${H.d("reverse(text)")} % 480) + 1 AS height,
        (${H.d("text")} // 7) % 256 AS mean_px,
        CAST(octet_length(encode(text)) AS BIGINT) // 100 + 1 AS n_frames
        FROM documents ORDER BY doc_id""") { (spark, dir) =>
    graft.multimodal.MediaPipeline
      .extractFeatures(spark, T(spark, dir, "documents"))
      .orderBy("doc_id")
  }

  /** Frame sampling: one row per sampled frame (≤ 5) with per-frame stub
    * features — the video-pipeline shape (blob in, N frame rows out,
    * executor-side explode inside the batched decode). */
  val m42FrameSample = Q(
    "m42_frame_sample",
    s"""WITH f AS (SELECT doc_id,
          CAST(octet_length(encode(text)) AS BIGINT) // 100 + 1 AS n_frames,
          ${H.d("text")} AS h FROM documents),
        x AS (SELECT doc_id, n_frames, h, unnest(range(0,
                CASE WHEN n_frames < 5 THEN n_frames ELSE 5 END)) AS frame_idx
              FROM f)
        SELECT doc_id, frame_idx,
               (h * 31 + frame_idx) % 1000000007 AS frame_hash,
               ((h * 31 + frame_idx) % 1000000007) % 256 AS brightness
        FROM x ORDER BY doc_id, frame_idx""") { (spark, dir) =>
    graft.multimodal.MediaPipeline
      .sampleFrames(spark, T(spark, dir, "documents"))
      .orderBy("doc_id", "frame_idx")
  }

  /** Resize planning: fit the longest side to 224 px, integer math only
    * (deterministic across engines — no float scale factor). */
  val m43ResizePlan = Q(
    "m43_resize_plan",
    s"""WITH f AS (SELECT doc_id,
          (${H.d("text")} % 640) + 1 AS width,
          (${H.d("reverse(text)")} % 480) + 1 AS height FROM documents)
        SELECT doc_id, width, height,
          width * 224 // (CASE WHEN width > height THEN width ELSE height END) AS out_w,
          height * 224 // (CASE WHEN width > height THEN width ELSE height END) AS out_h
        FROM f ORDER BY doc_id""") { (spark, dir) =>
    graft.multimodal.MediaPipeline
      .resizePlan(spark, T(spark, dir, "documents"))
      .orderBy("doc_id")
  }

  /** JVM kernel for the media phash at `bits` bits (32: [[m44MediaNeardup]]
    * and [[m46MediaComponents]]; 56: [[m49MediaComponentsScalable]] and
    * [[m50MediaBestKeeper]]): one pass per blob — slide the 4-byte window,
    * hash each gram ([[H.jvm]] at the same width, the derivation of
    * `H.s`/`H.d`), vote the bits incrementally, emit the majority phash.
    * The SURVEY §7.3 tier (d) escape, same precedent as
    * `Dedup.shingleHashKernel`: ~2.3M interpreted substring+md5+conv
    * expression evaluations at sf0.1 become one tight loop (bench 5.8 →
    * sub-second). DedupSpec pins each width bit-equal to
    * [[phashExprForm]] (which the oracles mirror in SQL). Contract: gram
    * positions count Java chars — identical to the SQL dialects on the
    * corpus (ASCII stub bytes); a real binary codec feeds raw bytes here
    * and the question disappears.
    *
    * A Map from width to kernel, so each width's kernel is one stable
    * function value: every MapPartitions plan over it canonicalizes equal
    * (see `Dedup.shingleHashKernel`). */
  private[operators] val phashKernel: Map[Int, Iterator[(Long, String)] => Iterator[(Long, Long)]] =
    Seq(32, 56).map(bits => bits -> phashVote(bits)).toMap

  private def phashVote(bits: Int): Iterator[(Long, String)] => Iterator[(Long, Long)] =
    it => {
      val md5 = java.security.MessageDigest.getInstance("MD5")
      val memo = new GramMemo(g => H.jvm(g, md5, bits))
      it.map { case (id, text) =>
        val votes = new Array[Int](bits)
        var n = 0
        var i = 0
        val L = text.length
        while (i + 4 <= L) {
          var h = memo(text.substring(i, i + 4))
          // iterate SET bits only (vote semantics unchanged — a clear bit
          // never votes); ~half the inner-loop iterations, branch-free
          while (h != 0L) {
            votes(java.lang.Long.numberOfTrailingZeros(h)) += 1
            h &= h - 1
          }
          n += 1
          i += 1
        }
        var ph = 0L
        var b = 0
        while (b < bits) {
          if (2 * votes(b) > n) ph |= (1L << b)
          b += 1
        }
        (id, ph)
      }
    }

  /** Per-task gram→hash memo for [[phashKernel]] (r12 optimization,
    * guide §1.2 step 2): the 4-char sliding grams repeat heavily within
    * and across documents, so one md5 per DISTINCT gram replaces one md5
    * per POSITION — the hash VALUES are unchanged (same [[H.jvm]]
    * derivation; DedupSpec pins the kernels bit-equal to the expression
    * forms the oracles mirror). The map resets at 2^20 entries so a
    * pathological task's memo stays bounded. */
  private final class GramMemo(f: String => Long) {
    private val m = new java.util.HashMap[String, java.lang.Long](1 << 16)
    def apply(g: String): Long = {
      var v = m.get(g)
      if (v == null) {
        if (m.size >= (1 << 20)) m.clear()
        v = java.lang.Long.valueOf(f(g))
        m.put(g, v)
      }
      v.longValue
    }
  }

  /** The interpreted-expression form of the `bits`-bit phash — the
    * formula the DuckDB oracles mirror ([[duckMediaSim]]); kept as the
    * spec baseline [[phashKernel]] is pinned bit-equal to. The vote is
    * [[Dedup.simhashSparkBits]], shared with d29/d30's SimHash, so the
    * tiers cannot drift. */
  private[operators] def phashExprForm(docs: org.apache.spark.sql.DataFrame, bits: Int)
      : org.apache.spark.sql.DataFrame =
    docs
      .filter(length(col("text")) >= 4)
      .selectExpr("doc_id",
        s"transform(sequence(1, length(text) - 3), " +
          s"i -> ${H.s("substring(text, i, 4)", bits)}) as th")
      .selectExpr("doc_id", s"${Dedup.simhashSparkBits(bits)} as phash")

  /** The media sim stage: (doc_id, phash) at `bits` bits for every blob
    * of at least 4 bytes (shorter blobs have no grams and drop out by
    * contract, identically in both dialects), through [[phashKernel]],
    * checkpointed before the candidate fan-out so the pass runs once per
    * doc. Both candidate schemes read it: [[mediaPairs]] and
    * [[mediaPairs56]]. */
  private def mediaSim(spark: org.apache.spark.sql.SparkSession, dir: String,
      bits: Int): org.apache.spark.sql.DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    T(spark, dir, "documents")
      .filter(length(col("text")) >= 4)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions(phashKernel(bits))
      .toDF("doc_id", "phash")
      .ckpt
  }

  /** DuckDB dialect of [[mediaSim]]: the `th0` gram-hash and `sim`
    * (doc_id, phash) CTEs. */
  private def duckMediaSim(bits: Int) =
    s"""th0 AS (SELECT doc_id, list_transform(range(1, length(text) - 2),
                  i -> ${H.d("substring(text, CAST(i AS INTEGER), 4)", bits)}) AS th
                FROM documents WHERE length(text) >= 4),
        sim AS (SELECT doc_id, ${Dedup.duckSimVoteBits(bits)} AS phash FROM th0)"""

  /** The m44 candidate CTE chain (phash -> chunks -> verified pairs as
    * `cand(a_id, ph_a, b_id, ph_b)`), shared verbatim by the m44 oracle
    * and the m46 component oracle. */
  private def duckMediaCtes =
    s"""${duckMediaSim(32)},
        chunk AS (SELECT doc_id, phash, c,
                         (phash >> CAST(c*8 AS INTEGER)) & 255 AS cv
                  FROM sim, range(0, 4) r(c)),
        cand AS (SELECT DISTINCT a.doc_id AS a_id, a.phash AS ph_a,
                                 b.doc_id AS b_id, b.phash AS ph_b
                 FROM chunk a JOIN chunk b ON a.c = b.c AND a.cv = b.cv
                                          AND a.doc_id < b.doc_id
                 WHERE bit_count(xor(a.phash, b.phash)) <= 3)"""

  /** Spark twin of [[duckMediaCtes]]: the verified media pair list
    * (a_id, b_id, ph_a, ph_b) over the 32-bit phash, found through the
    * 8-bit-chunk pigeonhole join of [[Dedup.d30SimhashPairs]] (pairs at
    * hamming ≤ 3 share a chunk) — a chunk-equality HASH join, never
    * doc×doc. Shared by [[m44MediaNeardup]] and [[m46MediaComponents]]. */
  private[operators] def mediaPairs(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val chunk = mediaSim(spark, dir, 32)
      .select(col("doc_id"), col("phash"), explode(expr("sequence(0, 3)")).as("c"))
      .withColumn("cv", expr("shiftright(phash, c*8) & 255"))
    chunk.select(col("c"), col("cv"), col("doc_id").as("a_id"), col("phash").as("ph_a"))
      .join(chunk.select(col("c").as("c2"), col("cv").as("cv2"),
        col("doc_id").as("b_id"), col("phash").as("ph_b")),
        col("c") === col("c2") && col("cv") === col("cv2") && col("a_id") < col("b_id"))
      .filter(expr("bit_count(ph_a ^ ph_b) <= 3"))
      .select("a_id", "b_id", "ph_a", "ph_b").distinct()
  }

  /** m44: media near-dup — perceptual-hash-style duplicate detection over
    * the opaque media BYTES, the dedup tier of the multimodal story (the
    * image/video dedup every multimodal training pipeline runs; doc-level
    * text dedup never sees it). The stub "pHash" is a 32-bit SimHash over
    * the byte 4-gram multiset of the blob (here the utf-8 stub bytes —
    * with a real codec the gram source becomes decoded pixel blocks, one
    * line in the kernel, plan unchanged); pairs at hamming ≤ 3 via
    * [[mediaPairs]]. */
  val m44MediaNeardup = Q(
    "m44_media_neardup",
    s"""WITH $duckMediaCtes
        SELECT a_id, b_id, ph_a, ph_b,
               CAST(bit_count(xor(ph_a, ph_b)) AS BIGINT) AS hamming
        FROM cand ORDER BY a_id, b_id""") { (spark, dir) =>
    mediaPairs(spark, dir)
      .withColumn("hamming", expr("cast(bit_count(ph_a ^ ph_b) as bigint)"))
      .orderBy("a_id", "b_id")
  }

  /** m46: media duplicate CLUSTERS — [[m44MediaNeardup]]'s pair graph
    * closed into connected components via the same HashMin label
    * propagation d34 runs on the text tier ([[Dedup.connectedComponents]]
    * — shared code, so the media and text clustering CANNOT drift), with
    * one keeper per cluster (min doc_id). The dedup DECISION table for
    * the image/video tier: keep the keeper, drop the rest. Oracle =
    * m44's candidate CTEs + the recursive closure — two independent
    * algorithms agreeing, exactly like d34. Scale posture: pair graph
    * from the pigeonhole join (never doc×doc), then O(diameter) rounds
    * of (id, lbl) shuffles over a lineage-truncated edge list. */
  val m46MediaComponents = Q(
    "m46_media_components",
    s"""WITH RECURSIVE $duckMediaCtes,
        pairs AS (SELECT a_id, b_id FROM cand),
        ${Dedup.duckComponents("pairs")},
        ${Dedup.duckComponentRows}""") { (spark, dir) =>
    Dedup.connectedComponents(mediaPairs(spark, dir).select("a_id", "b_id"))
      .orderBy("doc_id")
  }

  /** Fingerprint geometry of the SCALABLE media tier ([[mediaPairs56]]):
    * 56-bit phash (the widest md5 prefix both SQL engines handle in
    * signed-bigint arithmetic, [[H.prefix]]), split into [[NBlocks]] blocks
    * of [[BlockBits]] bits; a pair at hamming ≤ [[Ham56]] corrupts at
    * most Ham56 blocks, so at least NBlocks − Ham56 = 5 blocks survive
    * intact — candidates are found by joining on every C(8,5) = 56
    * five-block combination (35 matched bits each). The multi-block
    * candidate-table scheme of Manku/Jain/Sarma, "Detecting
    * Near-Duplicates for Web Crawling" (WWW 2007) §3. */
  private[operators] val NBlocks = 8
  private[operators] val BlockBits = 7
  private[operators] val Ham56 = 3
  /** The 56 five-block combinations, ascending, canonical order — the
    * ONE definition both dialects' candidate tables are generated from. */
  private[operators] val combos5: Seq[Seq[Int]] =
    (0 until NBlocks).combinations(NBlocks - Ham56).map(_.toSeq).toSeq

  /** Verified media pairs at hamming ≤ [[Ham56]] on the 56-bit phash via
    * the [[combos5]] candidate tables — the scale-safe replacement for
    * [[mediaPairs]]'s single-8-bit-chunk pigeonhole. The round-9 volume
    * gauntlet (honest in-timer construction) showed the 4×256-bucket
    * chunk join generating candidates quadratically in corpus size
    * (cost_ratio 1.8 at 10×): with only 8 matched bits, every doc
    * collides with n/256 others per chunk REGARDLESS of similarity. Here
    * each candidate table matches 35 bits, so spurious collisions scale
    * n²·56/2³⁶ — negligible at any corpus this engine targets — while
    * the pigeonhole guarantee (≤3 corrupted blocks of 8 leave 5 intact)
    * keeps recall exact, not approximate. Completeness is spec-pinned
    * against brute-force hamming at sf0.001. */
  private[operators] def mediaPairs56(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val sim = mediaSim(spark, dir, 56)
    // ONE candidate key per (row, combo), combo index tagged in the high
    // bits (keys are 35 bits; << 36 keeps tables disjoint): the keys are
    // a literal 56-element array of constant-folded shift/mask
    // projections, exploded — fully whole-stage-codegen'd, replacing the
    // earlier broadcast-crossJoin(56-row combo table) + interpreted
    // `aggregate()` lambda that evaluated per (row × 56) in interpreted
    // mode and measured ~2× slower at every scale. The self-join then
    // keys on the single long.
    // every shifted term fully parenthesized: Spark SQL's << binds
    // LOOSER than +, so an unparenthesized `a << 0 + b << 7` chain
    // parses as a << (0 + b) << … — coarser (collapsed) keys stay
    // CORRECT (a superset of candidates; the hamming filter is exact)
    // but quadratic, which is how the bug was caught: 692M candidate
    // matches where DuckDB's explicit-precedence form builds 10k
    val keyExprs = combos5.zipWithIndex.map { case (bs, i) =>
      val blocks = bs.zipWithIndex.map { case (b, j) =>
        s"((shiftright(phash, ${BlockBits * b}) & ${(1 << BlockBits) - 1}) << ${BlockBits * j})"
      }.mkString(" + ")
      s"(shiftleft(cast($i as bigint), 36) + ($blocks))"
    }.mkString(", ")
    val keyed = sim
      .select(col("doc_id"), col("phash"),
        explode(expr(s"array($keyExprs)")).as("ck"))
    keyed.select(col("ck"), col("doc_id").as("a_id"), col("phash").as("ph_a"))
      .join(keyed.select(col("ck").as("ck2"),
        col("doc_id").as("b_id"), col("phash").as("ph_b")),
        col("ck") === col("ck2") && col("a_id") < col("b_id"))
      .filter(expr(s"bit_count(ph_a ^ ph_b) <= $Ham56"))
      .select("a_id", "b_id").distinct()
  }

  /** The m49 candidate CTE chain in DuckDB — 56-bit phash + the same
    * [[combos5]]-generated candidate tables (VALUES rows emitted from the
    * ONE Scala definition, so the dialects cannot drift). */
  private def duckMediaComboCtes: String = {
    val comboRows = combos5.zipWithIndex
      .map { case (bs, i) => s"($i, ${bs.mkString(", ")})" }.mkString(", ")
    val keyExpr = (0 until (NBlocks - Ham56))
      .map(j => s"(((phash >> ($BlockBits * b$j)) & ${(1 << BlockBits) - 1}) << ${BlockBits * j})")
      .mkString(" + ")
    s"""${duckMediaSim(56)},
        combo(cid, ${(0 until (NBlocks - Ham56)).map("b" + _).mkString(", ")}) AS
          (VALUES $comboRows),
        keyed AS (SELECT doc_id, phash, cid, $keyExpr AS k FROM sim, combo),
        cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
                 FROM keyed a JOIN keyed b ON a.cid = b.cid AND a.k = b.k
                                          AND a.doc_id < b.doc_id
                 WHERE bit_count(xor(a.phash, b.phash)) <= $Ham56)"""
  }

  /** m49: media duplicate clusters at SCALE — [[m46MediaComponents]]'s
    * semantics (phash near-dup graph → HashMin components → keeper per
    * cluster) rebuilt on the 56-bit fingerprint + multi-block candidate
    * tables of [[mediaPairs56]], the production tier for corpora where
    * m46's fixed-1024-bucket pigeonhole goes quadratic. Components via
    * the same shared [[Dedup.connectedComponents]]; oracle = the
    * candidate CTEs + the recursive closure, two independent algorithms
    * agreeing. This is the entry the volume gauntlet audits (m46 stays
    * contract-confined at base SF, the d30 precedent). */
  val m49MediaComponentsScalable = Q(
    "m49_media_components_scalable",
    s"""WITH RECURSIVE $duckMediaComboCtes,
        ${Dedup.duckComponents("cand")},
        ${Dedup.duckComponentRows}""") { (spark, dir) =>
    Dedup.connectedComponents(mediaPairs56(spark, dir))
      .orderBy("doc_id")
  }

  /** m50: media BEST-COPY keeper — d39's quality-argmax keeper rule
    * applied to the media tier: per m49 duplicate cluster, keep the
    * LARGEST blob (byte length as the quality proxy — for media,
    * bigger generally means less recompressed), ties to the smaller
    * id, instead of m49's arbitrary min-id representative. The
    * keeper-decision table a media pipeline acts on.
    *
    * Scale: m49's capped candidate machinery verbatim; the argmax is
    * ONE window keyed by component (rank-1 → map-side group limit) and
    * the keeper re-attach is a component-keyed join — d39's posture. */
  val m50MediaBestKeeper = Q(
    "m50_media_best_keeper",
    s"""WITH RECURSIVE $duckMediaComboCtes,
        ${Dedup.duckComponents("cand")},
        ${Dedup.duckComponentSizes},
        mem AS (SELECT c.doc_id, c.component, s.n_members,
                       CAST(octet_length(encode(d.text)) AS BIGINT) AS n_bytes
                FROM comp c JOIN sz s ON c.component = s.component
                JOIN documents d ON d.doc_id = c.doc_id),
        k AS (SELECT component, doc_id AS keeper_id FROM (
                SELECT component, doc_id,
                       ROW_NUMBER() OVER (PARTITION BY component
                         ORDER BY n_bytes DESC, doc_id) AS rnk FROM mem)
              WHERE rnk = 1)
        SELECT m.doc_id, m.component, m.n_members, m.n_bytes, k.keeper_id,
               m.doc_id = k.keeper_id AS is_best
        FROM mem m JOIN k ON m.component = k.component
        ORDER BY m.doc_id""") { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val comp = Dedup.connectedComponents(mediaPairs56(spark, dir))
      .select("doc_id", "component", "n_members")
    val bytes = T(spark, dir, "documents")
      .select(col("doc_id"), expr("octet_length(text)").cast("long").as("n_bytes"))
    val mem = comp.join(bytes, "doc_id")
    val w = Window.partitionBy(col("component"))
      .orderBy(col("n_bytes").desc, col("doc_id"))
    val kp = mem.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1)
      .select(col("component"), col("doc_id").as("keeper_id"))
    mem.join(kp, "component")
      .select(col("doc_id"), col("component"), col("n_members"),
        col("n_bytes"), col("keeper_id"),
        (col("doc_id") === col("keeper_id")).as("is_best"))
      .orderBy("doc_id")
  }

  /** Frame geometry for [[m45AudioFrames]]: 256 samples per frame, and a
    * frame whose energy is below [[SilenceE]] counts as silence (the VAD
    * trim threshold). */
  private val FrameLen = 256
  private val SilenceE = 60000L

  // The stub sample decode (each char code − 64, signed), the frame
  // windows (FrameLen samples, last frame ragged) and the per-frame
  // energy (Σ s²) that m45 and m47 both run, once per dialect. They are
  // expression strings, not a shared frame, so each entry's projection
  // chain stays its own.
  private val samplesS =
    "transform(sequence(1, length(text)), i -> ascii(substring(text, i, 1)) - 64) as s"
  private val framesS = s"sequence(0, (size(s) + ${FrameLen - 1}) div $FrameLen - 1)"
  private val windowS = s"slice(s, f*$FrameLen+1, $FrameLen)"
  private val energyS = s"transform($framesS, f -> aggregate($windowS, 0L, (a, x) -> a + x * x)) as fe"
  private val samplesD =
    """ch AS (SELECT doc_id, list_transform(range(1, length(text) + 1),
                        i -> ascii(substring(text, CAST(i AS INTEGER), 1)) - 64) AS s
                      FROM documents WHERE length(text) >= 1)"""
  private val framesD = s"range(0, (len(s) + ${FrameLen - 1}) // $FrameLen)"
  private val windowD = s"list_slice(s, f*$FrameLen+1, f*$FrameLen+$FrameLen)"
  private val energyD =
    s"""list_transform($framesD,
                          f -> list_sum(list_transform($windowD, x -> x * x))) AS fe"""

  /** m45: audio-frame FEATURES — the audio tier of the multimodal story.
    * The blob's bytes are read as a PCM-like sample stream (stub: each
    * char code − 64, signed; a real audio codec decodes samples here and
    * nothing downstream changes), framed into fixed [[FrameLen]]-sample
    * windows (last frame ragged), and each frame yields the two classic
    * features every audio-curation pipeline computes first: ENERGY
    * (Σ s², the silence/VAD signal) and ZERO-CROSSING count (the
    * voiced/unvoiced + noise heuristic). Per blob: frame count, total /
    * max frame energy, silent-frame count (energy < [[SilenceE]]) and
    * total crossings — the features that drive silence trimming, clip
    * filtering, and duration-balanced sampling at corpus scale.
    *
    * All integer arithmetic (exact cross-engine), and map-only: nested
    * codegen'd HOFs per row, no explode, no shuffle, no driver
    * collection — embarrassingly parallel at any corpus size, the same
    * posture as m41-m43. */
  val m45AudioFrames = Q(
    "m45_audio_frames",
    s"""WITH $samplesD,
          fx AS (SELECT doc_id, len(s) AS n_samples,
                        $energyD,
                        list_transform($framesD,
                          f -> CASE WHEN len($windowD) < 2 THEN 0
                                    ELSE list_sum(list_transform(range(1, len($windowD)),
                                           i -> CASE WHEN $windowD[i] * $windowD[i+1] < 0
                                                     THEN 1 ELSE 0 END)) END) AS fz
                 FROM ch)
          SELECT doc_id, CAST(n_samples AS BIGINT) AS n_samples,
                 CAST(len(fe) AS BIGINT) AS n_frames,
                 CAST(list_sum(fe) AS BIGINT) AS total_energy,
                 CAST(list_max(fe) AS BIGINT) AS max_frame_energy,
                 CAST(len(list_filter(fe, e -> e < $SilenceE)) AS BIGINT) AS n_silent,
                 CAST(list_sum(fz) AS BIGINT) AS n_zero_cross
          FROM fx ORDER BY doc_id""") { (spark, dir) =>
    T(spark, dir, "documents")
      .filter(length(col("text")) >= 1)
      .selectExpr("doc_id", samplesS)
      .selectExpr("doc_id", "cast(size(s) as bigint) as n_samples", energyS,
        s"transform($framesS, f -> IF(size($windowS) < 2, 0L, " +
          s"aggregate(sequence(1, size($windowS) - 1), 0L, " +
          s"(a, i) -> a + IF(element_at($windowS, i) * element_at($windowS, i + 1) < 0, 1L, 0L)))) as fz")
      .selectExpr("doc_id", "n_samples",
        "cast(size(fe) as bigint) as n_frames",
        "aggregate(fe, 0L, (a, e) -> a + e) as total_energy",
        "array_max(fe) as max_frame_energy",
        s"cast(size(filter(fe, e -> e < ${SilenceE}L)) as bigint) as n_silent",
        "aggregate(fz, 0L, (a, z) -> a + z) as n_zero_cross")
      .orderBy("doc_id")
  }

  /** Energy-delta threshold for [[m47SceneCuts]]. */
  private val CutDelta = 50000L

  /** m47: scene-cut detection — the video-segmentation tier: frame the
    * blob exactly like [[m45AudioFrames]] (same [[FrameLen]], same stub
    * sample decode — a real codec swaps in per-frame pixel/sample
    * deltas and nothing downstream changes) and emit a cut wherever
    * consecutive frame energies jump by more than [[CutDelta]] — the
    * energy-delta heuristic behind keyframe extraction and
    * scene-balanced sampling. Per cut: the frame boundary index and
    * both energies. All integer, map-only (nested HOFs + one explode of
    * the per-blob cut list, bounded by frame count), no shuffle — the
    * m45 posture with q79's lag shape moved inside the row. */
  val m47SceneCuts = Q(
    "m47_scene_cuts",
    s"""WITH $samplesD,
          fx AS (SELECT doc_id,
                        $energyD
                 FROM ch),
          cut0 AS (SELECT doc_id,
                          list_filter(list_transform(range(1, len(fe)),
                            f -> {'f': f, 'e_prev': fe[f], 'e_cur': fe[f+1]}),
                            x -> abs(x.e_cur - x.e_prev) > $CutDelta) AS cuts
                   FROM fx),
          ex AS (SELECT doc_id, unnest(cuts) AS u FROM cut0)
          SELECT doc_id, CAST(u.f AS BIGINT) AS frame,
                 CAST(u.e_prev AS BIGINT) AS e_prev,
                 CAST(u.e_cur AS BIGINT) AS e_cur,
                 CAST(abs(u.e_cur - u.e_prev) AS BIGINT) AS delta
          FROM ex ORDER BY doc_id, frame""") { (spark, dir) =>
    T(spark, dir, "documents")
      .filter(length(col("text")) >= 1)
      .selectExpr("doc_id", samplesS)
      .selectExpr("doc_id", energyS)
      // checkpoint = a collapse barrier (the m44 precedent): the cut step
      // references fe four times, and with the projections collapsed
      // each reference re-inlines fe's whole O(len) construction chain
      // (measured 20-40 s vs sub-second). The checkpointed frame is tiny —
      // ~len/256 longs per blob.
      .ckpt
      // adjacent pairs via zip_with over two slices (t29's idiom), NOT a
      // lambda that indexes the outer fe: a lambda body referencing the
      // enclosing array re-inlines fe's whole construction per element.
      // slice length 0 (single-frame blob) yields an empty array — no
      // sequence(1, 0) trap either.
      .selectExpr("doc_id",
        "zip_with(slice(fe, 1, size(fe) - 1), slice(fe, 2, size(fe) - 1), " +
          "(a, b) -> named_struct('e_prev', a, 'e_cur', b)) as adj")
      .select(col("doc_id"), posexplode(col("adj")).as(Seq("pos", "u")))
      .filter(abs(col("u.e_cur") - col("u.e_prev")) > CutDelta)
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("frame"),
        col("u.e_prev").cast("long").as("e_prev"),
        col("u.e_cur").cast("long").as("e_cur"),
        abs(col("u.e_cur") - col("u.e_prev")).cast("long").as("delta"))
      .orderBy("doc_id", "frame")
  }

  /** m48: FIXED-BLOCK chunk-dedup manifest — blob storage's block-level
    * dedup audit: every media payload (text bytes as the stand-in blob,
    * m41's convention) is cut into fixed 64-byte blocks, each block
    * content-hashed, and the corpus-level manifest reports how much
    * block-level redundancy exists (the savings a content-addressed
    * blob store would realize — the coarse cousin of content-defined
    * chunking, whose rolling-hash boundaries don't fit a SQL oracle;
    * fixed blocks are what parquet page dedup and most object stores
    * actually do). One explode + two counting aggregations; no joins,
    * blocks never leave their task until the count partials. */
  val m48ChunkManifest = Q(
    "m48_chunk_manifest",
    """WITH c AS (SELECT doc_id, i,
                         md5(substring(text, CAST(i * 64 + 1 AS INTEGER), 64)) AS ch,
                         length(substring(text, CAST(i * 64 + 1 AS INTEGER), 64)) AS clen
                  FROM documents,
                       unnest(generate_series(0, CAST((length(text) - 1) // 64 AS BIGINT))) t(i)
                  WHERE length(text) > 0)
       SELECT CAST((SELECT COUNT(DISTINCT doc_id) FROM c) AS BIGINT) AS n_blobs,
              CAST(COUNT(*) AS BIGINT) AS n_chunks,
              CAST(COUNT(DISTINCT ch) AS BIGINT) AS n_distinct_chunks,
              CAST(SUM(clen) AS BIGINT) AS total_bytes,
              CAST((COUNT(*) - COUNT(DISTINCT ch)) * 1000000 // COUNT(*) AS BIGINT)
                AS dup_chunk_ppm
       FROM c""") { (spark, dir) =>
    // empty docs excluded on BOTH sides: DuckDB's (len-1)//64 floors to
    // -1 (empty series, zero chunks) while Spark's div truncates to 0
    // (one empty chunk) — the explicit length>0 guard makes the two
    // dialects agree instead of relying on their integer-division
    // rounding to coincide.
    val c = T(spark, dir, "documents")
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), col("text"),
        explode(expr("sequence(0, (length(text) - 1) div 64)")).as("i"))
      .select(col("doc_id"),
        md5(expr("cast(substring(text, cast(i * 64 + 1 as int), 64) as binary)")).as("ch"),
        length(expr("substring(text, cast(i * 64 + 1 as int), 64)")).as("clen"))
      .ckpt
    c.agg(count(lit(1)).as("n_chunks"),
        countDistinct(col("ch")).as("n_distinct_chunks"),
        sum(col("clen")).cast("long").as("total_bytes"))
      .crossJoin(broadcast(
        c.agg(countDistinct(col("doc_id")).as("n_blobs"))))
      .select(col("n_blobs"), col("n_chunks"), col("n_distinct_chunks"),
        col("total_bytes"),
        expr("(n_chunks - n_distinct_chunks) * 1000000 div n_chunks")
          .as("dup_chunk_ppm"))
  }

  val all: Seq[Q] =
    Seq(m41BinaryFeatures, m42FrameSample, m43ResizePlan, m44MediaNeardup,
      m46MediaComponents, m49MediaComponentsScalable, m50MediaBestKeeper,
      m45AudioFrames, m47SceneCuts, m48ChunkManifest)
}
