package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Ckpt.Reuse
import org.apache.spark.sql.expressions.Window

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (SURVEY.md §2 Part B, LLM-pipeline extensions).
  *
  * Three tiers, mirroring a production ANN stack:
  *  - [[s32KnnBruteforce]]: exact brute-force cosine top-k — the correctness
  *    baseline; quadratic, only viable for small query sets;
  *  - [[s33AnnLsh]]: random-hyperplane LSH — vectors bucketed by the sign
  *    pattern of 6 deterministic hyperplanes; candidates = same-bucket only.
  *    At 100 TB this is a bucket-partitioned equi-join instead of a cross
  *    join (×64 candidate reduction here);
  *  - [[s34AnnIvf]]: IVF — a coarse quantizer assigns every vector to its
  *    nearest centroid cell; queries probe the 2 nearest cells. The
  *    ranking is one map-only expression over the collected (tiny)
  *    centroid matrix ([[rankedCells]]).
  *
  * Cosines use [[Cosine]] (identical sequential fold on both engines →
  * bit-equal doubles → ranks agree exactly with the oracle).
  */
object Similarity {

  /** embeddings as (vec_id, v: array<double>, nrm) — the L2 norm is
    * computed once per vector so every pair evaluation is dot-only. */
  // array<float> → array<double> via Cast, not a transform lambda: the
  // element-wise cast is value-identical (float widening) but Cast is
  // codegen-supported, so the whole projection — cast, array_dot, sqrt —
  // stays inside WholeStageCodegen (a HOF lambda anywhere in the stage
  // forces the entire stage to interpreted mode)
  private[operators] def vecs(spark: SparkSession, dir: String): DataFrame =
    T(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", Cosine.norm(col("v")))

  private[operators] val duckVecs =
    s"e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
      s"e AS (SELECT vec_id, v, ${Cosine.duckNorm("v")} AS nrm FROM e0)"

  /** A (vec_id, v, nrm) frame as the query side (q_id, vq, nq) of a
    * cosine ranking. */
  private def asQueries(e: DataFrame): DataFrame =
    e.select(col("vec_id").as("q_id"), col("v").as("vq"), col("nrm").as("nq"))

  /** A (vec_id, v, nrm) frame as the neighbor side (n_id, vn, nn). */
  private def asNeighbors(e: DataFrame): DataFrame =
    e.select(col("vec_id").as("n_id"), col("v").as("vn"), col("nrm").as("nn"))

  /** Exact brute-force candidates: every query of `q` (broadcast) against
    * every other vector of `e`. */
  private def allPairs(e: DataFrame, q: DataFrame): DataFrame =
    broadcast(q).join(asNeighbors(e), col("n_id") =!= col("q_id"))

  /** How a candidate set is ranked by cosine: rows carrying both sides
    * (q_id, vq, nq, n_id, vn, nn) get their exact `cos`, ordered per
    * query by cos DESC, n_id ASC. */
  private val byCos = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
  private def scoredByCos(cand: DataFrame): DataFrame =
    cand.withColumn("cos", Cosine.dot(col("vq"), col("vn")) / (col("nq") * col("nn")))

  /** The top `k` candidates per query in [[byCos]] order, with the long
    * `rnk` the entries return. */
  private def topByCos(cand: DataFrame, k: Int): DataFrame =
    scoredByCos(cand).withColumn("rnk", row_number().over(byCos).cast("long"))
      .filter(col("rnk") <= k)

  /** [[topByCos]] for callers that compare or cast the rank afterwards:
    * the int rank is filtered as it comes from the window. */
  private def topByCosRaw(cand: DataFrame, k: Int): DataFrame =
    scoredByCos(cand).withColumn("rnk", row_number().over(byCos))
      .filter(col("rnk") <= k)

  /** Exact brute-force cosine top-5 for the first 10 vectors as queries. */
  val s32KnnBruteforce = Q(
    "s32_knn_bruteforce",
    s"""WITH $duckVecs,
        p AS (SELECT q.vec_id AS q_id, n.vec_id AS n_id,
                     ${Cosine.duckDot("q.v", "n.v")} / (q.nrm * n.nrm) AS cos
              FROM e q JOIN e n ON n.vec_id <> q.vec_id
              WHERE q.vec_id < 10),
        r AS (SELECT q_id, n_id, cos,
                     ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
              FROM p)
        SELECT q_id, n_id, CAST(rnk AS BIGINT) AS rnk, cos
        FROM r WHERE rnk <= 5 ORDER BY q_id, rnk""") { (spark, dir) =>
    val e = vecs(spark, dir)
    topByCos(allPairs(e, asQueries(e.filter(col("vec_id") < 10))), 5)
      .select("q_id", "n_id", "rnk", "cos")
      .orderBy("q_id", "rnk")
  }

  // Random-hyperplane LSH: weight(b, d) = h32('hp<b>_<d>') % 2001 - 1000,
  // bucket = Σ_b [dot(v, w_b) > 0] << b  (nHp hyperplanes → 2^nHp buckets).
  //
  // The weights depend only on (b, d), so they are computed ONCE on the
  // driver with the same md5 formula and embedded as a literal nHp×64
  // matrix in both dialects (Catalyst constant-folds the Spark literal).
  // The previous form recomputed the md5 inside the doubly-nested lambda —
  // ~384 interpreted md5 evaluations per vector per pass.
  private val Dim = 64

  /** LSH RESOLUTION knob: hyperplane count for the whole bucketed-LSH
    * family (s33/s36/d33/s40 and the s40 consumers). Default 6 — 64
    * buckets, the resolution every recorded artifact was produced at;
    * deployments raise it via `-Dgraft.knn.hyperplanes` (sized by
    * [[adaptiveHyperplanes]]) so bucket populations stay near
    * [[KnnBucketCap]]'s design point as the corpus grows. BOTH dialects
    * derive their bucketing from this one value, so Spark↔oracle parity
    * holds at any setting (RecallSpec runs the graph at several). */
  private[operators] val NumHp: Int =
    Integer.getInteger("graft.knn.hyperplanes", 6).intValue()

  /** The production sizing rule for [[NumHp]]: enough hyperplanes that
    * the MEAN bucket population N/2^nHp sits at [[KnnBucketCap]]'s
    * design point, floored at the default resolution — ⌈log₂(N/cap)⌉.
    * At 10⁹ vectors: 25 hyperplanes → 32M buckets → mean population 30.
    * The per-bucket cap alone already guarantees the linear COST bound
    * at any resolution; resolution is the recall lever (RecallSpec's
    * resolution-vs-recall audit pins the interaction). */
  private[operators] def adaptiveHyperplanes(n: Long): Int =
    math.max(NumHp, math.ceil(math.log(math.max(n, 1L).toDouble /
      KnnBucketCap) / math.log(2.0)).toInt)

  private[operators] def hpWeightsFor(nHp: Int): IndexedSeq[IndexedSeq[Long]] = {
    val md5 = java.security.MessageDigest.getInstance("MD5")
    (0 until nHp).map(b => (0 until Dim).map(d => H.jvm(s"hp${b}_$d", md5) % 2001 - 1000))
  }
  private def wLitDuckFor(nHp: Int) =
    hpWeightsFor(nHp).map(_.mkString("[", ",", "]")).mkString("[", ",", "]")
  /** 1-row CTE carrying the literal weight matrix (cross-joined in). */
  private[operators] def duckWFor(nHp: Int) =
    s"w AS (SELECT ${wLitDuckFor(nHp)} AS wm)"
  private[operators] def duckW = duckWFor(NumHp)

  private[operators] def bucketDuckFor(nHp: Int) =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(0, $nHp), b -> " +
      "CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(0, len(v)), " +
      "d -> v[d+1] * wm[b+1][d+1])), (x, y) -> x + y) " +
      "> CAST(0 AS DOUBLE) THEN (CAST(1 AS BIGINT) << CAST(b AS INTEGER)) ELSE CAST(0 AS BIGINT) END)), (x, y) -> x + y)"
  private[operators] def bucketDuck = bucketDuckFor(NumHp)

  /** Wraps `expr` so it raises if the vector column is not [[Dim]]-wide.
    * Every operator whose OTHER dialect hard-codes Dim (literal weight
    * matrices, `range(0, Dim)` dimension explosion) must guard its Spark
    * side with this — otherwise the engines silently diverge on a
    * different dimensionality instead of failing loudly. The guard must
    * live INSIDE the consumed expression: a standalone assertion column
    * would be pruned away. */
  private def dimGuarded(v: Column, expr: Column): Column =
    when(size(v) === Dim, expr).otherwise(raise_error(
      concat(lit(s"expected $Dim-dim embeddings, got "),
        size(v).cast("string"))))

  /** embeddings with their hyperplane-LSH bucket — the candidate-pruning
    * projection for [[s33AnnLsh]]. Fully native: each hyperplane's sign is
    * `array_dot(v, w_b) > 0` against its own literal weight vector, and
    * the bucket is the exact integer sum of the set bits — bit-identical
    * to the oracle's nested-fold form ([[bucketDuck]]: same inner fold
    * order, exact long addition outside), with no lambda interpretation. */
  private[operators] def bucketedVecsAt(spark: SparkSession, dir: String,
      nHp: Int): DataFrame = {
    val ws = hpWeightsFor(nHp)
    val bucket = (0 until nHp).map { b =>
      val w = typedlit(ws(b).map(_.toDouble))
      when(Cosine.dot(col("v"), w) > 0.0d, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    // the literal weight matrix is Dim-wide: ArrayDot would silently
    // truncate (min-length loop) while the oracle indexes wm[d+1] out of
    // range — fail loudly instead of diverging
    vecs(spark, dir).withColumn("bucket", dimGuarded(col("v"), bucket))
  }
  private[operators] def bucketedVecs(spark: SparkSession, dir: String): DataFrame =
    bucketedVecsAt(spark, dir, NumHp)

  /** THE Hamming-1 probe set (own bucket + each hyperplane bit flipped),
    * shared by [[s36AnnMultiprobe]] and the d33 near-dup pairs so "the
    * same probe set" is a single definition, not four synced copies. */
  private[operators] def probeMasksFor(nHp: Int): Seq[Long] =
    0L +: (0 until nHp).map(b => 1L << b)
  private[operators] val probeMasks: Seq[Long] = probeMasksFor(NumHp)
  /** Spark: bucket column → exploded probe-bucket column. */
  private[operators] def probeBucketsFor(bucket: Column, nHp: Int): Column =
    explode(array(probeMasksFor(nHp).map(m => bucket.bitwiseXOR(lit(m))): _*))
  private[operators] def probeBuckets(bucket: Column): Column =
    probeBucketsFor(bucket, NumHp)
  /** DuckDB dialect of the same probe list over bucket expression `b`. */
  private[operators] def probeUnnestDuck(b: String): String =
    probeMasks.map(m => if (m == 0L) b else s"xor($b, $m)")
      .mkString("unnest([", ", ", "])")

  /** LSH-bucketed ANN: candidates restricted to the query's bucket (the
    * scale path — equi-join on bucket, no cross join). */
  val s33AnnLsh = Q(
    "s33_ann_lsh",
    s"""WITH $duckVecs, $duckW,
        bk AS (SELECT vec_id, v, nrm, $bucketDuck AS bucket FROM e, w),
        p AS (SELECT q.vec_id AS q_id, n.vec_id AS n_id, q.bucket AS bucket,
                     ${Cosine.duckDot("q.v", "n.v")} / (q.nrm * n.nrm) AS cos
              FROM bk q JOIN bk n ON q.bucket = n.bucket AND n.vec_id <> q.vec_id
              WHERE q.vec_id < 10),
        r AS (SELECT q_id, n_id, bucket, cos,
                     ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
              FROM p)
        SELECT q_id, n_id, bucket, CAST(rnk AS BIGINT) AS rnk, cos
        FROM r WHERE rnk <= 5 ORDER BY q_id, rnk""") { (spark, dir) =>
    val bk = bucketedVecs(spark, dir)
    val q = bk.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("vq"), col("nrm").as("nq"), col("bucket"))
    val n = bk.select(col("vec_id").as("n_id"), col("v").as("vn"), col("nrm").as("nn"),
      col("bucket").as("bn"))
    topByCos(q.join(n, col("bucket") === col("bn") && col("n_id") =!= col("q_id")), 5)
      .select("q_id", "n_id", "bucket", "rnk", "cos")
      .orderBy("q_id", "rnk")
  }

  /** Multi-probe hyperplane-LSH ANN: each query probes its own bucket PLUS
    * the 6 Hamming-1 neighbor buckets (one hyperplane bit flipped). A
    * single hyperplane slicing through a tight cluster is the dominant
    * recall failure of single-probe LSH ([[s33AnnLsh]]; RecallSpec measures
    * its 0.60 envelope at 5× noise) — probing the adjacent half-spaces
    * recovers exactly those neighbors. Cost model at 100 TB: candidates ≤
    * |Q| × 7 × bucket size — still a bucket equi-join (probe side exploded
    * 7×, data side untouched), never bucket × bucket; each data vector
    * lives in exactly one bucket, so no candidate dedup is needed. */
  val s36AnnMultiprobe = Q(
    "s36_ann_multiprobe",
    s"""WITH $duckVecs, $duckW,
        bk AS (SELECT vec_id, v, nrm, $bucketDuck AS bucket FROM e, w),
        probes AS (SELECT vec_id AS q_id, v, nrm,
                          ${probeUnnestDuck("bucket")} AS pb
                   FROM bk WHERE vec_id < 10),
        p AS (SELECT q.q_id, n.vec_id AS n_id,
                     ${Cosine.duckDot("q.v", "n.v")} / (q.nrm * n.nrm) AS cos
              FROM probes q JOIN bk n ON q.pb = n.bucket AND n.vec_id <> q.q_id),
        r AS (SELECT q_id, n_id, cos,
                     ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
              FROM p)
        SELECT q_id, n_id, CAST(rnk AS BIGINT) AS rnk, cos
        FROM r WHERE rnk <= 5 ORDER BY q_id, rnk""") { (spark, dir) =>
    val bk = bucketedVecs(spark, dir)
    val q = bk.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("vq"), col("nrm").as("nq"),
        probeBuckets(col("bucket")).as("pb"))
    val n = bk.select(col("vec_id").as("n_id"), col("v").as("vn"), col("nrm").as("nn"),
      col("bucket").as("bn"))
    topByCos(q.join(n, col("pb") === col("bn") && col("n_id") =!= col("q_id")), 5)
      .select("q_id", "n_id", "rnk", "cos")
      .orderBy("q_id", "rnk")
  }

  // ---- IVF coarse quantizer, shared by s34 (ANN) and x93 (k-means) ----
  // centroids = vec_id < 8; every vector ranked against each centroid by
  // cosine, ties broken by centroid id. ONE definition per dialect: a
  // one-sided change to centroid selection or tie-breaking would silently
  // make s34's cells and x93's cells disagree about the same quantizer.
  // Spark ranks the collected centroids per vector in a projection.

  /** DuckDB: CTEs `cent` + `asg0` (vec_id, v, c_id, rnk) over `e`. */
  private[operators] val duckIvfAssign =
    s"""cent AS (SELECT vec_id AS c_id, v AS vc, nrm AS cnrm FROM e WHERE vec_id < 8),
        asg0 AS (SELECT e.vec_id, e.v, c.c_id,
                        ROW_NUMBER() OVER (PARTITION BY e.vec_id
                          ORDER BY ${Cosine.duckDot("e.v", "c.vc")} / (e.nrm * c.cnrm) DESC,
                                   c.c_id) AS rnk
                 FROM e, cent c)"""

  /** Spark twin of [[duckIvfAssign]] to rank p: (vec_id, v, nrm, c_id,
    * ccos, rnk). The tiny centroid set is collected at construction. */
  private[operators] def ivfAssign0(spark: SparkSession, dir: String,
      p: Int): DataFrame = {
    val e = vecs(spark, dir)
    rankedCells(e, ivfSeeds(e), p)
  }

  /** The quantizer's centroids: `cent`'s vec_id < 8 rows, collected. */
  private def ivfSeeds(e: DataFrame): Seq[(Long, Seq[Double])] =
    centroidMatrix(e.filter(col("vec_id") < 8).select("vec_id", "v"))

  /** The s34 oracle SQL — shared verbatim by [[s47PersistedIvf]]: the
    * persisted-index probe must return EXACTLY the in-flight index's
    * answer, so the two queries sharing one oracle is the contract. */
  private def duckS34Sql =
    s"""WITH $duckVecs,
        $duckIvfAssign,
        asg AS (SELECT vec_id, c_id AS cell FROM asg0 WHERE rnk = 1),
        probe AS (SELECT vec_id AS q_id, c_id AS cell FROM asg0
                  WHERE rnk <= 2 AND vec_id < 10),
        cand AS (SELECT p.q_id, a.vec_id AS n_id, p.cell
                 FROM probe p JOIN asg a ON p.cell = a.cell AND a.vec_id <> p.q_id),
        sc AS (SELECT c.q_id, c.n_id, c.cell,
                      ${Cosine.duckDot("q.v", "n.v")} / (q.nrm * n.nrm) AS cos
               FROM cand c JOIN e q ON c.q_id = q.vec_id JOIN e n ON c.n_id = n.vec_id),
        r AS (SELECT q_id, n_id, cell, cos,
                     ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
              FROM sc)
        SELECT q_id, n_id, cell, CAST(rnk AS BIGINT) AS rnk, cos
        FROM r WHERE rnk <= 5 ORDER BY q_id, rnk"""

  /** IVF ANN: centroids = vec_id < 8; every vector assigned to its nearest
    * centroid (the map-only [[rankedCells]] kernel); queries probe their 2
    * nearest cells and rank candidates within them ([[probeTop5]]). */
  val s34AnnIvf = Q(
    "s34_ann_ivf",
    duckS34Sql) { (spark, dir) =>
    probeTop5(vecs(spark, dir), ivfAssign0(spark, dir, 2)).orderBy("q_id", "rnk")
  }

  /** s39: FILTERED ANN — metadata-constrained vector search, the
    * vector-DB feature every retrieval pipeline needs (search only the
    * caller's tenant/language/licence slice). Same IVF machinery as
    * [[s34AnnIvf]] (2-cell probe over the map-only centroid
    * ranking), with the label-equality predicate applied to the
    * candidate set BEFORE scoring: the filter composes with the cell
    * equi-join as one more join key — pre-filtering, not post-filtering
    * a top-k (post-filtering returns < k results whenever the filter is
    * selective; the pre-filter form ranks WITHIN the slice, the correct
    * contract). At 100 TB the cell index is label-agnostic and the
    * filter rides the candidate join — or, for hard tenant isolation,
    * the index is partitioned BY label (q63's layout) and the filter
    * becomes partition pruning; both end in the same plan shape. */
  val s39FilteredAnn = Q(
    "s39_filtered_ann",
    s"""WITH $duckVecs,
        lbl AS (SELECT vec_id, label FROM embeddings),
        $duckIvfAssign,
        asg AS (SELECT a.vec_id, a.c_id AS cell, l.label
                FROM asg0 a JOIN lbl l ON a.vec_id = l.vec_id WHERE a.rnk = 1),
        probe AS (SELECT a.vec_id AS q_id, a.c_id AS cell, l.label
                  FROM asg0 a JOIN lbl l ON a.vec_id = l.vec_id
                  WHERE a.rnk <= 2 AND a.vec_id < 10),
        cand AS (SELECT p.q_id, a.vec_id AS n_id, p.cell, p.label
                 FROM probe p JOIN asg a ON p.cell = a.cell AND p.label = a.label
                                        AND a.vec_id <> p.q_id),
        sc AS (SELECT c.q_id, c.n_id, c.cell, c.label,
                      ${Cosine.duckDot("q.v", "n.v")} / (q.nrm * n.nrm) AS cos
               FROM cand c JOIN e q ON c.q_id = q.vec_id JOIN e n ON c.n_id = n.vec_id),
        r AS (SELECT q_id, n_id, cell, label, cos,
                     ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
              FROM sc)
        SELECT q_id, n_id, cell, CAST(label AS BIGINT) AS label,
               CAST(rnk AS BIGINT) AS rnk, cos
        FROM r WHERE rnk <= 5 ORDER BY q_id, rnk""") { (spark, dir) =>
    val e = vecs(spark, dir)
    val lbl = T(spark, dir, "embeddings").select(col("vec_id"), col("label"))
    val asg0 = ivfAssign0(spark, dir, 2)
    val asg = asg0.filter(col("rnk") === 1).join(lbl, "vec_id")
      .select(col("vec_id").as("n_id"), col("c_id").as("cell"), col("label"))
    val probe = asg0.filter(col("rnk") <= 2 && col("vec_id") < 10).join(lbl, "vec_id")
      .select(col("vec_id").as("q_id"), col("c_id").as("cell"), col("label"))
    val cand = probe.join(asg, Seq("cell", "label"))
      .filter(col("n_id") =!= col("q_id"))
    topByCos(cand.join(asQueries(e), "q_id").join(asNeighbors(e), "n_id"), 5)
      .select(col("q_id"), col("n_id"), col("cell"),
        col("label").cast("long").as("label"), col("rnk"), col("cos"))
      .orderBy("q_id", "rnk")
  }

  /** Per-label embedding statistics: counts and exact centroid preview
    * (first 4 centroid dimensions as exact DECIMAL means surfaced as
    * doubles — order-independent, so partitioning-invariant). */
  val s35LabelStats = Q(
    "s35_label_stats",
    """SELECT label, COUNT(*) AS n,
       MIN((embedding::DOUBLE[])[1]) AS min_d0,
       MAX((embedding::DOUBLE[])[1]) AS max_d0,
       COUNT(CASE WHEN (embedding::DOUBLE[])[1] > 0 THEN 1 END) AS n_pos_d0,
       MIN(len(embedding)) AS min_dim, MAX(len(embedding)) AS max_dim
       FROM embeddings GROUP BY label ORDER BY label""") { (spark, dir) =>
    T(spark, dir, "embeddings")
      .selectExpr("label", "cast(embedding[0] as double) as d0",
        "size(embedding) as dim")
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        min(col("d0")).as("min_d0"), max(col("d0")).as("max_d0"),
        count(when(col("d0") > 0, lit(1))).as("n_pos_d0"),
        min(col("dim")).cast("long").as("min_dim"),
        max(col("dim")).cast("long").as("max_dim"))
      .orderBy("label")
  }

  /** One exact k-means (Lloyd) iteration over the embeddings — the
    * clustering primitive behind IVF index builds and corpus bucketing.
    * Assignment: every vector to its nearest of the 8 seed centroids
    * (vec_id < 8, s34's init) by cosine, ties broken by centroid id —
    * one map-only projection over the collected (always tiny) centroid
    * matrix ([[rankedCells]]). Update: the
    * new centroid, emitted in LONG form (cell, dim, n, c_mean) — one
    * hash aggregation over the posexploded dimensions (K·Dim groups,
    * map-side partials), no array re-assembly and no collect_list
    * ordering hazard. Means are computed over a 1e-6 fixed-point
    * quantization of the components (`floor(x·1e6)` — double multiply +
    * floor are IEEE-identical on both engines, unlike the double→DECIMAL
    * cast, whose rounding path differs at the last decimal): integer
    * sums are exact and order-independent under any partitioning ⇒
    * AQE-stable, and the centroid drift vs the true mean is bounded by
    * 1e-6 per component — far below the noise floor of any embedding
    * model. The full Lloyd loop at 100 TB is this step iterated:
    * map-only assignment + one agg per pass, nothing collected but the
    * K·Dim centroid matrix. */
  val x93KmeansStep = Q(
    "x93_kmeans_step",
    s"""WITH $duckVecs,
        $duckIvfAssign,
        asg AS (SELECT vec_id, v, c_id AS cell FROM asg0 WHERE rnk = 1),
        dims AS (SELECT cell, CAST(r.d AS BIGINT) AS dim,
                        CAST(floor(v[r.d + 1] * 1000000.0) AS BIGINT) AS xq
                 FROM asg, range(0, $Dim) r(d))
        SELECT cell, dim, COUNT(*) AS n,
               CAST(SUM(xq) AS DOUBLE) / COUNT(*) / 1000000.0 AS c_mean
        FROM dims GROUP BY cell, dim ORDER BY cell, dim""") { (spark, dir) =>
    // the oracle explodes range(0, Dim): guard the Spark side's
    // data-driven posexplode so a different dimensionality fails loudly
    // instead of silently diverging (same class as bucketedVecs' guard)
    val asg = ivfAssign0(spark, dir, 1)
      .filter(col("rnk") === 1)
      .select(dimGuarded(col("v"), col("v")).as("v"), col("c_id").as("cell"))
    asg.select(col("cell"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy(col("cell"), col("dim").cast("long").as("dim"))
      .agg(count(lit(1)).as("n"),
        (sum(floor(col("x") * 1000000.0d).cast("long")).cast("double") /
          count(lit(1)) / 1000000.0d).as("c_mean"))
      .orderBy("cell", "dim")
  }

  // ---- x95: full Lloyd loop (x93's step iterated to convergence) ----

  /** Lloyd-loop parameters. Convergence = max component drift of the new
    * means vs the previous centroids < [[LloydEps]]. The loop FREEZES at
    * convergence: once drift < ε the centroid state is carried unchanged,
    * which makes the converged state a literal fixed point — every further
    * iteration recomputes the identical assignment, means, and drift. That
    * is what lets the oracle be a fixed [[LloydMaxIter]]-deep unrolled CTE
    * chain while the Spark side stops early: iterations past the freeze
    * are no-ops, so "stopped at t" and "unrolled to 8" give the same
    * state. If ε is never reached, both sides run exactly
    * [[LloydMaxIter]] real iterations — equality holds with or without
    * convergence. */
  private val LloydMaxIter = 8
  private val LloydEps = 0.02

  /** The WITH-body of the unrolled Lloyd chain (shared by x95's and
    * x96's oracles): e/c0 seeds then (a_i, m_i, dr_i, c_i) per
    * iteration; the final assignment is `a$LloydMaxIter`, the final
    * centroids `c$LloydMaxIter`. `seedPred` picks the seed set — x95
    * pins K=8, x96 passes the data-adaptive K (see [[semKDuck]]). */
  private def lloydCtes(seedPred: String = "vec_id < 8"): String = {
    val ctes = scala.collection.mutable.ArrayBuffer(
      s"e0 AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
      s"e AS MATERIALIZED (SELECT vec_id, v, ${Cosine.duckNorm("v")} AS nrm FROM e0)",
      s"c0 AS MATERIALIZED (SELECT vec_id AS cell, v AS cv FROM e WHERE $seedPred)")
    for (i <- 1 to LloydMaxIter) {
      val p = i - 1
      ctes += s"""a$i AS MATERIALIZED (SELECT vec_id, v, cell FROM (
          SELECT e.vec_id, e.v, c.cell,
                 ROW_NUMBER() OVER (PARTITION BY e.vec_id
                   ORDER BY ${Cosine.duckDot("e.v", "c.cv")} / (e.nrm * ${Cosine.duckNorm("c.cv")}) DESC,
                            c.cell) AS rnk
          FROM e, c$p c) WHERE rnk = 1)"""
      ctes += s"""m$i AS MATERIALIZED (SELECT cell, CAST(r.d AS BIGINT) AS dim, COUNT(*) AS n,
                 CAST(SUM(CAST(floor(v[r.d + 1] * 1000000.0) AS BIGINT)) AS DOUBLE)
                   / COUNT(*) / 1000000.0 AS c_mean
          FROM a$i, range(0, $Dim) r(d) GROUP BY cell, dim)"""
      ctes += s"""dr$i AS MATERIALIZED (SELECT MAX(ABS(m.c_mean - p.cv[m.dim + 1])) AS drift
          FROM m$i m JOIN c$p p ON m.cell = p.cell)"""
      ctes += s"""c$i AS MATERIALIZED (SELECT p.cell,
                 CASE WHEN (SELECT drift FROM dr$i) < $LloydEps THEN p.cv
                      ELSE COALESCE(nm.cv, p.cv) END AS cv
          FROM c$p p LEFT JOIN (SELECT cell, list(c_mean ORDER BY dim) AS cv
                                FROM m$i GROUP BY cell) nm
          ON p.cell = nm.cell)"""
    }
    ctes.mkString(",\n")
  }

  private def lloydOracle: String =
    s"""WITH ${lloydCtes()}
        SELECT c.cell AS cell, CAST(r.d AS BIGINT) AS dim, cnt.n, c.cv[r.d + 1] AS c_val
        FROM c$LloydMaxIter c
        JOIN (SELECT cell, COUNT(*) AS n FROM a$LloydMaxIter GROUP BY cell) cnt
          ON c.cell = cnt.cell, range(0, $Dim) r(d)
        ORDER BY c.cell, dim"""

  /** Driver-side centroid norm — the same ascending acc + x·x fold as
    * [[Cosine]]'s expression/DuckDB forms, so cosines built from it stay
    * bit-equal to the oracle's. */
  private[operators] def jvmNorm(cv: Seq[Double]): Double =
    math.sqrt(cv.foldLeft(0.0d)((acc, x) => acc + x * x))

  /** A small frame's (cell id, vector) columns, collected as a centroid
    * matrix ascending by cell. */
  private def centroidMatrix(cent: DataFrame): Seq[(Long, Seq[Double])] =
    cent.collect().map(r => (r.getLong(0), r.getSeq[Double](1).toVector: Seq[Double]))
      .sortBy(_._1).toSeq

  /** The p best cells of a frame's (v, nrm) via
    * [[graft.functions.CentroidRank]]: map-only at any K, so it runs
    * unchanged on a stream; exactly the oracle's ROW_NUMBER (cos DESC,
    * cell) ranking, over centroid norms from [[jvmNorm]]. */
  private[operators] def rankCells(cent: Seq[(Long, Seq[Double])], p: Int): Column = {
    val sorted = cent.sortBy(_._1)
    graft.functions.CentroidRank(col("v"), col("nrm"), sorted,
      sorted.map(c => jvmNorm(c._2)), p)
  }

  /** Nearest-centroid assignment: appends `cell`, the top of the p = 1
    * [[rankCells]] ranking, to a frame carrying (v, nrm, ...). */
  private[graft] def assignCells(df: DataFrame,
      cent: Seq[(Long, Seq[Double])]): DataFrame =
    df.withColumn("cell", rankCells(cent, 1).getItem(0).getField("cell"))

  /** [[rankCells]] as rows: the frame's columns plus (c_id, ccos, rnk)
    * for rnk 1..p. A null vector ranks no cell. */
  private[operators] def rankedCells(df: DataFrame,
      cent: Seq[(Long, Seq[Double])], p: Int): DataFrame =
    df.select(col("*"), posexplode(rankCells(cent, p)).as(Seq("pos", "rc")))
      .withColumn("c_id", col("rc.cell")).withColumn("ccos", col("rc.cos"))
      .withColumn("rnk", col("pos") + 1).drop("pos", "rc")

  private def lloydStep(spark: SparkSession, e: DataFrame,
      cent: Seq[(Long, Seq[Double])]): Array[((Long, Long), (Long, Double))] = {
    assignCells(e, cent)
      .select(col("cell"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy(col("cell"), col("dim").cast("long").as("dim"))
      .agg(count(lit(1)).as("n"),
        (sum(floor(col("x") * 1000000.0d).cast("long")).cast("double") /
          count(lit(1)) / 1000000.0d).as("c_mean"))
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(3))))
  }

  /** Result of [[lloydRun]]. `cent` is the POST-update matrix (the
    * oracle's `c$LloydMaxIter` — x95's output). `assignCent` is the matrix
    * the FINAL assignment pass was computed against (the oracle's
    * `a$LloydMaxIter` saw `c$(LloydMaxIter-1)`): equal to `cent` once the
    * loop froze (the converged state is a fixed point), but one update
    * BEHIND it when the loop exhausts [[LloydMaxIter]] without converging
    * — a consumer re-assigning the corpus (x96) MUST use `assignCent`, or
    * it silently performs an extra assignment pass the oracle never ran. */
  private[operators] final case class LloydResult(
      cent: Seq[(Long, Seq[Double])],
      assignCent: Seq[(Long, Seq[Double])],
      counts: Map[Long, Long], iters: Int, converged: Boolean)

  /** The driver loop behind [[x95KmeansLloyd]] and [[x96Semdedup]],
    * exposed so specs can observe convergence. Seeds = the k lowest
    * vec_ids (x95 pins k=8; x96 passes the data-adaptive K). */
  private[graft] def lloydRun(spark: SparkSession, dir: String,
      k: Long = 8): LloydResult = {
    // dim guard once up front (oracle unrolls range(0, Dim) per iteration)
    val e = vecs(spark, dir)
      .select(col("vec_id"), dimGuarded(col("v"), col("v")).as("v"), col("nrm"))
      .ckpt
    var cent = centroidMatrix(e.filter(col("vec_id") < k).select("vec_id", "v"))
    var assignCent = cent
    var lastCounts = Map.empty[Long, Long]
    var frozen = false
    var it = 0
    while (it < LloydMaxIter && !frozen) {
      it += 1
      assignCent = cent
      val m = lloydStep(spark, e, cent)
      val byCell = m.groupBy(_._1._1)
      lastCounts = byCell.map { case (c, rows) => c -> rows.head._2._1 }
      val prev = cent.toMap
      val drift = m.iterator.map { case ((c, d), (_, mean)) =>
        math.abs(mean - prev(c)(d.toInt))
      }.max
      if (drift < LloydEps) frozen = true
      else cent = cent.map { case (c, old) =>
        val rows = byCell.get(c)
        (c, rows.fold(old)(rs =>
          rs.sortBy(_._1._2).map(_._2._2).toVector: Seq[Double]))
      }
    }
    LloydResult(cent, assignCent, lastCounts, it, frozen)
  }

  /** Full k-means (Lloyd) to convergence — x93's oracle-checked step
    * iterated until the max centroid drift under the 1e-6 quantization
    * falls below [[LloydEps]] (or [[LloydMaxIter]]). The corpus-bucketing
    * operator an IVF index build runs: each iteration is the shuffle-free
    * [[lloydStep]] (map-only assignment + K·Dim-group aggregation), and
    * the driver holds nothing but the K·Dim centroid matrix between
    * iterations (exactly MLlib's k-means shape). Convergence/freeze
    * semantics in [[lloydOracle]]'s doc; the final state is (cell, dim,
    * cluster size, centroid component), bit-equal across engines because
    * every iteration's means are exact integer sums and the drift test
    * compares identical doubles. */
  val x95KmeansLloyd = Q("x95_kmeans_lloyd", lloydOracle) { (spark, dir) =>
    val res = lloydRun(spark, dir)
    // final state: centroid matrix + final-assignment cluster sizes,
    // K·Dim rows built from the driver-held matrix (by design)
    import spark.implicits._
    val rows = for {
      (c, cv) <- res.cent if res.counts.contains(c)
      d <- 0 until Dim
    } yield (c, d.toLong, res.counts(c), cv(d))
    rows.toDF("cell", "dim", "n", "c_val").orderBy("cell", "dim")
  }

  /** SemDeDup cluster count scales with the corpus: K = max(8, ⌈N /
    * [[SemTargetCell]]⌉), so cells stay ~[[SemTargetCell]] members at ANY
    * corpus size — the quantity that bounds the within-cell pair stage.
    * Both engines compute K from the data with the same integer formula. */
  private[operators] val SemTargetCell = 32L
  private[graft] def semK(n: Long): Long =
    math.max(8L, (n + SemTargetCell - 1) / SemTargetCell)
  private def semKDuck: String =
    s"kq AS (SELECT GREATEST(8, (COUNT(*) + ${SemTargetCell - 1}) // $SemTargetCell) AS k FROM embeddings)"

  /** Hard bound on pair-join membership per cell: members ranked by
    * vec_id, only the first [[SemCellCap]] enter the pair stage. With
    * K ∝ N the expected cell is ~[[SemTargetCell]] ≪ the cap, so on
    * non-degenerate data the cap is INACTIVE and the summary exact; it
    * engages only when a mass-duplicated vector floods one cell — the
    * input d26 (exact dedup) owns, same pipeline contract as d30/d31.
    * Worst-case pair count per cell is cap²/2 regardless of skew. */
  private[operators] val SemCellCap = 256

  /** SemDeDup-style cluster-scoped embedding dedup: cluster the corpus
    * with k-means (K ∝ N, [[semK]]), then search for near-duplicate
    * pairs ONLY within each cluster — the standard contraction of the
    * all-pairs problem for semantic dedup of a pretraining corpus (pairs
    * across clusters are by construction far). Output is the per-cell
    * dedup summary (members, near-dup pairs at cos ≥ 0.5 over the capped
    * candidate set, distinct higher-id docs a dedup pass would drop, max
    * pair cosine) — ≤K rows.
    *
    * Scale shape: K grows with N so cells stay ~[[SemTargetCell]]; the
    * assignment uses the FINAL-iteration centroid matrix (`assignCent` —
    * the post-update matrix would be an extra assignment pass the oracle
    * never ran) via the map-only [[assignCells]]; candidate membership
    * per cell is hard-capped ([[SemCellCap]]) by a map-side
    * WindowGroupLimit BEFORE any shuffle, so the pair stage is bounded at
    * cap²/2 per cell even under a mass-duplicated embedding (SkewBench
    * measures exactly that); the summary is a K-group aggregate.
    *
    * Streaming twin: the assignment half runs unchanged on a stream
    * (map-only expression over the frozen matrix — SemdedupStreamSpec
    * pins it to this batch clustering); the within-cell pair stage is
    * batch-only BY CONTRACT (it needs every cell member), so online
    * ingestion is stream-assign → periodic batch pair sweep. */
  val x96Semdedup = Q(
    "x96_semdedup",
    s"""WITH $semKDuck,
        ${lloydCtes("vec_id < (SELECT k FROM kq)")},
        asg AS (SELECT a.vec_id, a.v, a.cell, e.nrm
                FROM a$LloydMaxIter a JOIN e ON a.vec_id = e.vec_id),
        capped AS (SELECT vec_id, v, nrm, cell FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY cell
                  ORDER BY vec_id) AS mrnk FROM asg) WHERE mrnk <= $SemCellCap),
        p AS (SELECT x.cell, x.vec_id AS a_id, y.vec_id AS b_id,
                     ${Cosine.duckDot("x.v", "y.v")} / (x.nrm * y.nrm) AS cos
              FROM capped x JOIN capped y
                ON x.cell = y.cell AND x.vec_id < y.vec_id),
        pp AS (SELECT cell, COUNT(*) AS n_pairs,
                      COUNT(DISTINCT b_id) AS n_drop, MAX(cos) AS max_cos
               FROM p WHERE cos >= 0.5 GROUP BY cell),
        cnt AS (SELECT cell, COUNT(*) AS n FROM a$LloydMaxIter GROUP BY cell)
        SELECT cnt.cell AS cell, cnt.n AS n,
               CAST(COALESCE(pp.n_pairs, 0) AS BIGINT) AS n_pairs,
               CAST(COALESCE(pp.n_drop, 0) AS BIGINT) AS n_drop,
               pp.max_cos AS max_cos
        FROM cnt LEFT JOIN pp ON cnt.cell = pp.cell
        ORDER BY cnt.cell""") { (spark, dir) =>
    val e = vecs(spark, dir).select(col("vec_id"), col("v"), col("nrm"))
    val k = semK(e.count())
    val res = lloydRun(spark, dir, k)
    val asg = assignCells(e, res.assignCent)
      .ckpt // three consumers: both pair-join sides + the member count
    // rnk-then-filter → InferWindowGroupLimit: the hot cell is capped
    // MAP-SIDE (Partial WindowGroupLimit), so ≤ cap rows per cell ever
    // reach the rank shuffle — same mechanism x91 leans on
    val wm = Window.partitionBy(col("cell")).orderBy(col("vec_id"))
    val capped = asg.withColumn("mrnk", row_number().over(wm))
      .filter(col("mrnk") <= SemCellCap)
    val a = capped.select(col("cell"), col("vec_id").as("a_id"),
      col("v").as("va"), col("nrm").as("na"))
    val b = capped.select(col("cell").as("cellb"), col("vec_id").as("b_id"),
      col("v").as("vb"), col("nrm").as("nb"))
    val pp = a.join(b, col("cell") === col("cellb") && col("a_id") < col("b_id"))
      .withColumn("cos", Cosine.dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= 0.5d)
      .groupBy("cell")
      .agg(count(lit(1)).as("n_pairs"), countDistinct(col("b_id")).as("n_drop"),
        max(col("cos")).as("max_cos"))
    asg.groupBy("cell").agg(count(lit(1)).as("n"))
      .join(pp, Seq("cell"), "left")
      .select(col("cell"), col("n"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_drop"), lit(0L)).as("n_drop"), col("max_cos"))
      .orderBy("cell")
  }

  /** Cluster-representative (coreset) selection: for each k-means cell,
    * the member nearest its centroid — the "keeper" a SemDeDup pass
    * retains per duplicate cluster, and the coreset a data-pruning job
    * trains on. Same clustering as x96 (K ∝ N, final-iteration
    * `assignCent` matrix — scoring against the post-update matrix would
    * rank against centroids the assignment never saw).
    *
    * Scale shape: assignment is the map-only [[assignCells]]; scoring
    * joins the K-row centroid table BROADCAST (never a shuffle); the
    * top-1-per-cell is a rnk=1 filter — InferWindowGroupLimit caps each
    * cell to ONE candidate map-side before the rank shuffle, so a
    * degenerate hot cell forwards one row, not 10k (SkewBench measures
    * it). One shuffle total (cell), K rows out. */
  val x98ClusterReps = Q(
    "x98_cluster_reps",
    s"""WITH $semKDuck,
        ${lloydCtes("vec_id < (SELECT k FROM kq)")},
        asg AS (SELECT a.vec_id, a.v, a.cell, e.nrm
                FROM a$LloydMaxIter a JOIN e ON a.vec_id = e.vec_id),
        sc AS (SELECT asg.cell, asg.vec_id,
                      ${Cosine.duckDot("asg.v", "c.cv")} / (asg.nrm * ${Cosine.duckNorm("c.cv")}) AS cos
               FROM asg JOIN c${LloydMaxIter - 1} c ON asg.cell = c.cell),
        r AS (SELECT cell, vec_id, cos,
                     ROW_NUMBER() OVER (PARTITION BY cell ORDER BY cos DESC, vec_id) AS rnk
              FROM sc),
        cnt AS (SELECT cell, COUNT(*) AS n FROM a$LloydMaxIter GROUP BY cell)
        SELECT r.cell AS cell, r.vec_id AS rep_id, r.cos AS rep_cos, cnt.n AS n
        FROM r JOIN cnt ON r.cell = cnt.cell
        WHERE r.rnk = 1 ORDER BY cell""") { (spark, dir) =>
    val e = vecs(spark, dir).select(col("vec_id"), col("v"), col("nrm"))
    val k = semK(e.count())
    val res = lloydRun(spark, dir, k)
    val asg = assignCells(e, res.assignCent).ckpt
    import spark.implicits._
    val centDF = res.assignCent
      .map { case (c, cv) => (c, cv, jvmNorm(cv)) }
      .toDF("cell", "cv", "cnrm")
    val w = Window.partitionBy(col("cell")).orderBy(col("cos").desc, col("vec_id"))
    val reps = asg.join(broadcast(centDF), "cell")
      .withColumn("cos", Cosine.dot(col("v"), col("cv")) / (col("nrm") * col("cnrm")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1)
      .select(col("cell"), col("vec_id").as("rep_id"), col("cos").as("rep_cos"))
    asg.groupBy("cell").agg(count(lit(1)).as("n"))
      .join(reps, "cell")
      .select("cell", "rep_id", "rep_cos", "n")
      .orderBy("cell")
  }

  /** Scalar int8 quantization + top-5 cosine over the QUANTIZED vectors:
    * each vector is scaled to its own max-abs and rounded to the integer
    * grid [-127, 127] (symmetric per-vector scalar quantization), then
    * ranked exactly like [[s32KnnBruteforce]]. RecallSpec measures
    * recall@5 ≥ 0.9 against the float ranking.
    *
    * Why it matters at 100 TB: int8 embeddings are 4× smaller than
    * float32 (8× vs double) — shuffle volume, cache footprint, and scan
    * bytes all shrink by that factor, and the integer dot is exact in
    * double so the two engines agree bit-for-bit. The quantized column
    * composes with the bucketed candidate generators (s33/s34/s36)
    * unchanged; the brute-force here is the bounded audit baseline
    * (broadcast 10-query side, one linear scan — s32's contract). */
  val s37QuantizedKnn = Q(
    "s37_quantized_knn",
    s"""WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        qz AS (SELECT vec_id, list_transform(v, x -> round(x * 127.0 /
                 greatest(list_max(list_transform(v, y -> abs(y))), 1e-12))) AS qv
               FROM e0),
        qn AS (SELECT vec_id, qv, ${Cosine.duckNorm("qv")} AS nrm FROM qz),
        p AS (SELECT q.vec_id AS q_id, n.vec_id AS n_id,
                     ${Cosine.duckDot("q.qv", "n.qv")} / (q.nrm * n.nrm) AS qcos
              FROM qn q JOIN qn n ON n.vec_id <> q.vec_id
              WHERE q.vec_id < 10),
        r AS (SELECT q_id, n_id, qcos,
                     ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY qcos DESC, n_id) AS rnk
              FROM p)
        SELECT q_id, n_id, CAST(rnk AS BIGINT) AS rnk, qcos
        FROM r WHERE rnk <= 5 ORDER BY q_id, rnk""") { (spark, dir) =>
    val raw = T(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    // same multiply/divide/round shape as the oracle's list_transform —
    // the per-element arithmetic must match bit-for-bit
    val e = raw.select(col("vec_id"), expr(
        "transform(v, x -> round(x * 127.0 / " +
          "greatest(array_max(transform(v, y -> abs(y))), cast(1e-12 as double))))")
        .as("qv"))
      .withColumn("nrm", Cosine.norm(col("qv")))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("qv").as("vq"), col("nrm").as("nq"))
    val n = e.select(col("vec_id").as("n_id"), col("qv").as("vn"), col("nrm").as("nn"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("qcos").desc, col("n_id"))
    broadcast(q).join(n, col("n_id") =!= col("q_id"))
      .withColumn("qcos", Cosine.dot(col("vq"), col("vn")) / (col("nq") * col("nn")))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 5)
      .select("q_id", "n_id", "rnk", "qcos")
      .orderBy("q_id", "rnk")
  }

  // Product quantization: M=8 subspaces × 8 dims, K=16 codewords per
  // subspace (codebook = the int8 sub-slices of vec_id < 16, the same
  // deterministic-seed convention as s34's centroids; full codebook
  // TRAINING is x95's Lloyd machinery applied per subspace — the seeding
  // here keeps the oracle exact). 8 codes of 4 bits each = 4 bytes per
  // vector vs 256 bytes float32: a 64× compression of the corpus.
  private val PqM = 8
  private val PqSubDim = 8 // = Dim / PqM
  private val PqK = 16

  /** Candidates the ADC stage forwards per query to the exact re-rank
    * (a constant — 2% of the corpus at sf0.1, shrinking relatively as N
    * grows; recall@5 at this SF: 0.94 vs 0.58 with top-25). */
  private val PqRerank = 100

  /** (vec_id, qv): the s37 int8 grid as bigints — every downstream PQ
    * step is exact integer arithmetic on these. */
  private[graft] def pqQuantized(spark: SparkSession, dir: String): DataFrame =
    T(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .select(col("vec_id"), expr(
        "transform(v, x -> cast(round(x * 127.0 / " +
          "greatest(array_max(transform(v, y -> abs(y))), cast(1e-12 as double))) as bigint))")
        .as("qv"))

  /** (vec_id, s, sub): each vector split into its [[PqM]] sub-vectors. */
  private[graft] def pqSubs(qz: DataFrame): DataFrame = qz
    .select(col("vec_id"), explode(expr(s"sequence(0, ${PqM - 1})")).as("s"), col("qv"))
    .select(col("vec_id"), col("s"),
      expr(s"slice(qv, s * $PqSubDim + 1, $PqSubDim)").as("sub"))

  /** The codebook frame (s, c, cw): sub-vectors of vec_id < [[PqK]]. */
  private[graft] def pqCodebookFrame(subs: DataFrame): DataFrame =
    subs.filter(col("vec_id") < PqK)
      .select(col("s"), col("vec_id").as("c"), col("sub").as("cw"))

  /** Driver-side codebook matrix in ascending (s, c) order — codeword
    * index == source vec_id, so the expression's code ids coincide with
    * the codebook frame's `c` column. */
  private[graft] def pqBooks(cb: DataFrame): IndexedSeq[IndexedSeq[IndexedSeq[Long]]] = {
    val rows = cb.select(col("s"), col("c"), col("cw")).collect()
    (0 until PqM).map { s =>
      rows.filter(_.getInt(0) == s).sortBy(_.getLong(1))
        .map(_.getSeq[Long](2).toIndexedSeq).toIndexedSeq
    }
  }

  /** DuckDB dialect of [[pqEncode]] over `e0`: the int8 grid `qz`, the
    * sub-vectors `subs`, the codebook `cb`, every vector's codes `codes`
    * (n_id, s, c) and the query sub-vectors `qsub` (q_id, s, sub). */
  private val duckPqCodes =
    s"""qz AS (SELECT vec_id, list_transform(v, x -> CAST(round(x * 127.0 /
                 greatest(list_max(list_transform(v, y -> abs(y))), 1e-12)) AS BIGINT)) AS qv
               FROM e0),
        subs AS (SELECT vec_id, s, qv[s*$PqSubDim+1 : s*$PqSubDim+$PqSubDim] AS sub
                 FROM qz, range(0, $PqM) r(s)),
        cb AS (SELECT s, vec_id AS c, sub AS cw FROM subs WHERE vec_id < $PqK),
        pasg AS (SELECT subs.vec_id, subs.s, cb.c,
                        list_reduce(list_prepend(CAST(0 AS BIGINT),
                          list_transform(range(1, $PqSubDim + 1),
                            i -> (sub[i] - cw[i]) * (sub[i] - cw[i]))),
                          (a, t) -> a + t) AS dist
                 FROM subs JOIN cb ON subs.s = cb.s),
        codes AS (SELECT vec_id AS n_id, s, c
                  FROM (SELECT vec_id, s, c, ROW_NUMBER() OVER (
                          PARTITION BY vec_id, s ORDER BY dist, c) AS rnk FROM pasg)
                  WHERE rnk = 1),
        qsub AS (SELECT vec_id AS q_id, s, sub FROM subs WHERE vec_id < 10)"""

  /** DuckDB dialect of [[pqRerank]]'s norms: `eq` (vec_id, qv, nrm). */
  private val duckPqNorms =
    s"""eq AS (SELECT vec_id, qv, sqrt(CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(qv, x -> x * x)), (a, t) -> a + t) AS DOUBLE)) AS nrm
               FROM qz)"""

  /** DuckDB dialect of [[pqRerank]]'s exact integer cosine between the
    * int8 vectors of `q` and `n`, as `qcos`. */
  private val duckPqCos =
    s"""CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                        list_transform(range(1, ${PqM * PqSubDim + 1}),
                          i -> q.qv[i] * n.qv[i])), (a, t) -> a + t) AS DOUBLE)
                        / (q.nrm * n.nrm) AS qcos"""

  /** PQ encode of the quantized vectors `qz`, shared by s38 and s43: the
    * codebook frame `cb` (s, c, cw), every vector's codes (n_id, s, c)
    * and the query sub-vectors (q_id, s, qsub) of vec_id < 10. Encode is
    * MAP-ONLY: the 8×16 codebook collects driver-side (the K·Dim-matrix
    * pattern x95 already uses) and rides into the codegen'd
    * codebook_argmin as one reference object — no 16-way explode-join,
    * no per-(vector, subspace) window shuffle. FunctionsSpec pins these
    * codes bit-equal to the join+window form the oracle runs in SQL. */
  private def pqEncode(qz: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val subs = pqSubs(qz).ckpt
    val cb = pqCodebookFrame(subs)
    val codes = subs
      .withColumn("c",
        graft.functions.CodebookArgmin(col("sub"), col("s"), pqBooks(cb)))
      .select(col("vec_id").as("n_id"), col("s"), col("c"))
    val qsub = subs.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("s"), col("sub").as("qsub"))
    (cb, codes, qsub)
  }

  /** ADC: a candidate's score is the sum of its per-subspace dots
    * query-slice·codeword (`ds`), an exact bigint. */
  private val PqAdcDot =
    "aggregate(zip_with(qsub, cw, (x, y) -> x * y), cast(0 as bigint), (a, t) -> a + t)"

  /** The [[PqRerank]] best-scored candidates per query (score DESC, n_id
    * ASC) of ADC partial dots `ds`, summed per `keys`. */
  private def adcShortlist(parts: DataFrame, keys: String*): DataFrame = {
    val wAdc = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("n_id"))
    parts.groupBy(keys.map(col): _*)
      .agg(sum(col("ds")).as("score"))
      .withColumn("rnk", row_number().over(wAdc))
      .filter(col("rnk") <= PqRerank)
      .select(keys.map(col): _*)
  }

  /** The exact int8 re-rank of a (q_id, n_id, …) shortlist over the
    * quantized vectors `qz`: `qcos` and the long `rnk` (qcos DESC, n_id
    * ASC), top 5 per query. */
  private def pqRerank(cand: DataFrame, qz: DataFrame): DataFrame = {
    val e = qz.withColumn("nrm", sqrt(expr(
      "aggregate(transform(qv, x -> x * x), cast(0 as bigint), (a, t) -> a + t)")
      .cast("double")))
    val wTop = Window.partitionBy(col("q_id")).orderBy(col("qcos").desc, col("n_id"))
    cand
      .join(e.select(col("vec_id").as("q_id"), col("qv").as("vq"), col("nrm").as("nq")), "q_id")
      .join(e.select(col("vec_id").as("n_id"), col("qv").as("vn"), col("nrm").as("nn")), "n_id")
      .withColumn("qcos", expr(
        "aggregate(zip_with(vq, vn, (x, y) -> x * y), cast(0 as bigint), (a, t) -> a + t)")
        .cast("double") / (col("nq") * col("nn")))
      .withColumn("rnk", row_number().over(wTop).cast("long"))
      .filter(col("rnk") <= 5)
  }

  /** s38: product-quantized KNN — ADC candidate pruning + exact re-rank,
    * the third tier of the ANN compression story (float s32 → int8 s37 →
    * PQ s38) and the production PQ shape. Vectors are s37-quantized to
    * the int8 grid, split into [[PqM]] subspaces, and each subspace is
    * replaced by the id of its nearest codeword (integer L2, exact).
    * Stage 1 (ADC, asymmetric distance computation): a query is scored
    * against CODES, not vectors — the per-subspace dots
    * query-slice·codeword sum to an exact bigint score, so the corpus
    * scan touches only the 4-byte codes and the broadcast 128-entry
    * codebook: at 100 TB the raw embedding column is never read in the
    * scoring scan (64× less bytes), and the stage composes with the
    * IVF/LSH candidate generators (s33/s34/s36) unchanged. Stage 2:
    * only the [[PqRerank]] ADC-best candidates per query fetch their
    * quantized vectors for an exact cosine re-rank (s37's integer
    * formula) — a per-query-constant number of point lookups. Both
    * stages are integer-exact until the final normalize, so the oracle
    * compares raw doubles; RecallSpec audits end-to-end recall@5
    * against the float ranking — the accuracy cost of the compression,
    * measured not assumed. */
  val s38PqKnn = Q(
    "s38_pq_knn",
    s"""WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        $duckPqCodes,
        parts AS (SELECT q.q_id, codes.n_id,
                         list_reduce(list_prepend(CAST(0 AS BIGINT),
                           list_transform(range(1, $PqSubDim + 1),
                             i -> q.sub[i] * cb.cw[i])), (a, t) -> a + t) AS ds
                  FROM qsub q JOIN codes ON q.s = codes.s
                              JOIN cb ON cb.s = codes.s AND cb.c = codes.c),
        sc AS (SELECT q_id, n_id, SUM(ds) AS score
               FROM parts WHERE n_id <> q_id GROUP BY q_id, n_id),
        cand AS (SELECT q_id, n_id FROM (SELECT q_id, n_id, ROW_NUMBER() OVER (
                   PARTITION BY q_id ORDER BY score DESC, n_id) AS rnk FROM sc)
                 WHERE rnk <= $PqRerank),
        $duckPqNorms,
        rr AS (SELECT c.q_id, c.n_id,
                      $duckPqCos
               FROM cand c JOIN eq q ON c.q_id = q.vec_id
                           JOIN eq n ON c.n_id = n.vec_id),
        fin AS (SELECT q_id, n_id, qcos, ROW_NUMBER() OVER (
                  PARTITION BY q_id ORDER BY qcos DESC, n_id) AS rnk FROM rr)
        SELECT q_id, n_id, CAST(rnk AS BIGINT) AS rnk, qcos
        FROM fin WHERE rnk <= 5 ORDER BY q_id, rnk""") { (spark, dir) =>
    val qz = pqQuantized(spark, dir)
    val (cb, codes, qsub) = pqEncode(qz)
    val cand = adcShortlist(broadcast(qsub).join(codes, "s")
      .join(broadcast(cb), Seq("s", "c"))
      .withColumn("ds", expr(PqAdcDot))
      .filter(col("n_id") =!= col("q_id")), "q_id", "n_id")
    pqRerank(cand, qz)
      .select("q_id", "n_id", "rnk", "qcos")
      .orderBy("q_id", "rnk")
  }

  /** s40: KNN-GRAPH construction — top-3 neighbors for EVERY corpus
    * vector (not a small query set), the all-corpus neighbor graph
    * behind graph-based clustering, label propagation over embeddings,
    * and d34-style semantic dup components. Candidates are the
    * multi-probe LSH rule shared with d33/s36 ([[probeMasks]] — own
    * bucket + 6 Hamming-1 probes), taken in BOTH directions (q probes
    * into n's bucket), ranked per vector by exact cosine.
    *
    * Scale: the neighbor side of the candidate join is CAPPED at
    * [[KnnBucketCap]] hash-ranked members per bucket (the d28
    * MaxShingleDf discipline applied to LSH buckets), so candidate
    * pairs are ≤ N · 7 · cap — LINEAR in the corpus however populous a
    * bucket grows, where the uncapped same-bucket self-join was
    * quadratic in bucket population at a fixed bucket count. Every
    * vector still appears as a QUERY (the graph covers the whole
    * corpus); only its visibility as a CANDIDATE is sampled, and the
    * hash rank makes that sample deterministic and uniform (no
    * first-by-id bias). Retrieval quality under the cap is gated by
    * RecallSpec's recall@3 audit against the uncapped exact graph; the
    * rank ≤ 3 filter is a map-side WindowGroupLimit before the final
    * shuffle. Output is N·3 rows — never the N² brute-force graph. */
  /** Per-bucket candidate cap for the KNN graph (neighbor-side members
    * per LSH bucket). 32 ≈ the sf0.1 mean bucket population, so the cap
    * binds exactly where populations exceed today's design point —
    * VolumeBench's 10×/100× corpora — keeping per-query candidate work
    * constant beyond it. At production scale the hyperplane count would
    * also grow with log₂(N) (more buckets), but the cap alone already
    * guarantees the linear bound. */
  private[operators] val KnnBucketCap = 32

  /** The s40 graph's SQL CTE chain (bucketing → per-bucket hash-ranked
    * candidate cap → probes → candidates → per-vector top-3 edges as
    * `g(q_id, n_id)`) — shared verbatim by the s40 oracle and the x107
    * PageRank oracle so "the graph" is a single definition across
    * queries. */
  private def duckKnnGraph =
    s"""bk AS (SELECT vec_id, v, nrm, $bucketDuck AS bucket FROM e, w),
        bc AS (SELECT vec_id, v, nrm, bucket FROM (
                 SELECT *, ROW_NUMBER() OVER (PARTITION BY bucket
                   ORDER BY ${H.d("CAST(vec_id AS VARCHAR)")}, vec_id) AS brk
                 FROM bk) WHERE brk <= $KnnBucketCap),
        pr AS (SELECT vec_id AS q_id, v, nrm, ${probeUnnestDuck("bucket")} AS pb
               FROM bk),
        cand AS (SELECT a.q_id, b.vec_id AS n_id,
                        ${Cosine.duckDot("a.v", "b.v")} / (a.nrm * b.nrm) AS cos
                 FROM pr a JOIN bc b ON a.pb = b.bucket AND a.q_id <> b.vec_id),
        r AS (SELECT q_id, n_id, cos,
                     ROW_NUMBER() OVER (PARTITION BY q_id
                       ORDER BY cos DESC, n_id) AS rnk FROM cand)"""

  /** Spark twin of [[duckKnnGraph]]: the ranked top-3 edge list
    * (q_id, n_id, cos, rnk), shared by [[s40KnnGraph]] and
    * [[x107Pagerank]]. `nHp` is the LSH resolution — the registered
    * queries run at [[NumHp]]; RecallSpec and VolumeBench's recall
    * probe drive higher resolutions ([[adaptiveHyperplanes]]) to
    * measure what resolution buys when bucket populations outgrow
    * [[KnnBucketCap]]. */
  private[operators] def knnGraphRankedAt(spark: SparkSession, dir: String,
      nHp: Int, querySample: Option[DataFrame] = None): DataFrame = {
    val bk = bucketedVecsAt(spark, dir, nHp)
    // querySample restricts the QUERY side only (per-query ranking is
    // independent, so sampled rows are identical to the full graph's) —
    // the recall probe's way of auditing a huge corpus at sampled cost
    val aBase = querySample.fold(bk)(s =>
      bk.join(broadcast(s.select("vec_id")), Seq("vec_id"), "left_semi"))
    val a = aBase.select(col("vec_id").as("q_id"), col("v").as("va"),
      col("nrm").as("na"), probeBucketsFor(col("bucket"), nHp).as("pb"))
    // neighbor side: ≤ KnnBucketCap hash-ranked members per bucket — the
    // one-window (O(N) rows keyed by bucket) linearity bound above
    val bw = Window.partitionBy(col("bucket"))
      .orderBy(expr(H.s("cast(vec_id as string)")), col("vec_id"))
    val b = bk.withColumn("brk", row_number().over(bw))
      .filter(col("brk") <= KnnBucketCap)
      .select(col("vec_id").as("n_id"), col("v").as("vb"),
        col("nrm").as("nb"), col("bucket").as("bb"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    a.join(b, col("pb") === col("bb") && col("q_id") =!= col("n_id"))
      .withColumn("cos", Cosine.dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
  }
  private[operators] def knnGraphRanked(spark: SparkSession, dir: String): DataFrame =
    knnGraphRankedAt(spark, dir, NumHp)

  /** The exact top-3 (q_id, n_id) of the sampled queries `qIds` (vec_id)
    * against all of `e` — the truth both the recall probe and s49 audit
    * the capped graph against; ≤ 3·|qIds| rows, materialized once. */
  private def exactTop3(e: DataFrame, qIds: DataFrame): DataFrame =
    topByCosRaw(allPairs(e, asQueries(e.join(broadcast(qIds), Seq("vec_id"), "left_semi"))), 3)
      .select("q_id", "n_id")
      .ckpt

  /** Recall@3 of the capped s40 graph against the EXACT top-3, measured
    * on a deterministic hash-ranked query sample — the quality axis of
    * the scale gauntlet ([[KnnBucketCap]] bounds COST at any bucket
    * population; this measures what that cap plus the LSH resolution do
    * to the GRAPH as populations grow). Returns recall at the default
    * resolution and at [[adaptiveHyperplanes]](N), so the gauntlet
    * record shows both what the shipped default delivers at mult× and
    * what the documented resolution rule buys back. Cost: one exact
    * pass (|sample|·N dots, sample side broadcast) plus two
    * sampled-query graph builds — the corpus-sized work per build is
    * the bucketing scan and the per-bucket cap window, both linear. */
  private[graft] def knnRecallProbe(spark: SparkSession, dir: String,
      nQueries: Int = 50): Map[String, Double] = {
    val e = vecs(spark, dir)
    val n = e.count()
    val qIds = e.select(col("vec_id"))
      .orderBy(expr(H.s("cast(vec_id as string)")), col("vec_id"))
      .limit(nQueries)
      .ckpt
    val exact = exactTop3(e, qIds)
    val denom = exact.count().toDouble
    def recallAt(nHp: Int): Double =
      knnGraphRankedAt(spark, dir, nHp, Some(qIds))
        .select("q_id", "n_id")
        .join(exact, Seq("q_id", "n_id"), "left_semi")
        .count().toDouble / denom
    val ad = adaptiveHyperplanes(n)
    val rDefault = recallAt(NumHp)
    Map(
      "n_vectors" -> n.toDouble,
      "n_queries" -> math.min(nQueries.toLong, n).toDouble,
      "nhp_default" -> NumHp.toDouble,
      "recall3_default" -> rDefault,
      "nhp_adaptive" -> ad.toDouble,
      "recall3_adaptive" -> (if (ad == NumHp) rDefault else recallAt(ad)))
  }

  val s40KnnGraph = Q(
    "s40_knn_graph",
    s"""WITH $duckVecs, $duckW,
        $duckKnnGraph
        SELECT q_id, n_id, cos, CAST(rnk AS BIGINT) AS rnk
        FROM r WHERE rnk <= 3 ORDER BY q_id, rnk""") { (spark, dir) =>
    knnGraphRanked(spark, dir)
      .select("q_id", "n_id", "cos", "rnk")
      .orderBy("q_id", "rnk")
  }

  /** One PageRank sweep in DuckDB dialect: nodes LEFT JOIN incoming
    * edges, each carrying its source's previous rank split over its
    * out-degree — pure bigint fixed-point (ppm scale), so three
    * engines' worth of doubles never enter the loop. */
  private def duckPrIter(prev: String, out: String) =
    s"""$out AS (SELECT n.vec_id,
          150000 + (85 * COALESCE(SUM(p.r // dg.d), 0)) // 100 AS r
        FROM nodes n
        LEFT JOIN g ON g.n_id = n.vec_id
        LEFT JOIN $prev p ON p.vec_id = g.q_id
        LEFT JOIN deg dg ON dg.q_id = g.q_id
        GROUP BY n.vec_id)"""

  /** x107: PageRank-style importance propagation over the [[s40KnnGraph]]
    * similarity graph — 3 damped sweeps (d = 0.85) of integer
    * fixed-point rank in parts-per-million. High-rank vectors sit at the
    * center of dense similarity neighborhoods: the graph-centrality
    * complement of [[x98ClusterReps]]'s geometric representatives, and
    * the embedding-space analogue of web-graph quality signals for
    * pretraining-data weighting. Bounded sweeps (not to convergence) by
    * contract — the curriculum/weighting consumer wants a stable, cheap
    * signal, and three sweeps already separate hubs from periphery.
    *
    * Exactness: all arithmetic is bigint — rank starts at 1,000,000 ppm,
    * each edge carries `r div out_degree`, damping is
    * `150000 + (85·Σ) div 100` — so both engines agree bit-for-bit with
    * no float summation order anywhere. Dangling leak is accepted by
    * contract (ranks are relative weights, not probabilities).
    *
    * Scale: the edge list is N·3 rows, computed ONCE and
    * lineage-truncated (localCheckpoint — the README checkpoint-per-round
    * rule); each sweep is one keyed join (edges ⋈ ranks on q_id) and one
    * partial-aggregated regroup on the destination — per-sweep shuffle
    * volume is O(edges), never O(N²), and the per-round materialization
    * is what keeps round k's plan constant-size. The candidate stage
    * inherits s40's per-bucket cap ([[KnnBucketCap]]) — linear at any
    * bucket population, audited in both scale gauntlets with s40. */
  /** One PageRank sweep (the Spark twin of [[duckPrIter]]): previous
    * ranks ride the degree-tagged edge list through one keyed join, the
    * per-destination contributions regroup with map-side partials, and
    * nodes without in-edges keep the damping base. NO checkpoint here —
    * the loop in [[x107Pagerank]] materializes each round (lineage
    * truncation), and PlanSpec gates THIS un-truncated plan shape. */
  private[graft] def prSweep(gd: DataFrame, nodes: DataFrame,
      r: DataFrame): DataFrame = {
    val contrib = gd
      .join(r.select(col("vec_id").as("q_id"), col("r").as("pr")), "q_id")
      .select(col("n_id").as("vec_id"), expr("pr div d").as("c"))
      .groupBy("vec_id").agg(sum(col("c")).as("sc"))
    nodes.join(contrib, Seq("vec_id"), "left")
      .select(col("vec_id"),
        expr("150000 + (85 * coalesce(sc, 0L)) div 100").as("r"))
  }

  /** The first x107 sweep WITHOUT any checkpoint, for PlanSpec: the full
    * declarative plan (edge join + partial-aggregated regroup) that each
    * materialized round executes. */
  private[graft] def x107FirstSweep(spark: SparkSession, dir: String): DataFrame = {
    val g = knnGraphRanked(spark, dir).select("q_id", "n_id")
    val nodes = vecs(spark, dir).select("vec_id")
    val gd = g.join(g.groupBy("q_id").agg(count(lit(1)).as("d")), "q_id")
    prSweep(gd, nodes, nodes.withColumn("r", lit(1000000L)))
  }

  val x107Pagerank = Q(
    "x107_graph_pagerank",
    s"""WITH $duckVecs, $duckW,
        $duckKnnGraph,
        g AS (SELECT q_id, n_id FROM r WHERE rnk <= 3),
        nodes AS (SELECT vec_id FROM e),
        deg AS (SELECT q_id, COUNT(*) AS d FROM g GROUP BY 1),
        r0 AS (SELECT vec_id, CAST(1000000 AS BIGINT) AS r FROM nodes),
        ${duckPrIter("r0", "r1")},
        ${duckPrIter("r1", "r2")},
        ${duckPrIter("r2", "r3")}
        SELECT vec_id, CAST(r AS BIGINT) AS pr_ppm
        FROM r3 ORDER BY vec_id""") { (spark, dir) =>
    val g = knnGraphRanked(spark, dir).select("q_id", "n_id").ckpt
    val nodes = vecs(spark, dir).select("vec_id")
    val deg = g.groupBy("q_id").agg(count(lit(1)).as("d"))
    // static across sweeps: each edge pre-tagged with its source degree
    val gd = g.join(deg, "q_id").ckpt
    var r = nodes.withColumn("r", lit(1000000L))
    for (_ <- 1 to 3)
      r = prSweep(gd, nodes, r).ckpt
    r.select(col("vec_id"), col("r").cast("long").as("pr_ppm"))
      .orderBy("vec_id")
  }

  /** x118 sweep count — bounded synchronous rounds by contract, the x107
    * posture: the curation consumer wants a stable cheap signal, and
    * synchronous LPA with a deterministic tie-break is exact at any fixed
    * round count (asynchronous LPA's convergence races are what make the
    * textbook algorithm nondeterministic — bounded synchronous sweeps
    * sidestep that entirely). */
  private[operators] val LpaSweeps = 3

  /** One synchronous label-propagation sweep in DuckDB dialect: every
    * node adopts its neighbors' MOST FREQUENT previous-round label, ties
    * broken by smallest label; isolated nodes keep their own. All-bigint
    * (labels ARE vec_ids), so both engines agree bit-for-bit. */
  private def duckLpaSweep(prev: String, out: String) =
    s"""${out}c AS (SELECT e.u, p.lbl, COUNT(*) AS c
          FROM ue e JOIN $prev p ON p.vec_id = e.w GROUP BY 1, 2),
        ${out}p AS (SELECT u, lbl,
          ROW_NUMBER() OVER (PARTITION BY u ORDER BY c DESC, lbl) AS rk
          FROM ${out}c),
        $out AS (SELECT pr.vec_id, COALESCE(pk.lbl, pr.lbl) AS lbl
          FROM $prev pr LEFT JOIN (SELECT u, lbl FROM ${out}p WHERE rk = 1)
            pk ON pk.u = pr.vec_id)"""

  /** Spark twin of [[duckLpaSweep]] — label counts are one keyed join +
    * one map-side-partial aggregate on (node, label); the argmax is a
    * per-node WindowGroupLimit (rank ≤ 1 cuts before the final shuffle);
    * the carry join keeps isolated nodes. NO checkpoint here — the loop
    * in [[x118LabelCommunities]] materializes each round, and PlanSpec
    * gates THIS un-truncated sweep shape. */
  private[graft] def lpaSweep(ue: DataFrame, prev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("u")).orderBy(col("c").desc, col("lbl"))
    val pick = ue
      .join(prev.select(col("vec_id").as("w_"), col("lbl")),
        col("w") === col("w_"))
      .groupBy(col("u"), col("lbl")).agg(count(lit(1)).as("c"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("u"), col("lbl").as("nl"))
    prev.join(pick, col("vec_id") === col("u"), "left")
      .select(col("vec_id"), coalesce(col("nl"), col("lbl")).as("lbl"))
  }

  /** The first x118 sweep WITHOUT any checkpoint, for PlanSpec. */
  private[graft] def x118FirstSweep(spark: SparkSession, dir: String): DataFrame = {
    val g = knnGraphRanked(spark, dir).select("q_id", "n_id")
    val ue = g.select(col("q_id").as("u"), col("n_id").as("w"))
      .union(g.select(col("n_id").as("u"), col("q_id").as("w"))).distinct()
    val init = vecs(spark, dir).select(col("vec_id"), col("vec_id").as("lbl"))
    lpaSweep(ue, init)
  }

  /** x118: label-propagation COMMUNITIES over the [[s40KnnGraph]]
    * similarity graph — [[LpaSweeps]] synchronous sweeps of
    * most-frequent-neighbor-label with min-label tie-break, over the
    * SYMMETRIZED edge set (q→n ∪ n→q, deduped: influence flows both ways
    * whichever side ranked the edge). Communities are the modularity-style
    * complement of [[Dedup.connectedComponents]]'s reachability clusters:
    * components glue everything touching, LPA splits a component along its
    * dense cores — the granularity topic-aware sampling and per-community
    * quota curation actually want (Raghavan et al., "Near linear time
    * algorithm to detect community structures in large-scale networks",
    * Phys. Rev. E 76, 2007; synchronous variant).
    *
    * Exactness: labels are vec_ids and counts are bigints end-to-end —
    * no floats, both engines bit-agree; the (count desc, label asc) argmax
    * is a total order, so the sweep is a pure function of the previous
    * labeling.
    *
    * Scale: the edge list is N·3 rows symmetrized to ≤ N·6, computed ONCE
    * and lineage-truncated; each sweep shuffles O(edges) — a keyed join,
    * a (node, label) partial-aggregated count whose group count is
    * bounded by the edge count, a per-node rank-1 window (map-side
    * WindowGroupLimit), and a left-join carry — never O(N²). Per-round
    * materialization keeps round k's plan constant-size, the x107
    * contract. The candidate stage inherits s40's per-bucket cap
    * ([[KnnBucketCap]]) — audited in both scale gauntlets with s40. */
  /** The x118 CTE chain through `comm(vec_id, community, csize)` — shared
    * by the x118 oracle and the x119 sampler oracle so "the communities"
    * are a single definition across queries (the duckKnnGraph pattern). */
  private def duckLpaChain =
    s"""$duckVecs, $duckW,
        $duckKnnGraph,
        g AS (SELECT q_id, n_id FROM r WHERE rnk <= 3),
        ue AS (SELECT q_id AS u, n_id AS w FROM g
               UNION SELECT n_id, q_id FROM g),
        l0 AS (SELECT vec_id, vec_id AS lbl FROM e),
        ${(1 to LpaSweeps).map(i => duckLpaSweep(s"l${i - 1}", s"l$i"))
      .mkString(",\n        ")},
        sz AS (SELECT lbl, CAST(COUNT(*) AS BIGINT) AS csize
               FROM l$LpaSweeps GROUP BY lbl),
        comm AS (SELECT f.vec_id, f.lbl AS community, sz.csize
                 FROM l$LpaSweeps f JOIN sz ON sz.lbl = f.lbl)"""

  /** Spark twin of [[duckLpaChain]]: the labeled corpus
    * (vec_id, community, csize), shared by x118 and x119. */
  private[operators] def lpaCommunities(spark: SparkSession, dir: String): DataFrame =
    lpaCommunitiesFrom(spark, dir,
      knnGraphRanked(spark, dir).select("q_id", "n_id").ckpt)

  /** [[lpaCommunities]] over a caller-supplied (already materialized)
    * edge frame — lets x130 build the s40 graph ONCE and feed both the
    * community and the triangle kernels. */
  private[operators] def lpaCommunitiesFrom(spark: SparkSession, dir: String,
      g: DataFrame): DataFrame = {
    val ue = g.select(col("q_id").as("u"), col("n_id").as("w"))
      .union(g.select(col("n_id").as("u"), col("q_id").as("w")))
      .distinct().ckpt
    var lbl = vecs(spark, dir).select(col("vec_id"), col("vec_id").as("lbl"))
    for (_ <- 1 to LpaSweeps)
      lbl = lpaSweep(ue, lbl).ckpt
    val sz = lbl.groupBy("lbl").agg(count(lit(1)).as("csize"))
    lbl.join(sz, "lbl")
      .select(col("vec_id"), col("lbl").as("community"), col("csize"))
  }

  val x118LabelCommunities = Q(
    "x118_label_communities",
    s"""WITH $duckLpaChain
        SELECT vec_id, community, csize FROM comm
        ORDER BY vec_id""") { (spark, dir) =>
    lpaCommunities(spark, dir).orderBy("vec_id")
  }

  /** x119: diversity-preserving community SUBSAMPLE — per x118 community,
    * keep its floor(sqrt(size)) hash-ranked members (the integer-exact
    * form `rnk² ≤ csize`, so no float sqrt enters either engine). Sqrt
    * scaling is the square-root-inverse temperature of x102 applied at
    * community granularity: a 10k-member topic cluster contributes 100
    * docs, a 4-member one contributes 2 — flattening the head-heavy
    * community-size distribution the way multilingual/multi-source
    * pretraining mixes flatten corpus sizes, while the hash rank makes
    * the within-community pick deterministic and uniform (no
    * first-by-id bias).
    *
    * Scale: the only addition over x118 is ONE window keyed by community
    * — O(N) shuffle on the community id; the quota predicate is a
    * map-side filter on the ranked rows. Communities are bounded by
    * their components, and a pathological giant community costs one
    * sorted partition, the same contract as every keyed window here. */
  val x119CommunitySample = Q(
    "x119_community_sample",
    s"""WITH $duckLpaChain,
        rk AS (SELECT vec_id, community, csize,
                      ROW_NUMBER() OVER (PARTITION BY community
                        ORDER BY ${H.d("CAST(vec_id AS VARCHAR)")}, vec_id)
                        AS rnk
               FROM comm)
        SELECT vec_id, community, csize, CAST(rnk AS BIGINT) AS rnk
        FROM rk WHERE rnk * rnk <= csize
        ORDER BY vec_id""") { (spark, dir) =>
    val w = Window.partitionBy(col("community"))
      .orderBy(expr(H.s("cast(vec_id as string)")), col("vec_id"))
    lpaCommunities(spark, dir)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(expr("rnk * rnk <= csize"))
      .select("vec_id", "community", "csize", "rnk")
      .orderBy("vec_id")
  }

  /** x127: TRIANGLE COUNT / local clustering coefficient over the
    * MUTUAL-KNN graph — the cluster-cohesion diagnostic for the
    * similarity graph: a node whose mutual neighbors also neighbor each
    * other (lcc → 10⁶ ppm) sits inside a tight semantic cluster (a
    * SemDeDup/community candidate); lcc ≈ 0 marks hub/bridge vectors
    * whose "neighbors" don't agree. Restricting to MUTUAL edges (both
    * directions present in s40's top-3 graph) is what makes the count
    * EXACT and linear: out-degree ≤ 3 by construction bounds mutual
    * degree at 3, so wedges ≤ 3N and the closing semi-join is keyed —
    * the directed graph's unbounded in-degree (the 10k-dup hot bucket)
    * never enters a join. lcc_ppm = 2·tri·10⁶ div (deg·(deg−1)),
    * integer, both engines bit-agree; nodes with no mutual edge are
    * not rows (documented — the graph's isolated points).
    *
    * Scale: mu ≤ 3N edges from one self-join of the capped s40 graph on
    * (q_id, n_id) ↔ (n_id, q_id); wedges e1⋈e2 on the shared endpoint
    * ≤ 3 per node; triangle close is a left-semi on the edge key. All
    * equi-joins on bounded frames. */
  /** The mutual-edge triangle CTEs over a `g(q_id, n_id)` edge list
    * (`mu`→`deg`→`tri`→`tn`) — x127's kernel, shared with the
    * per-community cohesion rollup ([[x130CommunityCohesion]]) so "a
    * triangle" is one SQL definition across the graph diagnostics. */
  private def duckTriChain =
    s"""mu AS (SELECT a.q_id AS u, a.n_id AS w FROM g a
               JOIN g b ON a.q_id = b.n_id AND a.n_id = b.q_id
               WHERE a.q_id < a.n_id),
        deg AS (SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS deg FROM (
                  SELECT u AS vec_id FROM mu
                  UNION ALL SELECT w FROM mu) GROUP BY vec_id),
        tri AS (SELECT e1.u AS a, e1.w AS b, e2.w AS c
                FROM mu e1 JOIN mu e2 ON e1.w = e2.u
                WHERE EXISTS (SELECT 1 FROM mu e3
                              WHERE e3.u = e1.u AND e3.w = e2.w)),
        tn AS (SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
                 SELECT a AS vec_id FROM tri
                 UNION ALL SELECT b FROM tri
                 UNION ALL SELECT c FROM tri) GROUP BY vec_id),
        lcc AS (SELECT d.vec_id, d.deg,
                       CAST(COALESCE(tn.n_tri, 0) AS BIGINT) AS n_tri,
                       CAST(CASE WHEN d.deg >= 2
                                 THEN COALESCE(tn.n_tri, 0) * 2000000
                                        // (d.deg * (d.deg - 1))
                                 ELSE 0 END AS BIGINT) AS lcc_ppm
                FROM deg d LEFT JOIN tn ON d.vec_id = tn.vec_id)"""

  /** Spark twin of [[duckTriChain]]: (vec_id, deg, n_tri, lcc_ppm) over
    * the mutual restriction of the s40 graph — shared by x127 and
    * x130. */
  private def mutualLcc(spark: SparkSession, dir: String): DataFrame =
    mutualLccFrom(knnGraphRanked(spark, dir).select(col("q_id"), col("n_id")))

  private def mutualLccFrom(g: DataFrame): DataFrame = {
    val mu = g
      .join(g.select(col("q_id").as("rq"), col("n_id").as("rn")),
        col("q_id") === col("rn") && col("n_id") === col("rq"))
      .filter(col("q_id") < col("n_id"))
      .select(col("q_id").as("u"), col("n_id").as("w"))
      .ckpt // ≤ 3N rows, consumed by deg, two wedge sides and the close
    val deg = mu.select(col("u").as("vec_id"))
      .unionAll(mu.select(col("w").as("vec_id")))
      .groupBy("vec_id").agg(count(lit(1)).as("deg"))
    val tri = mu.select(col("u").as("a"), col("w").as("b"))
      .join(mu.select(col("u").as("b2"), col("w").as("c")),
        col("b") === col("b2"))
      .join(mu.select(col("u").as("su"), col("w").as("sw")),
        col("a") === col("su") && col("c") === col("sw"), "left_semi")
      .select(col("a"), col("b"), col("c"))
    val tn = tri.select(col("a").as("vec_id"))
      .unionAll(tri.select(col("b").as("vec_id")))
      .unionAll(tri.select(col("c").as("vec_id")))
      .groupBy("vec_id").agg(count(lit(1)).as("n_tri"))
    deg.join(tn, Seq("vec_id"), "left")
      .select(col("vec_id"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        when(col("deg") >= 2,
          expr("coalesce(n_tri, 0) * 2000000 div (deg * (deg - 1))"))
          .otherwise(lit(0L)).as("lcc_ppm"))
  }

  val x127GraphTriangles = Q(
    "x127_graph_triangles",
    s"""WITH $duckVecs, $duckW,
        $duckKnnGraph,
        g AS (SELECT q_id, n_id FROM r WHERE rnk <= 3),
        $duckTriChain
        SELECT vec_id, deg, n_tri, lcc_ppm
        FROM lcc ORDER BY vec_id""") { (spark, dir) =>
    mutualLcc(spark, dir).orderBy("vec_id")
  }

  /** x130: per-COMMUNITY cohesion — x127's triangle/lcc diagnostics
    * rolled up onto x118's label-propagation communities: member count,
    * how many members have any mutual edge, total mutual degree,
    * node-triangle mass, and the mean lcc in ppm (over ALL members —
    * an isolated member contributes 0, exactly the dilution a cohesion
    * score should feel). This is the dup-cluster-quality table that
    * decides WHICH communities SemDeDup (x96) should collapse: high
    * mean-lcc communities are tight semantic piles (collapse), low-lcc
    * ones are topical neighborhoods (keep). Pure composition of two
    * green operators — both kernels reused verbatim ([[lpaCommunities]],
    * [[mutualLcc]] / [[duckTriChain]]).
    *
    * Scale: the lcc table is ≤ N rows from x127's bounded joins, the
    * rollup is one keyed aggregate on community — O(N) shuffle, same
    * contract as x118 itself. */
  val x130CommunityCohesion = Q(
    "x130_community_cohesion",
    s"""WITH $duckLpaChain,
        $duckTriChain,
        j AS (SELECT c.community, c.csize,
                     COALESCE(l.deg, 0) AS deg,
                     COALESCE(l.n_tri, 0) AS n_tri,
                     COALESCE(l.lcc_ppm, 0) AS lcc_ppm
              FROM comm c LEFT JOIN lcc l ON c.vec_id = l.vec_id)
        SELECT community, CAST(MAX(csize) AS BIGINT) AS n_members,
               CAST(SUM(CASE WHEN deg > 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_mutual,
               CAST(SUM(deg) AS BIGINT) AS sum_deg,
               CAST(SUM(n_tri) AS BIGINT) AS sum_tri,
               CAST(SUM(lcc_ppm) // MAX(csize) AS BIGINT) AS mean_lcc_ppm
        FROM j GROUP BY community ORDER BY community""") { (spark, dir) =>
    // ONE graph build feeds both kernels (materialized once; the two
    // consumers otherwise each rebuild the candidate join + rank)
    val g = knnGraphRanked(spark, dir).select("q_id", "n_id").ckpt
    val lcc = mutualLccFrom(g)
    lpaCommunitiesFrom(spark, dir, g)
      .join(lcc, Seq("vec_id"), "left")
      .select(col("community"), col("csize"),
        coalesce(col("deg"), lit(0L)).as("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        coalesce(col("lcc_ppm"), lit(0L)).as("lcc_ppm"))
      .groupBy("community")
      .agg(max(col("csize")).as("n_members"),
        sum(when(col("deg") > 0, 1L).otherwise(0L)).as("n_mutual"),
        sum(col("deg")).as("sum_deg"),
        sum(col("n_tri")).as("sum_tri"),
        expr("sum(lcc_ppm) div max(csize)").as("mean_lcc_ppm"))
      .orderBy("community")
  }

  /** s49: KNN-graph RECALL AUDIT as an oracle row — per sampled query
    * (20 hash-ranked vectors), how many of its exact top-3 neighbors
    * the capped s40 graph actually found, with the per-query recall in
    * ppm. The graph-quality number the gauntlet probe measures at
    * volume ([[knnRecallProbe]]) made CROSS-ENGINE CHECKABLE at the
    * base SF: both engines independently derive the exact ranking AND
    * the capped graph, so a divergence in either shows up as a hash
    * mismatch, and the recorded recall is a standing correctness
    * artifact rather than a spec-side number.
    *
    * Scale: the exact side is |sample|·N dots with the 20-row query
    * side broadcast (the s32 contract confined to a fixed sample — at
    * 100 TB this row stays sample-bounded); the graph side inherits
    * s40's cap.
    *
    * Reading the number: the synthetic sf embeddings are near-uniform
    * (labels, not geometric clusters), the adversarial regime for any
    * LSH — ~0.2-0.25 mean recall here is the multi-probe envelope on
    * unstructured vectors, NOT a defect; on clustered corpora the same
    * graph measures 0.85-0.96 (RecallSpec's ladder, the VolumeBench
    * probe at adaptive resolution). The row exists so that number is
    * pinned cross-engine and visible per query. */
  val s49GraphRecallAudit = Q(
    "s49_graph_recall_audit",
    s"""WITH $duckVecs, $duckW,
        $duckKnnGraph,
        qs AS (SELECT vec_id AS q_id FROM e
               ORDER BY ${H.d("CAST(vec_id AS VARCHAR)")}, vec_id LIMIT 20),
        g AS (SELECT q_id, n_id FROM r
              WHERE rnk <= 3 AND q_id IN (SELECT q_id FROM qs)),
        ex0 AS (SELECT q.q_id, n.vec_id AS n_id,
                       ${Cosine.duckDot("eq.v", "n.v")} / (eq.nrm * n.nrm) AS cos
                FROM qs q JOIN e eq ON eq.vec_id = q.q_id
                JOIN e n ON n.vec_id <> q.q_id),
        ex AS (SELECT q_id, n_id FROM (
                 SELECT q_id, n_id,
                        ROW_NUMBER() OVER (PARTITION BY q_id
                          ORDER BY cos DESC, n_id) AS rnk FROM ex0)
               WHERE rnk <= 3),
        hit AS (SELECT ex.q_id, COUNT(*) AS n_hit
                FROM ex JOIN g ON ex.q_id = g.q_id AND ex.n_id = g.n_id
                GROUP BY ex.q_id),
        nx AS (SELECT q_id, CAST(COUNT(*) AS BIGINT) AS n_exact
               FROM ex GROUP BY q_id)
        SELECT nx.q_id, nx.n_exact,
               CAST(COALESCE(hit.n_hit, 0) AS BIGINT) AS n_hit,
               CAST(COALESCE(hit.n_hit, 0) * 1000000 // nx.n_exact AS BIGINT)
                 AS recall_ppm
        FROM nx LEFT JOIN hit ON nx.q_id = hit.q_id
        ORDER BY nx.q_id""") { (spark, dir) =>
    val e = vecs(spark, dir)
    val qIds = e.select(col("vec_id"))
      .orderBy(expr(H.s("cast(vec_id as string)")), col("vec_id"))
      .limit(20)
    val exact = exactTop3(e, qIds)
    val g = knnGraphRankedAt(spark, dir, NumHp, Some(qIds))
      .select("q_id", "n_id")
    val hit = exact.join(g, Seq("q_id", "n_id"), "left_semi")
      .groupBy("q_id").agg(count(lit(1)).as("n_hit"))
    exact.groupBy("q_id").agg(count(lit(1)).as("n_exact"))
      .join(hit, Seq("q_id"), "left")
      .select(col("q_id"), col("n_exact"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        expr("coalesce(n_hit, 0L) * 1000000 div n_exact").as("recall_ppm"))
      .orderBy("q_id")
  }

  /** s41: IVF index-health report — the observability tier of the ANN
    * family: per centroid cell its population, corpus share (ppm), and
    * distinct-label spread, INCLUDING empty cells (a left join from the
    * centroid list — an empty or runaway cell is exactly what the
    * report exists to catch: both degrade s34/s39 probe quality, and at
    * 100 TB a rebalance/re-train decision hangs on this table). Same
    * map-only centroid assignment as [[s34AnnIvf]]; everything after
    * the K-cell aggregate is K rows. Integer ppm shares, deterministic
    * population rank (n desc, cell asc). */
  val s41IvfStats = Q(
    "s41_ivf_stats",
    s"""WITH $duckVecs,
        $duckIvfAssign,
        asg AS (SELECT vec_id, c_id AS cell FROM asg0 WHERE rnk = 1),
        cents AS (SELECT vec_id AS cell FROM e WHERE vec_id < 8),
        pop AS (SELECT cell, COUNT(*) AS n_vecs,
                       COUNT(DISTINCT l.label) AS n_labels
                FROM asg JOIN embeddings l ON asg.vec_id = l.vec_id
                GROUP BY cell),
        tot AS (SELECT COUNT(*) AS nt FROM asg)
        SELECT c.cell, CAST(COALESCE(n_vecs, 0) AS BIGINT) AS n_vecs,
               COALESCE(n_vecs, 0) * 1000000 // nt AS share_ppm,
               CAST(COALESCE(n_labels, 0) AS BIGINT) AS n_labels,
               ROW_NUMBER() OVER (ORDER BY COALESCE(n_vecs, 0) DESC, c.cell)
                 AS rnk
        FROM cents c LEFT JOIN pop ON c.cell = pop.cell, tot
        ORDER BY c.cell""") { (spark, dir) =>
    val lbl = T(spark, dir, "embeddings").select(col("vec_id"), col("label"))
    val asg = ivfAssign0(spark, dir, 1).filter(col("rnk") === 1)
      .select(col("vec_id"), col("c_id").as("cell"))
    val cents = vecs(spark, dir).filter(col("vec_id") < 8)
      .select(col("vec_id").as("cell"))
    val pop = asg.join(lbl, "vec_id")
      .groupBy("cell").agg(count(lit(1)).as("n_vecs0"),
        countDistinct(col("label")).as("n_labels0"))
    val tot = asg.agg(count(lit(1)).as("nt"))
    val wPop = Window.orderBy(col("n_vecs").desc, col("cell"))
    cents.join(pop, Seq("cell"), "left")
      .crossJoin(broadcast(tot))
      .select(col("cell"),
        coalesce(col("n_vecs0"), lit(0L)).as("n_vecs"),
        coalesce(col("n_labels0"), lit(0L)).as("n_labels"), col("nt"))
      .withColumn("share_ppm", expr("n_vecs * 1000000 div nt"))
      // K rows total: the global rank window is over the centroid list,
      // never the corpus
      .withColumn("rnk", row_number().over(wPop).cast("long"))
      .select("cell", "n_vecs", "share_ppm", "n_labels", "rnk")
      .orderBy("cell")
  }

  /** s42: embedding SANITY audit — per label: vector count, wrong-width
    * vectors, zero vectors, and the min/max/mean squared norm. The
    * vector-quality gate every embedding pipeline runs before indexing
    * (a zero or degenerate vector poisons cosine ANN silently; a width
    * drift breaks every dot product downstream) — the input-side
    * observability twin of [[s41IvfStats]]'s index-side report. normsq
    * is the codegen'd [[Cosine.dot]] fold — left-to-right like the
    * oracle's list_reduce, so the doubles match bit-for-bit; the mean
    * rides an exact decimal sum (the Num rule). One partial-aggregated
    * pass, |labels| output rows. */
  val s42VectorAudit = Q(
    "s42_vector_audit",
    s"""WITH e0 AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        x AS (SELECT label, len(v) AS w, ${Cosine.duckDot("v", "v")} AS nsq
              FROM e0)
        SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
               CAST(SUM(CASE WHEN w <> 64 THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_width,
               CAST(SUM(CASE WHEN nsq = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
               MIN(nsq) AS min_normsq, MAX(nsq) AS max_normsq,
               CAST(CAST(SUM(CAST(nsq AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
                 / COUNT(*) AS mean_normsq
        FROM x GROUP BY label ORDER BY label""") { (spark, dir) =>
    T(spark, dir, "embeddings")
      .select(col("label"), col("embedding").cast("array<double>").as("v"))
      .select(col("label"), size(col("v")).as("w"),
        Cosine.dot(col("v"), col("v")).as("nsq"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("w") =!= 64, 1L).otherwise(0L)).as("n_bad_width"),
        sum(when(col("nsq") === 0.0d, 1L).otherwise(0L)).as("n_zero"),
        min(col("nsq")).as("min_normsq"), max(col("nsq")).as("max_normsq"),
        (sum(col("nsq").cast("decimal(18,6)")).cast("double")
          / count(lit(1))).as("mean_normsq"))
      .orderBy("label")
  }

  /** s43: IVF-PQ composite ANN — the production vector-index shape
    * (FAISS IVFPQ): the coarse IVF quantizer restricts the corpus to
    * the query's probed cells FIRST, and only those candidates are
    * ADC-scored against the PQ codes, then exactly re-ranked. s34
    * bounds candidates but scores them full-width; s38 scores 4-byte
    * codes but over the whole corpus — this composes both prunings, the
    * only shape that works when neither the corpus nor its codes fit a
    * scan per query. Every piece is the SHARED kernel: cells from
    * [[ivfAssign0]] (float cosine — the one quantizer definition s34 /
    * x93 use), codes from [[pqSubs]]/[[pqCodebookFrame]] via the
    * codegen'd CodebookArgmin (s38's encode), ADC + int8 re-rank all
    * exact integer arithmetic so the oracle hash-matches raw doubles.
    *
    * Scale: the cell assignment and PQ encode are the same map-only
    * index-build passes as s34/s38 (one collected matrix each); per
    * query the candidate set is its 2 probed cells' populations, ADC per
    * candidate touches an 8-row broadcast codebook slice, and the
    * exact re-rank reads [[PqRerank]] full vectors — query cost is
    * cell-bounded, never corpus-bounded. RecallSpec audits recall@5
    * against s32's exact answer. */
  val s43IvfPqKnn = Q(
    "s43_ivfpq_knn",
    s"""WITH $duckVecs,
        $duckIvfAssign,
        asg AS (SELECT vec_id, c_id AS cell FROM asg0 WHERE rnk = 1),
        probe AS (SELECT vec_id AS q_id, c_id AS cell FROM asg0
                  WHERE rnk <= 2 AND vec_id < 10),
        cand0 AS (SELECT p.q_id, a.vec_id AS n_id, p.cell
                  FROM probe p JOIN asg a ON p.cell = a.cell AND a.vec_id <> p.q_id),
        $duckPqCodes,
        parts AS (SELECT c0.q_id, c0.n_id, c0.cell,
                         list_reduce(list_prepend(CAST(0 AS BIGINT),
                           list_transform(range(1, $PqSubDim + 1),
                             i -> q.sub[i] * cb.cw[i])), (a, t) -> a + t) AS ds
                  FROM cand0 c0 JOIN codes ON codes.n_id = c0.n_id
                       JOIN cb ON cb.s = codes.s AND cb.c = codes.c
                       JOIN qsub q ON q.q_id = c0.q_id AND q.s = codes.s),
        sc AS (SELECT q_id, n_id, cell, SUM(ds) AS score
               FROM parts GROUP BY q_id, n_id, cell),
        cand AS (SELECT q_id, n_id, cell FROM (SELECT q_id, n_id, cell,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                     ORDER BY score DESC, n_id) AS rnk FROM sc)
                 WHERE rnk <= $PqRerank),
        $duckPqNorms,
        rr AS (SELECT c.q_id, c.n_id, c.cell,
                      $duckPqCos
               FROM cand c JOIN eq q ON c.q_id = q.vec_id
                           JOIN eq n ON c.n_id = n.vec_id),
        fin AS (SELECT q_id, n_id, cell, qcos, ROW_NUMBER() OVER (
                  PARTITION BY q_id ORDER BY qcos DESC, n_id) AS rnk FROM rr)
        SELECT q_id, n_id, cell, CAST(rnk AS BIGINT) AS rnk, qcos
        FROM fin WHERE rnk <= 5 ORDER BY q_id, rnk""") { (spark, dir) =>
    val cand0 = probeCands(ivfAssign0(spark, dir, 2))
    val qz = pqQuantized(spark, dir)
    val (cb, codes, qsub) = pqEncode(qz)
    // cell restriction FIRST: only cand0's (q, n) pairs ever reach ADC.
    // The codes side is CORPUS-sized (N×M rows) — without the merge hint
    // Catalyst broadcasts it at small SF and flips to a shuffle join once
    // it crosses the threshold (the VolumeBench 10x run caught exactly
    // that flip: 13 -> 14 exchanges). Pinning shuffle-merge makes the
    // plan scale-invariant — the shape that survives 100 TB — and AQE
    // still specializes it back to a local broadcast at runtime when the
    // exchange turns out tiny.
    val cand = adcShortlist(cand0.join(codes.hint("merge"), "n_id")
      .join(broadcast(cb), Seq("s", "c"))
      .join(broadcast(qsub), Seq("q_id", "s"))
      .withColumn("ds", expr(PqAdcDot)), "q_id", "n_id", "cell")
    pqRerank(cand, qz)
      .select("q_id", "n_id", "cell", "rnk", "qcos")
      .orderBy("q_id", "rnk")
  }

  /** s44: HYBRID two-stage retrieval — BM25 lexical candidates, then an
    * embedding-cosine re-rank: the production RAG retrieval shape
    * (cheap sparse recall over the whole corpus, expensive dense
    * precision over 20 candidates). Stage 1 is t37's scorer VERBATIM
    * (shared [[graft.operators.TextOps.bm25Scores]]/bm25DuckCtes —
    * hybrid and pure-lexical can never disagree about the lexical
    * score); stage 2 joins the candidates' embeddings (vec_id aligns
    * with doc_id in the testdata) and re-ranks by exact cosine against
    * the deterministic stand-in query embedding (vec_id 0 — where a
    * real system embeds the query text). Output carries BOTH ranks, so
    * the reorder the dense stage applies is itself visible data.
    *
    * Scale: stage 1 is t37's TakeOrdered posture corpus-wide; stage 2
    * touches exactly 20 vectors — the per-query cost a re-ranker adds
    * is O(candidates · dim), independent of corpus size, which is the
    * entire argument for the two-stage shape. The 20-row brnk window
    * is a single tiny partition by construction. */
  val s44HybridRetrieval = Q(
    "s44_hybrid_retrieval",
    s"""WITH ${graft.operators.TextOps.bm25DuckCtes},
        $duckVecs,
        cand AS (SELECT doc_id, score,
                        ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS brnk
                 FROM bmscore ORDER BY brnk LIMIT 20),
        qv AS (SELECT v, nrm FROM e WHERE vec_id = 0),
        rr AS (SELECT c.doc_id, c.brnk,
                      ${Cosine.duckDot("qv.v", "n.v")} / (qv.nrm * n.nrm) AS cos
               FROM cand c JOIN e n ON c.doc_id = n.vec_id, qv),
        fin AS (SELECT doc_id, CAST(brnk AS BIGINT) AS bm25_rank, cos,
                       ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS rnk
                FROM rr)
        SELECT doc_id, bm25_rank, cos, CAST(rnk AS BIGINT) AS rnk
        FROM fin WHERE rnk <= 5 ORDER BY rnk""") { (spark, dir) =>
    val cand = graft.operators.TextOps.bm25Scores(spark, dir)
      .orderBy(col("score").desc, col("doc_id")).limit(20)
      .withColumn("brnk", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id"))).cast("long"))
    val e = vecs(spark, dir)
    val qv = e.filter(col("vec_id") === 0)
      .select(col("v").as("vq"), col("nrm").as("nq"))
    val wTop = Window.orderBy(col("cos").desc, col("doc_id"))
    cand
      .join(e.select(col("vec_id").as("doc_id"), col("v").as("vn"), col("nrm").as("nn")), "doc_id")
      .crossJoin(broadcast(qv))
      .withColumn("cos", Cosine.dot(col("vq"), col("vn")) / (col("nq") * col("nn")))
      .select(col("doc_id"), col("brnk").as("bm25_rank"), col("cos"))
      .withColumn("rnk", row_number().over(wTop).cast("long"))
      .filter(col("rnk") <= 5)
      .orderBy("rnk")
  }

  // ---- IVF REBALANCE (s45/s46): the s41 → s34 loop closed ----
  // s41's health report names runaway cells; the rebalance SPLITS the two
  // hottest: each promotes its farthest member (min cosine to its
  // centroid, ties by vec_id — deterministic, the classic split
  // heuristic) to a NEW centroid, and the corpus re-assigns against the
  // expanded set. One shared definition per dialect, like the quantizer.

  /** DuckDB CTE chain over `e` + `cent` + `asg0`: `cent2` (the expanded
    * centroid set) and `asg2` (the re-assignment ranking). */
  private[operators] val duckRebalance =
    s"""asgc AS (SELECT a.vec_id, a.c_id,
                        ${Cosine.duckDot("a.v", "c.vc")} / (e.nrm * c.cnrm) AS ccos
                 FROM asg0 a JOIN e ON a.vec_id = e.vec_id
                             JOIN cent c ON a.c_id = c.c_id
                 WHERE a.rnk = 1),
        hot AS (SELECT c_id FROM (
                  SELECT c_id, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, c_id) AS pr
                  FROM asgc GROUP BY c_id) WHERE pr <= 2),
        newc AS (SELECT nc FROM (
                   SELECT a.vec_id AS nc,
                          ROW_NUMBER() OVER (PARTITION BY a.c_id
                            ORDER BY a.ccos ASC, a.vec_id) AS fr
                   FROM asgc a JOIN hot h ON a.c_id = h.c_id
                   WHERE a.vec_id >= 8) WHERE fr = 1),
        cent2 AS (SELECT c_id, vc, cnrm FROM cent
                  UNION ALL
                  SELECT e.vec_id, e.v, e.nrm FROM e JOIN newc ON e.vec_id = newc.nc),
        asg2 AS (SELECT e.vec_id, c.c_id,
                        ROW_NUMBER() OVER (PARTITION BY e.vec_id
                          ORDER BY ${Cosine.duckDot("e.v", "c.vc")} / (e.nrm * c.cnrm) DESC,
                                   c.c_id) AS rnk
                 FROM e, cent2 c)"""

  /** Spark twin of `cent2`: original seeds plus one promoted member per
    * hot cell, collected as the K + 2-row centroid matrix `asg2` ranks.
    * One K-group aggregate yields each cell's population and farthest
    * non-seed member (min (ccos, vec_id)); the two hottest cells (n desc,
    * c_id) are picked from its K collected rows. */
  private def rebalancedCents(e: DataFrame,
      seeds: Seq[(Long, Seq[Double])]): Seq[(Long, Seq[Double])] = {
    val cells = rankedCells(e, seeds, 1).filter(col("rnk") === 1)
      .groupBy("c_id").agg(count(lit(1)).as("n"),
        // never promote an existing centroid
        min(when(col("vec_id") >= 8, struct(col("ccos"), col("vec_id"), col("v"))))
          .as("far"))
      .collect()
    seeds ++ cells.sortBy(r => (-r.getLong(1), r.getLong(0))).take(2)
      .filterNot(_.isNullAt(2)).map(_.getStruct(2))
      .map(f => (f.getLong(1), f.getSeq[Double](2).toVector: Seq[Double]))
  }

  /** s45: the rebalanced index's cell-population report — s41's stats
    * AFTER the split, with `is_new` marking the promoted cells. The
    * RebalanceSpec asserts the operation's point: the max cell share
    * strictly drops. Scale: everything after the K-cell aggregate is
    * K + 2 rows; the re-assignment is the same map-only centroid
    * ranking s34 runs, over the collected K + 2 centroids. */
  val s45IvfRebalance = Q(
    "s45_ivf_rebalance",
    s"""WITH $duckVecs, $duckIvfAssign, $duckRebalance,
        pop2 AS (SELECT c_id AS cell, COUNT(*) AS n FROM asg2 WHERE rnk = 1 GROUP BY 1),
        tot AS (SELECT COUNT(*) AS nt FROM e)
        SELECT c.c_id AS cell, CAST(COALESCE(n, 0) AS BIGINT) AS n_vecs,
               COALESCE(n, 0) * 1000000 // nt AS share_ppm,
               CAST(CASE WHEN c.c_id >= 8 THEN 1 ELSE 0 END AS BIGINT) AS is_new
        FROM (SELECT c_id FROM cent2) c LEFT JOIN pop2 ON c.c_id = pop2.cell, tot
        ORDER BY cell""") { (spark, dir) =>
    import spark.implicits._
    val e = vecs(spark, dir)
    val cent2 = rebalancedCents(e, ivfSeeds(e))
    val pop2 = rankedCells(e, cent2, 1).filter(col("rnk") === 1)
      .groupBy(col("c_id").as("cell")).agg(count(lit(1)).as("n0"))
    val tot = e.agg(count(lit(1)).as("nt"))
    cent2.map(_._1).toDF("cell")
      .join(pop2, Seq("cell"), "left")
      .crossJoin(broadcast(tot))
      .select(col("cell"),
        coalesce(col("n0"), lit(0L)).as("n_vecs"),
        expr("coalesce(n0, 0) * 1000000 div nt").as("share_ppm"),
        (col("cell") >= 8).cast("long").as("is_new"))
      .orderBy("cell")
  }

  /** s34's candidates over an assignment ranking (vec_id, c_id, rnk to
    * 2): each query (vec_id < 10) with the rnk-1 members of its 2
    * top-ranked cells, as (q_id, cell, n_id). */
  private def probeCands(asgRanked: DataFrame): DataFrame = {
    val asg = asgRanked.filter(col("rnk") === 1)
      .select(col("vec_id").as("n_id"), col("c_id").as("cell"))
    asgRanked.filter(col("rnk") <= 2 && col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("c_id").as("cell"))
      .join(asg, "cell").filter(col("n_id") =!= col("q_id"))
  }

  /** The s34 probe: [[probeCands]] ranked by exact cosine, the top 5 per
    * query as (q_id, n_id, cell, rnk, cos) — s34's answer, and both sides
    * of the s46 recall audit. */
  private def probeTop5(e: DataFrame, asgRanked: DataFrame): DataFrame =
    topByCosRaw(probeCands(asgRanked).join(asQueries(e), "q_id").join(asNeighbors(e), "n_id"), 5)
      .select(col("q_id"), col("n_id"), col("cell"), col("rnk").cast("long").as("rnk"),
        col("cos"))

  /** DuckDB dialect of [[probeTop5]] over a cell ranking CTE `ranked`
    * (vec_id, c_id, rnk): CTEs `asg<x>`, `probe<x>` and the top-5
    * (q_id, n_id) per query `top<x>`. */
  private def duckProbeTop5(x: String, ranked: String): String =
    s"""asg$x AS (SELECT vec_id AS n_id, c_id AS cell FROM $ranked WHERE rnk = 1),
        probe$x AS (SELECT vec_id AS q_id, c_id AS cell FROM $ranked
                   WHERE rnk <= 2 AND vec_id < 10),
        top$x AS (SELECT q_id, n_id FROM (
                   SELECT c.q_id, c.n_id,
                          ROW_NUMBER() OVER (PARTITION BY c.q_id
                            ORDER BY ${Cosine.duckDot("q.v", "n.v")} / (q.nrm * n.nrm) DESC,
                                     c.n_id) AS rnk
                   FROM (SELECT p.q_id, a.n_id FROM probe$x p
                         JOIN asg$x a ON p.cell = a.cell AND a.n_id <> p.q_id) c
                   JOIN e q ON c.q_id = q.vec_id JOIN e n ON c.n_id = n.vec_id)
                 WHERE rnk <= 5)"""

  /** s46: recall RE-AUDIT of the rebalance — per query (vec_id < 10)
    * the number of exact brute-force top-5 neighbors the 2-probe search
    * finds on the ORIGINAL index vs the REBALANCED one. The split's
    * effect on answer quality is data, not a claim. Scale: truth and
    * probes are query-side-bounded exactly like s32/s34. */
  val s46RebalanceRecall = Q(
    "s46_rebalance_recall",
    s"""WITH $duckVecs, $duckIvfAssign, $duckRebalance,
        truth AS (SELECT q_id, n_id FROM (
                    SELECT q.vec_id AS q_id, n.vec_id AS n_id,
                           ROW_NUMBER() OVER (PARTITION BY q.vec_id
                             ORDER BY ${Cosine.duckDot("q.v", "n.v")} / (q.nrm * n.nrm) DESC,
                                      n.vec_id) AS rnk
                    FROM e q JOIN e n ON n.vec_id <> q.vec_id
                    WHERE q.vec_id < 10) WHERE rnk <= 5),
        ${duckProbeTop5("A", "asg0")},
        ${duckProbeTop5("B", "asg2")},
        hitsA AS (SELECT a.q_id, COUNT(*) AS hb FROM topA a
                  JOIN truth t ON a.q_id = t.q_id AND a.n_id = t.n_id GROUP BY a.q_id),
        hitsB AS (SELECT b.q_id, COUNT(*) AS ha FROM topB b
                  JOIN truth t ON b.q_id = t.q_id AND b.n_id = t.n_id GROUP BY b.q_id)
        SELECT q.vec_id AS q_id,
               CAST(COALESCE(hb, 0) AS BIGINT) AS hits_before,
               CAST(COALESCE(ha, 0) AS BIGINT) AS hits_after
        FROM e q LEFT JOIN hitsA ON q.vec_id = hitsA.q_id
                 LEFT JOIN hitsB ON q.vec_id = hitsB.q_id
        WHERE q.vec_id < 10 ORDER BY q_id""") { (spark, dir) =>
    val e = vecs(spark, dir)
    val truth = topByCosRaw(allPairs(e, asQueries(e.filter(col("vec_id") < 10))), 5)
      .select("q_id", "n_id")
    val seeds = ivfSeeds(e)
    val topA = probeTop5(e, rankedCells(e, seeds, 2)).select("q_id", "n_id")
    val topB = probeTop5(e, rankedCells(e, rebalancedCents(e, seeds), 2))
      .select("q_id", "n_id")
    val hitsA = topA.join(truth, Seq("q_id", "n_id"))
      .groupBy("q_id").agg(count(lit(1)).as("hb"))
    val hitsB = topB.join(truth, Seq("q_id", "n_id"))
      .groupBy("q_id").agg(count(lit(1)).as("ha"))
    e.filter(col("vec_id") < 10).select(col("vec_id").as("q_id"))
      .join(hitsA, Seq("q_id"), "left").join(hitsB, Seq("q_id"), "left")
      .select(col("q_id"), coalesce(col("hb"), lit(0L)).as("hits_before"),
        coalesce(col("ha"), lit(0L)).as("hits_after"))
      .orderBy("q_id")
  }

  /** The persisted IVF index layout under java.io.tmpdir, keyed by source
    * content + applicationId (the x116 path contract: concurrent sessions
    * over the same source cannot race overwrite-vs-read). */
  private[operators] def ivfIndexPath(spark: SparkSession, dir: String): String =
    TmpLayouts.register(
      s"${System.getProperty("java.io.tmpdir")}/graft_ivfidx_" +
        s"${Scale.sourceKey(dir, "embeddings")}_${spark.sparkContext.applicationId}")

  /** Build and persist the s34 IVF index: `cells/` is the rnk-1
    * assignment WITH vectors, hive-partitioned by cell — each cell is its
    * own directory, so a probe's scan prunes to exactly the probed
    * cells' files — and `centroids/` is the K-row quantizer. */
  private[operators] def writeIvfIndex(spark: SparkSession, dir: String,
      out: String): Unit = {
    ivfAssign0(spark, dir, 1).filter(col("rnk") === 1)
      .select(col("vec_id"), col("v"), col("nrm"), col("c_id").as("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$out/cells")
    vecs(spark, dir).filter(col("vec_id") < 8)
      .select(col("vec_id").as("c_id"), col("v").as("vc"), col("nrm").as("cnrm"))
      .write.mode("overwrite").parquet(s"$out/centroids")
  }

  /** s47: ANN serving from a PERSISTED index — [[s34AnnIvf]]'s index
    * (cell assignment + centroids) written to parquet once and probed
    * from storage, the build-offline/serve-online split every production
    * vector store runs. The layout IS the access path: `cells/` is
    * hive-partitioned by cell, so the probe join on the partition column
    * lets Spark prune to the probed cells' files (dynamic partition
    * pruning — at 100 TB the query touches nprobe/K of the index bytes,
    * which is the entire point of IVF on disk); `centroids/` is K rows,
    * collected once as the queries' ranking matrix. Queries arrive FRESH
    * (re-quantized against the persisted centroids, never against
    * in-flight state), and the oracle is [[duckS34Sql]] VERBATIM — the
    * persisted round trip must reproduce the in-flight index's answer
    * bit-for-bit, so any loss in the write→read path (vector precision,
    * cell key typing, dropped rows) goes red on the shared oracle. */
  val s47PersistedIvf = Q(
    "s47_persisted_ivf",
    duckS34Sql) { (spark, dir) =>
    val out = ivfIndexPath(spark, dir)
    writeIvfIndex(spark, dir, out)
    // ---- serve phase: everything below reads ONLY the persisted layout
    // (plus the fresh query vectors) ----
    val cent = centroidMatrix(spark.read.parquet(s"$out/centroids").select("c_id", "vc"))
    val probe = rankedCells(vecs(spark, dir).filter(col("vec_id") < 10), cent, 2)
      .select(col("vec_id").as("q_id"), col("v").as("vq"),
        col("nrm").as("nq"), col("c_id").as("cell"))
    // partition-column values come back as the inferred partition type;
    // pin the oracle's BIGINT explicitly
    val cells = spark.read.parquet(s"$out/cells")
      .select(col("vec_id").as("n_id"), col("v").as("vn"),
        col("nrm").as("nn"), col("cell").cast("long").as("cell"))
    topByCos(probe.join(cells, "cell").filter(col("n_id") =!= col("q_id")), 5)
      .select("q_id", "n_id", "cell", "rnk", "cos")
      .orderBy("q_id", "rnk")
  }

  /** The nprobe settings s48 sweeps — a literal constant shared by both
    * dialects (the combos5 pattern). */
  private[operators] val ProbeSweep = Seq(1, 2, 3, 4)

  /** s48: IVF nprobe TUNING SWEEP — for each probe count the sweep
    * reports total candidates scored and exact recall@5 against
    * brute-force truth (integer ppm), the recall/cost trade-off curve an
    * operator reads before setting nprobe in production ([[s34AnnIvf]]
    * ships nprobe=2; s48 is the evidence for that choice and the
    * re-tuning artifact after a rebalance). Complements [[s41IvfStats]]
    * (index health) and [[s46RebalanceRecall]] (before/after audit) with
    * the full curve.
    *
    * Exactness: candidates and hits are counts, recall is integer-ppm
    * (hits·10⁶ div truth-size) — no floats in the output, both engines
    * bit-agree; candidate ranking reuses the exact-cosine contract.
    *
    * Scale: the sweep multiplies the s34 probe join by |sweep| = 4 (a
    * constant); candidates stay query-side-bounded (|Q| × probed-cell
    * populations), the per-(np, query) top-5 is a keyed window, and the
    * output is |sweep| rows. The brute-force truth side is |Q| × N with
    * a BROADCAST query side — the s32 contract, truth for a 10-query
    * audit panel, never corpus × corpus. */
  val s48ProbeSweep = Q(
    "s48_probe_sweep",
    s"""WITH $duckVecs,
        $duckIvfAssign,
        np(np) AS (VALUES (1), (2), (3), (4)),
        asg AS (SELECT vec_id, c_id AS cell FROM asg0 WHERE rnk = 1),
        probe AS (SELECT np.np, a.vec_id AS q_id, a.c_id AS cell
                  FROM asg0 a, np WHERE a.rnk <= np.np AND a.vec_id < 10),
        cand AS (SELECT p.np, p.q_id, a.vec_id AS n_id
                 FROM probe p JOIN asg a ON p.cell = a.cell AND a.vec_id <> p.q_id),
        sc AS (SELECT c.np, c.q_id, c.n_id,
                      ${Cosine.duckDot("q.v", "n.v")} / (q.nrm * n.nrm) AS cos
               FROM cand c JOIN e q ON c.q_id = q.vec_id
                           JOIN e n ON c.n_id = n.vec_id),
        r AS (SELECT np, q_id, n_id,
                     ROW_NUMBER() OVER (PARTITION BY np, q_id
                       ORDER BY cos DESC, n_id) AS rnk FROM sc),
        top5 AS (SELECT np, q_id, n_id FROM r WHERE rnk <= 5),
        bp AS (SELECT q.vec_id AS q_id, n.vec_id AS n_id,
                      ${Cosine.duckDot("q.v", "n.v")} / (q.nrm * n.nrm) AS cos
               FROM e q JOIN e n ON n.vec_id <> q.vec_id
               WHERE q.vec_id < 10),
        br AS (SELECT q_id, n_id,
                      ROW_NUMBER() OVER (PARTITION BY q_id
                        ORDER BY cos DESC, n_id) AS rnk FROM bp),
        truth AS (SELECT q_id, n_id FROM br WHERE rnk <= 5),
        tt AS (SELECT COUNT(*) AS t FROM truth),
        nc AS (SELECT np, COUNT(*) AS n_candidates FROM cand GROUP BY np),
        ht AS (SELECT t5.np, COUNT(*) AS hits
               FROM top5 t5 JOIN truth USING (q_id, n_id) GROUP BY t5.np)
        SELECT CAST(nc.np AS BIGINT) AS nprobe,
               CAST(nc.n_candidates AS BIGINT) AS n_candidates,
               CAST(ht.hits AS BIGINT) AS hits,
               CAST(ht.hits * 1000000 // tt.t AS BIGINT) AS recall_ppm
        FROM nc JOIN ht ON nc.np = ht.np, tt
        ORDER BY nprobe""") { (spark, dir) =>
    val spark2 = spark
    import spark2.implicits._
    val e = vecs(spark, dir)
    val asg0v = ivfAssign0(spark, dir, ProbeSweep.max)
    val asg = asg0v.filter(col("rnk") === 1)
      .select(col("vec_id").as("n_id"), col("c_id").as("cell"))
    val npDf = ProbeSweep.toDF("np")
    val probe = asg0v.filter(col("vec_id") < 10)
      .crossJoin(broadcast(npDf)).filter(col("rnk") <= col("np"))
      .select(col("np"), col("vec_id").as("q_id"), col("c_id").as("cell"))
    val cand = probe.join(asg, "cell").filter(col("n_id") =!= col("q_id"))
      .select("np", "q_id", "n_id").ckpt
    val wr = Window.partitionBy(col("np"), col("q_id"))
      .orderBy(col("cos").desc, col("n_id"))
    val top5 = cand
      .join(e.select(col("vec_id").as("q_id"), col("v").as("vq"), col("nrm").as("nq")), "q_id")
      .join(e.select(col("vec_id").as("n_id"), col("v").as("vn"), col("nrm").as("nn")), "n_id")
      .withColumn("cos", Cosine.dot(col("vq"), col("vn")) / (col("nq") * col("nn")))
      .withColumn("rnk", row_number().over(wr))
      .filter(col("rnk") <= 5)
      .select("np", "q_id", "n_id")
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("vq"), col("nrm").as("nq"))
    val n = e.select(col("vec_id").as("n_id"), col("v").as("vn"), col("nrm").as("nn"))
    val wb = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    val truth = broadcast(q).join(n, col("n_id") =!= col("q_id"))
      .withColumn("cos", Cosine.dot(col("vq"), col("vn")) / (col("nq") * col("nn")))
      .withColumn("rnk", row_number().over(wb))
      .filter(col("rnk") <= 5)
      .select("q_id", "n_id")
    val tt = truth.agg(count(lit(1)).as("t"))
    val nc = cand.groupBy("np").agg(count(lit(1)).as("n_candidates"))
    val ht = top5.join(truth, Seq("q_id", "n_id"))
      .groupBy("np").agg(count(lit(1)).as("hits"))
    nc.join(ht, "np").crossJoin(broadcast(tt))
      .select(col("np").cast("long").as("nprobe"),
        col("n_candidates"), col("hits"),
        expr("hits * 1000000 div t").as("recall_ppm"))
      .orderBy("nprobe")
  }

  val all: Seq[Q] = Seq(s32KnnBruteforce, s33AnnLsh, s34AnnIvf, s35LabelStats,
    s36AnnMultiprobe, x93KmeansStep, x95KmeansLloyd, x96Semdedup,
    x98ClusterReps, s37QuantizedKnn, s38PqKnn, s39FilteredAnn, s40KnnGraph,
    x107Pagerank, x118LabelCommunities, x119CommunitySample,
    x127GraphTriangles, x130CommunityCohesion, s49GraphRecallAudit,
    s41IvfStats,
    s42VectorAudit, s43IvfPqKnn, s44HybridRetrieval, s45IvfRebalance,
    s46RebalanceRecall, s47PersistedIvf, s48ProbeSweep)
}
