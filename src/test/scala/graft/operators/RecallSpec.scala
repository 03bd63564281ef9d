package graft.operators

import org.apache.spark.sql.DataFrame
import graft.SparkSpec

/** Accuracy contracts for the approximate ANN tiers: the sf-pinned oracle
  * checks exact values at one SF, but nothing there stops a hyperplane or
  * centroid change from silently gutting retrieval quality. These gates
  * measure recall@5 of s33 (single-probe hyperplane LSH), s36 (multi-probe)
  * and s34 (IVF, 2-probe) against the exact s32 baseline on generated
  * clustered corpora — the regime ANN is FOR (neighbors genuinely close).
  * Deterministic: seeded generator, fixed hyperplanes/centroids. */
class RecallSpec extends SparkSpec {

  private def top5(df: DataFrame): Map[Long, Set[Long]] =
    df.collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (q, a) => q -> a.map(_._2).toSet }

  /** 8 well-separated unit centers (vec_id 0-7 — exactly s34's centroid
    * choice), then members = center + gaussian noise, renormalized. Same
    * schema as the driver's embeddings table. Returns the corpus dir. */
  private def clusteredCorpus(noise: Double): String = {
    import spark.implicits._
    val rnd = new scala.util.Random(7L)
    val dim = 64
    def normed(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val centers = Array.fill(8)(normed(Array.fill(dim)(rnd.nextGaussian())))
    val rows = (0 until 500).map { i =>
      val c = centers(i % 8)
      val v = if (i < 8) c else normed(c.map(_ + rnd.nextGaussian() * noise))
      (i.toLong, v.map(_.toFloat), i % 8)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_recall").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  private def recallOf(q: Q, dir: String, exact: Map[Long, Set[Long]]): Double = {
    val approx = top5(q.fn(spark, dir))
    val rs = exact.map { case (qid, ex) =>
      (approx.getOrElse(qid, Set.empty[Long]) & ex).size.toDouble / ex.size
    }
    rs.sum / rs.size
  }

  test("s33/s34/s36: recall@5 vs the exact s32 baseline on a clustered corpus") {
    val dir = clusteredCorpus(0.01)
    val exact = top5(Similarity.s32KnnBruteforce.fn(spark, dir))
    assert(exact.size === 10 && exact.values.forall(_.size === 5))
    val r33 = recallOf(Similarity.s33AnnLsh, dir, exact)
    val r34 = recallOf(Similarity.s34AnnIvf, dir, exact)
    val r36 = recallOf(Similarity.s36AnnMultiprobe, dir, exact)
    info(f"recall@5 (noise 0.01): s33=$r33%.3f s34=$r34%.3f s36=$r36%.3f")
    // measured at seed 7: s33 0.92 (a fixed hyperplane can still cut a
    // cluster), s34 1.00 (true centers as centroids), s36 1.00
    assert(r33 >= 0.8, f"s33 single-probe recall@5 $r33%.3f < 0.8")
    assert(r34 >= 0.9, f"s34 IVF 2-probe recall@5 $r34%.3f < 0.9")
    assert(r36 >= 0.9, f"s36 multi-probe recall@5 $r36%.3f < 0.9")
  }

  test("d33: near-dup pairs are a subset of exact d31 with bit-equal cosines") {
    def pairs(q: Q): Map[(Long, Long), Double] =
      q.fn(spark, sfDir).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exact = pairs(Dedup.d31EmbeddingNeardup)
    val lsh = pairs(Dedup.d33EmbeddingNeardupLsh)
    assert(exact.nonEmpty)
    assert(lsh.keySet.subsetOf(exact.keySet),
      "the probe set may prune pairs, never invent them")
    lsh.foreach { case (p, c) => assert(c == exact(p), s"$p cosine must be bit-equal") }
  }

  test("d33: recall >= 0.95 at its design point (true near-dups, cos >= 0.9)") {
    // the sf tables hold no real near-duplicates (max pair cosine 0.51),
    // so the far-pair tail there exercises only the formula; THIS is the
    // regime the operator exists for — clustered members at cos ~0.995+,
    // where P(buckets within Hamming 1) ~ 0.999 per pair
    val dir = clusteredCorpus(0.01)
    def pairsAbove(q: Q, thr: Double): Set[(Long, Long)] =
      q.fn(spark, dir).collect()
        .filter(_.getDouble(2) >= thr).map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairsAbove(Dedup.d31EmbeddingNeardup, 0.9)
    val lsh = pairsAbove(Dedup.d33EmbeddingNeardupLsh, 0.9)
    assert(exact.size > 1000, s"corpus must contain real near-dups, got ${exact.size}")
    val recall = (lsh & exact).size.toDouble / exact.size
    info(f"d33 near-dup recall vs exact d31 at cos>=0.9: $recall%.4f (${exact.size} pairs)")
    assert(recall >= 0.95, f"d33 recall $recall%.4f < 0.95")
  }

  test("x93 k-means step: full partition of the corpus, mass-conserving means") {
    val rows = Similarity.x93KmeansStep.fn(spark, sfDir).collect()
    assert(rows.length === 8 * 64, "8 cells x 64 dims, long form")
    val total = T(spark, sfDir, "embeddings").count()
    val nAtDim0 = rows.filter(_.getLong(1) == 0L).map(_.getLong(2)).sum
    assert(nAtDim0 === total, "every vector assigned to exactly one cell")
    // mass conservation per dimension: cell means weighted by cell sizes
    // must re-sum to the corpus total, within the 1e-6 quantization the
    // operator documents (floor per component => error in [0, 1e-6))
    val byDim = rows.groupBy(_.getLong(1))
    val vecs = T(spark, sfDir, "embeddings")
      .selectExpr("transform(embedding, x -> cast(x as double)) as v")
      .collect().map(_.getSeq[Double](0))
    byDim.foreach { case (dim, cells) =>
      val reSum = cells.map(r => r.getLong(2) * r.getDouble(3)).sum
      val trueSum = vecs.map(_(dim.toInt)).sum
      assert(math.abs(reSum - trueSum) <= total * 1e-6 + 1e-9,
        s"dim $dim: $reSum vs $trueSum")
    }
  }

  test("x95 Lloyd loop converges on the clustered corpus and recovers the true centers") {
    val dir = clusteredCorpus(0.01)
    val res = Similarity.lloydRun(spark, dir)
    val (cent, counts, iters, converged) = (res.cent, res.counts, res.iters, res.converged)
    info(s"x95 converged=$converged after $iters iterations")
    assert(converged, "Lloyd must reach the drift-<-eps fixed point on clustered data")
    assert(counts.values.sum === 500L, "every vector assigned")
    assert(res.assignCent === res.cent,
      "at the fixed point the final assignment's matrix IS the final matrix")
    // seeds ARE the true centers (vec_id 0-7): every converged centroid
    // must stay near its seed — cosine to the seed direction ~ 1
    val seeds = T(spark, dir, "embeddings").filter("vec_id < 8")
      .selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) as v")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    cent.foreach { case (c, cv) =>
      assert(cos(cv, seeds(c)) > 0.99, s"cell $c drifted off its true center")
    }
  }

  test("x95 Lloyd loop actually iterates on the noisy sf corpus before freezing") {
    // on real (noisy) embeddings the seed vectors are NOT the means, so
    // the loop must take several real steps before the drift-<-eps freeze
    val res = Similarity.lloydRun(spark, sfDir)
    info(s"x95 on sf0.001: converged=${res.converged} after ${res.iters} iterations")
    assert(res.iters > 1, "loop must do more than one real iteration on noisy data")
    assert(res.converged, "and still reach the fixed point within the cap")
    assert(res.counts.values.sum === T(spark, sfDir, "embeddings").count())
  }

  test("x96: cells partition the corpus; within-cell dedup pairs are a subset of d31's") {
    import org.apache.spark.sql.functions.col
    val n = T(spark, sfDir, "embeddings").count()
    val k = Similarity.semK(n)
    assert(k === 16, "sf0.001's 500 vectors must exercise the parameterized K")
    val rows = Similarity.x96Semdedup.fn(spark, sfDir).collect()
    assert(rows.length <= k && rows.length >= 8,
      s"${rows.length} non-empty cells of $k")
    assert(rows.map(_.getLong(1)).sum === n,
      "every vector in exactly one cell")
    // global exact near-dups at the same threshold bound the cluster-scoped
    // count: cluster scoping may PRUNE cross-cell pairs, never invent them
    val globalAtHalf = Dedup.d31EmbeddingNeardup.fn(spark, sfDir)
      .filter(col("cos") >= 0.5).count()
    val withinCells = rows.map(_.getLong(2)).sum
    assert(withinCells <= globalAtHalf,
      s"$withinCells within-cell pairs vs $globalAtHalf global")
  }

  test("assignment: assignCells is bit-equal to a driver-side reference argmin") {
    // both the small-K regime (x95's 8 seeds, clustered corpus) and the
    // oracle-checked K=16 regime (x96 on the sf corpus): the reference is
    // the oracle's ranking spelled out in Scala — the ascending
    // acc + v(i)*cv(i) dot fold, jvmNorm centroid norms, highest cosine
    // with the lowest cell on ties — so any divergence (tie-break, norm
    // fold, codegen loop) is a bug
    for ((dir, k) <- Seq((clusteredCorpus(0.01), 8L), (sfDir, 16L))) {
      val res = Similarity.lloydRun(spark, dir, k)
      val e = Similarity.vecs(spark, dir)
        .select(org.apache.spark.sql.functions.col("vec_id"),
          org.apache.spark.sql.functions.col("v"),
          org.apache.spark.sql.functions.col("nrm"))
      val cent = res.assignCent.sortBy(_._1)
      val cnrm = cent.map(c => Similarity.jvmNorm(c._2))
      def refCell(v: Seq[Double], nrm: Double): Long = {
        var best = 0
        var bestCos = 0.0d
        for (j <- cent.indices) {
          val cv = cent(j)._2
          val dot = (0 until math.min(v.size, cv.size))
            .foldLeft(0.0d)((acc, i) => acc + v(i) * cv(i))
          val cos = dot / (nrm * cnrm(j))
          if (j == 0 || cos > bestCos) { best = j; bestCos = cos }
        }
        cent(best)._1
      }
      val ref = e.collect()
        .map(r => r.getLong(0) -> refCell(r.getSeq[Double](1), r.getDouble(2))).toMap
      val got = Similarity.assignCells(e, res.assignCent)
        .select("vec_id", "cell").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got.size === ref.size && got === ref,
        s"centroid_argmin diverges from the reference at k=$k on $dir")
    }
  }

  test("s37: quantized ranking keeps recall ≥ 0.9 vs exact; values on the int8 grid") {
    import org.apache.spark.sql.functions.expr
    val exact = top5(Similarity.s32KnnBruteforce.fn(spark, sfDir))
    val quant = top5(Similarity.s37QuantizedKnn.fn(spark, sfDir))
    assert(exact.nonEmpty && quant.keySet === exact.keySet)
    val recall = exact.map { case (q, e) => (e & quant(q)).size.toDouble / e.size }
      .sum / exact.size
    assert(recall >= 0.9, s"recall@5 $recall") // measured 0.98 on the sf corpus
    // the quantized vectors really are int8-representable: integral, |x| ≤ 127
    val bad = T(spark, sfDir, "embeddings")
      .select(expr("transform(cast(embedding as array<double>), x -> round(x * 127.0 / " +
        "greatest(array_max(transform(cast(embedding as array<double>), y -> abs(y))), " +
        "cast(1e-12 as double))))").as("qv"))
      .selectExpr("size(filter(qv, x -> x != cast(cast(x as tinyint) as double))) as n")
      .agg(org.apache.spark.sql.functions.sum("n")).head.getLong(0)
    assert(bad == 0L, "every quantized component must fit a tinyint exactly")
  }

  test("s38: PQ prune + exact re-rank keeps recall ≥ 0.85 vs the float ranking") {
    // the end-to-end accuracy of 64x code compression: ADC forwards 100
    // candidates from CODES alone, the exact re-rank restores precision
    // on just those (measured 0.94 at this corpus; the pure-ADC top-5
    // without re-rank measures ~0.3 — the re-rank stage IS the design)
    val exact = top5(Similarity.s32KnnBruteforce.fn(spark, sfDir))
    val pq = top5(Similarity.s38PqKnn.fn(spark, sfDir))
    assert(exact.nonEmpty && pq.keySet === exact.keySet)
    val recall = exact.map { case (q, e) => (e & pq(q)).size.toDouble / e.size }
      .sum / exact.size
    assert(recall >= 0.85, s"recall@5 $recall")
  }

  test("s43: IVF-PQ composite keeps recall on the clustered corpus; " +
    "results confined to probed cells") {
    // the double pruning (cells first, then codes) must not compound into
    // recall collapse in the regime ANN is for — true clusters. On the
    // noisy sf corpus the IVF tier alone caps recall (cells are arbitrary
    // there, s34's caveat), so the audit runs on the clustered corpus
    // where the cell structure is real.
    val dir = clusteredCorpus(0.01)
    val exact = top5(Similarity.s32KnnBruteforce.fn(spark, dir))
    val r43 = recallOf(Similarity.s43IvfPqKnn, dir, exact)
    val r34 = recallOf(Similarity.s34AnnIvf, dir, exact)
    info(f"recall@5 (noise 0.01): s43=$r43%.3f vs s34=$r34%.3f")
    // measured 0.86 at seed 7: the 16-codeword int8 ADC blurs WITHIN-
    // cluster ordering before the re-rank (s34 scores the same candidates
    // full-width and gets 1.00) — the price of 64x code compression; the
    // bar matches s33's single-probe tier
    assert(r43 >= 0.8, f"s43 IVF-PQ recall@5 $r43%.3f < 0.8")
    // structural contract: every returned neighbor lives in one of the
    // query's 2 probed cells — the corpus outside them was never scored
    val asg = Similarity.ivfAssign0(spark, dir)
    val cellOf = asg.filter(org.apache.spark.sql.functions.col("rnk") === 1)
      .select("vec_id", "c_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val probed = asg.filter(org.apache.spark.sql.functions.expr("rnk <= 2 and vec_id < 10"))
      .select("vec_id", "c_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    for (r <- Similarity.s43IvfPqKnn.fn(spark, dir).collect())
      assert(probed(r.getLong(0)).contains(cellOf(r.getLong(1))),
        s"neighbor ${r.getLong(1)} of ${r.getLong(0)} outside probed cells")
  }

  test("x98: each representative is its cell's true argmax member") {
    import org.apache.spark.sql.functions.col
    val reps = Similarity.x98ClusterReps.fn(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap
    assert(reps.nonEmpty)
    // recompute per-member cosines to the assigned centroid in plain Scala
    val k = Similarity.semK(T(spark, sfDir, "embeddings").count())
    val res = Similarity.lloydRun(spark, sfDir, k)
    val cent = res.assignCent.toMap
    val members = Similarity.assignCells(
      Similarity.vecs(spark, sfDir).select(col("vec_id"), col("v"), col("nrm")),
      res.assignCent)
      .select("vec_id", "v", "cell").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getLong(2)))
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      def n(x: Seq[Double]) = math.sqrt(x.foldLeft(0.0)((s, v) => s + v * v))
      a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + x * y } / (n(a) * n(b))
    }
    assert(members.map(_._3).toSet === reps.keySet, "one rep per non-empty cell")
    members.groupBy(_._3).foreach { case (cell, ms) =>
      val (repId, repCos, n) = reps(cell)
      assert(n === ms.length.toLong, s"cell $cell size")
      assert(ms.exists(_._1 == repId), s"rep $repId must be a member of cell $cell")
      val best = ms.map(m => (cos(m._2, cent(cell)), m._1)).max
      // argmax by (cos, then smallest id on ties): recompute and compare id
      val bestByRule = ms.map(m => (-cos(m._2, cent(cell)), m._1)).min._2
      assert(repId === bestByRule,
        s"cell $cell: rep $repId vs recomputed argmax $bestByRule (best cos ${best._1})")
    }
  }

  // ------------------------------------------------------------------ s40
  // The KNN graph's per-bucket candidate cap (Similarity.KnnBucketCap)
  // trades neighbor-side visibility for a linear candidate bound. These
  // gates measure what the trade costs, against brute-force exact top-3.

  private def writeCorpus(rows: Seq[(Long, Array[Float], Int)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_recall").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  /** Brute-force exact top-3 per vector (cos desc, n_id asc — the s40
    * tie-break), computed in plain Scala as the spec-side oracle. */
  private def exactTop3(rows: Seq[(Long, Array[Float], Int)]): Map[Long, Set[Long]] = {
    val vs = rows.map { case (id, v, _) =>
      val d = v.map(_.toDouble)
      (id, d, math.sqrt(d.map(x => x * x).sum))
    }
    vs.map { case (q, vq, nq) =>
      q -> vs.filter(_._1 != q)
        .map { case (n, vn, nn) =>
          (n, vq.zip(vn).map { case (a, b) => a * b }.sum / (nq * nn))
        }
        .sortBy { case (n, c) => (-c, n) }.take(3).map(_._1).toSet
    }.toMap
  }

  private def graphEdges(dir: String): Seq[(Long, Long)] =
    Similarity.s40KnnGraph.fn(spark, dir)
      .select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq

  private def recall3(edges: Seq[(Long, Long)],
      exact: Map[Long, Set[Long]]): Double = {
    val got = edges.groupBy(_._1).map { case (q, es) => q -> es.map(_._2).toSet }
    val rs = exact.map { case (q, ex) =>
      (got.getOrElse(q, Set.empty[Long]) & ex).size.toDouble / ex.size
    }
    rs.sum / rs.size
  }

  test("s40: at the design point (buckets under the cap) recall@3 is full") {
    // 96 tight 5-member clusters: buckets stay below KnnBucketCap, so the
    // cap is INERT and recall measures only the multi-probe envelope
    val rnd = new scala.util.Random(11L)
    def normed(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val centers = Array.fill(96)(normed(Array.fill(64)(rnd.nextGaussian())))
    val rows = (0 until 480).map { i =>
      val v = normed(centers(i % 96).map(_ + rnd.nextGaussian() * 0.01))
      (i.toLong, v.map(_.toFloat), i % 96)
    }
    val dir = writeCorpus(rows)
    // precondition: the cap must not bind, or this measures the trade too
    val maxPop = Similarity.bucketedVecs(spark, dir)
      .groupBy("bucket").count()
      .agg(org.apache.spark.sql.functions.max("count")).head().getLong(0)
    assert(maxPop <= Similarity.KnnBucketCap,
      s"corpus not at the design point: hottest bucket $maxPop")
    val r = recall3(graphEdges(dir), exactTop3(rows))
    info(f"s40 recall@3, cap inert (max bucket $maxPop): $r%.3f")
    assert(r >= 0.9, f"s40 recall@3 $r%.3f < 0.9 with the cap inert")
  }

  test("s40: one hot bucket — neighbor visibility capped, coverage intact") {
    // every vector in ONE tight cluster: the regime where the uncapped
    // self-join was quadratic. The cap must (a) bound distinct visible
    // neighbors by 7·cap and (b) still give every vector its 3 edges.
    val rnd = new scala.util.Random(13L)
    def normed(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val c = normed(Array.fill(64)(rnd.nextGaussian()))
    val rows = (0 until 400).map { i =>
      (i.toLong, normed(c.map(_ + rnd.nextGaussian() * 1e-4)).map(_.toFloat), 0)
    }
    val dir = writeCorpus(rows)
    val edges = graphEdges(dir)
    val perQ = edges.groupBy(_._1)
    assert(perQ.size === 400 && perQ.values.forall(_.size === 3),
      "every vector must still receive exactly 3 edges under the cap")
    val visible = edges.map(_._2).toSet.size
    assert(visible <= 7 * Similarity.KnnBucketCap,
      s"$visible distinct neighbors — the per-bucket cap is not binding")
    info(s"s40 hot bucket: 400 queries, $visible distinct visible neighbors" +
      s" (bound ${7 * Similarity.KnnBucketCap})")
  }

  test("s40: binding cap keeps cluster-consistent edges; recall tracks the sampling ratio") {
    // 8 clusters of ~62: populations ~2x the cap, so the neighbor side is
    // a deterministic ~cap/pop sample. Identity recall@3 is bounded by
    // that ratio BY DESIGN; what the graph consumers (x107/x118/x119)
    // need is that edges stay within the true cluster.
    val rnd = new scala.util.Random(7L)
    def normed(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val centers = Array.fill(8)(normed(Array.fill(64)(rnd.nextGaussian())))
    val rows = (0 until 500).map { i =>
      val v = normed(centers(i % 8).map(_ + rnd.nextGaussian() * 0.01))
      (i.toLong, v.map(_.toFloat), i % 8)
    }
    val dir = writeCorpus(rows)
    val edges = graphEdges(dir)
    val lbl = rows.map(r => r._1 -> r._3).toMap
    val sameLabel = edges.count { case (q, n) => lbl(q) == lbl(n) }
    val frac = sameLabel.toDouble / edges.size
    val r = recall3(edges, exactTop3(rows))
    info(f"s40 binding cap: recall@3=$r%.3f same-cluster-edge frac=$frac%.3f")
    assert(frac >= 0.95, f"edge label consistency $frac%.3f < 0.95")
    // sampling ceiling ~ cap/pop ~ 0.5 here; gate well under it but far
    // above broken (a wrong join or rank would crater both metrics)
    assert(r >= 0.35, f"s40 recall@3 $r%.3f < 0.35 under a ~0.5 sampling ratio")
  }

  test("s40: adaptive LSH resolution recovers the recall overcrowded buckets lose") {
    // 480 tight 8-member clusters (3840 vectors): at the default 6
    // hyperplanes the mean bucket population is 60 — ~1.9× the cap, and
    // ~7.5 clusters collide per bucket — so each query sees only a
    // hash-sample of its own cluster. adaptiveHyperplanes(3840)=7 puts
    // the mean population back at the cap's design point (30), and a
    // deep 10-hyperplane resolution separates the clusters almost
    // entirely. Recall must recover monotonically along that ladder —
    // the quality axis of the resolution knob. All inputs and caps are
    // deterministic, so the measured recalls are exact per fixture.
    val rnd = new scala.util.Random(17L)
    def normed(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val centers = Array.fill(480)(normed(Array.fill(64)(rnd.nextGaussian())))
    val rows = (0 until 3840).map { i =>
      val v = normed(centers(i % 480).map(_ + rnd.nextGaussian() * 0.01))
      (i.toLong, v.map(_.toFloat), i % 480)
    }
    val dir = writeCorpus(rows)
    val nAdaptive = Similarity.adaptiveHyperplanes(3840L)
    assert(nAdaptive === 7, s"adaptiveHyperplanes(3840) = $nAdaptive")
    val exact = exactTop3(rows)
    def recallAt(nHp: Int): Double = recall3(
      Similarity.knnGraphRankedAt(spark, dir, nHp)
        .select("q_id", "n_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq, exact)
    val r6 = recallAt(6)
    val r7 = recallAt(nAdaptive)
    val r10 = recallAt(10)
    info(f"s40 resolution ladder: recall@3 = $r6%.3f (6hp) → $r7%.3f " +
      f"(${nAdaptive}hp adaptive) → $r10%.3f (10hp)")
    assert(r7 >= r6 + 0.05,
      f"adaptive resolution must decisively beat the overcrowded default: $r7%.3f vs $r6%.3f")
    assert(r10 >= r7, f"deeper resolution regressed recall: $r10%.3f < $r7%.3f")
    assert(r10 >= 0.85, f"recall@3 $r10%.3f < 0.85 at the separated resolution")
  }

  test("adaptiveHyperplanes: the sizing rule keeps mean populations at the cap") {
    // floored at the default resolution; ⌈log2(N/cap)⌉ above it
    assert(Similarity.adaptiveHyperplanes(1L) === 6)
    assert(Similarity.adaptiveHyperplanes(2048L) === 6)   // 2^6 buckets → pop 32
    assert(Similarity.adaptiveHyperplanes(4096L) === 7)
    assert(Similarity.adaptiveHyperplanes(20000L) === 10) // the 10x sf0.1 corpus
    assert(Similarity.adaptiveHyperplanes(200000L) === 13)
    assert(Similarity.adaptiveHyperplanes(1000000000L) === 25)
    // at the chosen resolution the mean population sits within [cap/2, cap]
    for (n <- Seq(4096L, 20000L, 200000L, 1000000000L)) {
      val pop = n.toDouble / (1L << Similarity.adaptiveHyperplanes(n))
      assert(pop <= Similarity.KnnBucketCap && pop > Similarity.KnnBucketCap / 2.0,
        s"n=$n: mean population $pop off the design point")
    }
  }

  test("s36 multi-probe recovers the clusters single-probe loses at wide noise") {
    // at 5x noise the single-probe envelope collapses (measured 0.60):
    // members near a hyperplane fall on its far side, out of the query's
    // bucket. Probing the 6 Hamming-1 buckets recovers exactly those —
    // the contract that justifies the 7x candidate cost.
    val dir = clusteredCorpus(0.05)
    val exact = top5(Similarity.s32KnnBruteforce.fn(spark, dir))
    val r33 = recallOf(Similarity.s33AnnLsh, dir, exact)
    val r36 = recallOf(Similarity.s36AnnMultiprobe, dir, exact)
    info(f"recall@5 (noise 0.05): s33=$r33%.3f s36=$r36%.3f")
    assert(r36 >= 0.9, f"s36 multi-probe recall@5 $r36%.3f < 0.9 at wide noise")
    assert(r36 > r33, "multi-probe must beat single-probe where clusters are cut")
  }
}
