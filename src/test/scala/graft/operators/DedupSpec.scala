package graft.operators

import graft.SparkSpec

/** Value-level gates for the dedup stack's scale paths. */
class DedupSpec extends SparkSpec {

  test("d31: block-partitioned all-pairs equals the collect+broadcast baseline, bit-exact") {
    def toMap(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val blocked = toMap(Dedup.d31EmbeddingNeardup.fn(spark, sfDir).collect())
    val exact = toMap(Dedup.d31ExactBaseline(spark, sfDir).collect())
    assert(exact.nonEmpty, "sf0.001 must produce at least one near-dup pair")
    assert(blocked.keySet === exact.keySet)
    blocked.foreach { case (pair, cos) =>
      assert(cos == exact(pair), s"$pair cosine must be bit-equal") // == not ≈
    }
  }

  test("d34: components equal a plain-Scala union-find over the d28 pairs") {
    val pairs = Dedup.d28MinhashLsh.fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    // reference union-find
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expect = parent.keys.map(x => x -> find(x)).toMap
    val sizes = expect.groupBy(_._2).map { case (c, m) => c -> m.size.toLong }
    val got = Dedup.d34DedupComponents.fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(got.map(_._1).toSet === expect.keySet, "node set")
    got.foreach { case (doc, comp, n, keeper) =>
      assert(comp === expect(doc), s"doc $doc component")
      assert(n === sizes(comp), s"component $comp size")
      assert(keeper === (doc == comp), s"doc $doc keeper flag")
    }
  }

  test("d35: star contraction is bit-equal to HashMin on the d28 pair graph") {
    def asMap(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    val hashMin = asMap(Dedup.d34DedupComponents.fn(spark, sfDir).collect())
    val star = asMap(Dedup.d35ComponentsStar.fn(spark, sfDir).collect())
    assert(hashMin.nonEmpty)
    assert(star === hashMin, "the two component engines must agree exactly")
  }

  test("star contraction solves a 1024-node shuffled chain in O(log n) rounds") {
    // THE regime HashMin cannot touch: a path graph moves the min label one
    // hop per round, so 1024 nodes would need ~1023 rounds (far past the
    // 20-round backstop). Star contraction halves long paths each round.
    // Ids are scrambled (multiplicative perm mod a prime) so the chain
    // order carries no accidental monotonicity the algorithm could exploit.
    import spark.implicits._
    val p = 104729L // prime > any id; i -> i*48271 % p is injective
    val ids = (0 until 1024).map(i => (i.toLong * 48271L) % p)
    val pairs = ids.sliding(2).map(s => (s(0), s(1))).toSeq
      .toDF("a_id", "b_id")
    val (labels, rounds) = Dedup.starContractionLabels(pairs)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expectComponent = ids.min
    assert(got.keySet === ids.toSet, "every chain node must be labeled")
    assert(got.values.toSet === Set(expectComponent),
      "one chain = one component rooted at the global min id")
    assert(rounds <= 15, s"took $rounds rounds — not O(log n) on a 1024-chain")
    assert(rounds > 1, "fixture must actually exercise multi-round contraction")
  }

  test("d36: spans equal a plain-Scala gram-match merge over the corpus") {
    // independent recomputation (the oracle checks Spark vs DuckDB; this
    // checks the ALGORITHM against a direct in-memory implementation)
    val g = Dedup.SpanGram
    val docs = T(spark, sfDir, "documents")
      .selectExpr("doc_id", "split(text, ' ') as tk")
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toIndexedSeq).toMap
    val occ = scala.collection.mutable.Map[String, Vector[(Long, Int)]]()
    for ((id, tk) <- docs; i <- 1 to tk.length - g + 1) {
      val gram = tk.slice(i - 1, i - 1 + g).mkString(" ")
      occ(gram) = occ.getOrElse(gram, Vector.empty) :+ ((id, i))
    }
    val matches = for {
      (_, os) <- occ.toSeq
      if os.map(_._1).distinct.size <= Dedup.SpanGramDfCap
      (a, pa) <- os; (b, pb) <- os if a < b
    } yield ((a, b, pa.toLong - pb), (pa, pb))
    val expect = matches.groupBy(_._1).toSeq.flatMap { case ((a, b, _), ms) =>
      // consecutive pa runs on one diagonal = one span
      val ps = ms.map(_._2).sortBy(_._1)
      val runs = ps.foldLeft(Vector.empty[Vector[(Int, Int)]]) { (acc, p) =>
        if (acc.nonEmpty && acc.last.last._1 + 1 == p._1) acc.init :+ (acc.last :+ p)
        else acc :+ Vector(p)
      }
      runs.map(r => (a, b, r.head._1.toLong, r.head._2.toLong,
        (r.last._1 - r.head._1 + g).toLong))
    }.filter(_._5 >= Dedup.SpanMinTokens).toSet
    val got = Dedup.d36DuplicateSpans.fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(expect.nonEmpty, "fixture must contain shared spans")
    assert(got === expect)
  }

  test("d27/d28: the hot-shingle cap changes nothing when no shingle is hot") {
    // at sf0.001 every shingle's document frequency is far below the cap, so
    // the capped pipeline must reproduce the uncapped pair set — the cap is
    // a pure scale guard, not a semantics change on healthy data. The
    // uncapped baseline is computed independently here: per-doc shingle-hash
    // sets, all-pairs exact Jaccard (viable at this SF only).
    val hs = Dedup.shingleHashes(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet)
    val uncapped = (for {
      (a, sa) <- hs; (b, sb) <- hs if a < b
      inter = (sa & sb).size
      // 0/0 = NaN fails the >= , matching the index pipeline where docs
      // with no shingles never enter a pair
      if inter.toDouble / (sa.size + sb.size - inter) >= 0.5
    } yield (a, b)).toSet
    val d27 = Dedup.d27NgramJaccard.fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.nonEmpty, "sf0.001 must produce at least one near-dup pair")
    assert(d27 === uncapped, "capped pipeline must equal the uncapped pair set")
    val d28 = Dedup.d28MinhashLsh.fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // d28 candidates are a subset of d27's verified pairs by construction
    assert(d28.subsetOf(d27))
  }

  test("d31: results are bit-invariant across block counts B ∈ {2, 8, 16}") {
    // block assignment is an execution detail: every unordered pair is
    // evaluated exactly once with the same fold, whatever B — so changing B
    // (as blocksFor does when N grows) can never change the answer
    def toMap(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ref = toMap(Dedup.d31Blocked(spark, sfDir, 8).collect())
    assert(ref.nonEmpty)
    for (b <- Seq(2, 16)) {
      val got = toMap(Dedup.d31Blocked(spark, sfDir, b).collect())
      assert(got === ref, s"B=$b must be bit-identical to B=8")
    }
  }

  test("d31: blocksFor keeps blocks bounded and scales linearly with N") {
    assert(Dedup.blocksFor(0) === 8)
    assert(Dedup.blocksFor(500) === 8)
    assert(Dedup.blocksFor(Dedup.TargetBlockRows * 100) === 100)
    assert(Dedup.blocksFor(Dedup.TargetBlockRows * 100 + 1) === 101)
  }

  test("H: the JVM hash equals Spark's H.s at 32 and 56 bits, non-ASCII text included") {
    val spark2 = spark
    import spark2.implicits._
    val rnd = new scala.util.Random(1409)
    val pieces = Seq("a", "Z", "7", " ", "é", "ß", "中", "文", "😀", "🎉")
    val xs = (Seq("", "é", "中文", "😀", "naïve café 東京 🎉") ++
      Seq.fill(200)(Seq.fill(rnd.nextInt(12))(pieces(rnd.nextInt(pieces.size))).mkString)).distinct
    val md5 = java.security.MessageDigest.getInstance("MD5")
    for (bits <- Seq(32, 56)) {
      val sql = xs.toDF("x").selectExpr("x", s"${H.s("x", bits)} as h").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(sql.size === xs.size)
      xs.foreach(x => assert(H.jvm(x, md5, bits) === sql(x), s"'$x' at $bits bits"))
    }
  }

  test("m44: phash kernel is bit-equal to the interpreted expression form") {
    import org.apache.spark.sql.functions.{col, length}
    val spark2 = spark
    import spark2.implicits._
    val docs = T(spark, sfDir, "documents").select("doc_id", "text")
    val exprForm = Multimodal.phashExprForm(docs, 32).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val kernel = docs.filter(length(col("text")) >= 4)
      .as[(Long, String)].mapPartitions(Multimodal.phashKernel(32))
      .collect().toMap
    assert(exprForm.nonEmpty && kernel === exprForm,
      "the JVM sliding-window vote must reproduce the SQL-expression phash exactly")
  }

  test("m49: 56-bit phash kernel is bit-equal to the interpreted expression form") {
    import org.apache.spark.sql.functions.{col, length}
    val spark2 = spark
    import spark2.implicits._
    val docs = T(spark, sfDir, "documents").select("doc_id", "text")
    val exprForm = Multimodal.phashExprForm(docs, 56).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val kernel = docs.filter(length(col("text")) >= 4)
      .as[(Long, String)].mapPartitions(Multimodal.phashKernel(56))
      .collect().toMap
    assert(exprForm.nonEmpty && kernel === exprForm,
      "the JVM sliding-window vote must reproduce the SQL-expression 56-bit phash exactly")
  }

  test("m49: candidate tables are COMPLETE — pair set equals brute-force hamming") {
    // the pigeonhole theorem the scheme rests on: ham <= 3 corrupts at
    // most 3 of 8 blocks, so the pair must agree on some 5-block combo.
    // Brute-force all-pairs hamming at sf0.001 is the ground truth.
    val spark2 = spark
    import spark2.implicits._
    val ph = Multimodal.phashExprForm(
      T(spark, sfDir, "documents").select("doc_id", "text"), 56)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (a, pa) <- ph; (b, pb) <- ph
      if a < b && java.lang.Long.bitCount(pa ^ pb) <= Multimodal.Ham56
    } yield (a, b)).toSet
    val joined = Multimodal.mediaPairs56(spark, sfDir)
      .as[(Long, Long)].collect().toSet
    assert(brute.nonEmpty, "fixture must contain near-dup pairs or the test is vacuous")
    assert(joined === brute,
      "multi-block candidate join must find exactly the brute-force ham<=3 pairs")
  }

  test("m49: combo table is the canonical C(8,5) enumeration") {
    assert(Multimodal.combos5.size === 56)
    assert(Multimodal.combos5.distinct.size === 56)
    assert(Multimodal.combos5.forall(bs =>
      bs.size === 5 && bs === bs.sorted && bs.forall(b => b >= 0 && b < 8)))
  }

  test("d37: every batch doc verdicted once; within-batch rejects are greedy-ordered") {
    import org.apache.spark.sql.functions.col
    val out = Dedup.d37IncrementalDedup.fn(spark, sfDir).collect()
    val batchIds = T(spark, sfDir, "documents")
      .filter(col("doc_id") % 5 === 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out.length === batchIds.size, "exactly one verdict per batch doc")
    assert(out.map(_.getLong(0)).toSet === batchIds)
    out.foreach { r =>
      val id = r.getLong(0)
      val admitted = r.getLong(1) == 1L
      val nMatches = r.getLong(2)
      val firstMatch = if (r.isNullAt(3)) None else Some(r.getLong(3))
      if (admitted) assert(nMatches === 0L && firstMatch.isEmpty,
        s"doc $id: admitted docs carry no match evidence")
      else {
        assert(nMatches > 0L && firstMatch.nonEmpty,
          s"doc $id: rejected docs must name a matching partner")
        // a batch-side partner must have arrived earlier (greedy admission);
        // corpus partners carry no ordering constraint
        firstMatch.filter(_ % 5 == 0).foreach(fm =>
          assert(fm < id, s"doc $id: batch partner $fm must precede it"))
      }
    }
    assert(out.exists(_.getLong(1) == 0L),
      "fixture must reject at least one batch doc or the test is vacuous")
  }

  test("d43: detection S-curve is monotone; b=4,r=3 separates 0.5 from 0.2") {
    val rows = Dedup.d43LshPlanner.fn(spark, sfDir).collect()
      .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getDouble(4))).toMap
    assert(rows.size === 60)
    // monotone in s within every config
    for (((b, r), grp) <- rows.groupBy { case ((b, r, _), _) => (b, r) }) {
      val curve = grp.toSeq.sortBy(_._1._3).map(_._2)
      assert(curve.zip(curve.tail).forall { case (a, c) => a <= c },
        s"config ($b,$r) curve must be monotone")
    }
    // the production config catches true near-dups and starves noise
    val at50 = rows((4L, 3L, 50L))
    val at20 = rows((4L, 3L, 20L))
    assert(at50 > 0.4, s"s=0.5 detection $at50 too low")
    assert(at20 < 0.05, s"s=0.2 detection $at20 must stay negligible")
  }

  test("d46 prefix-filter join returns exactly d27's pairs (completeness + precision)") {
    def pairs(q: Q) = q.fn(spark, sfDir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(5)))).toMap
    val full = pairs(Dedup.d27NgramJaccard)
    val pref = pairs(Dedup.d46PrefixJoin)
    assert(full.nonEmpty)
    assert(pref === full,
      "the prefix filter must prune candidates, never results - the " +
        "globally-min common shingle lands in both prefixes")
  }
}
