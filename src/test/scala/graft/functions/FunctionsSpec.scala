package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.proto._
import graft.conv.GraftConfig
import graft.{Protarrow, SparkSpec}

class FunctionsSpec extends SparkSpec {

  test("MinHashAgg matches the expression-pipeline signatures") {
    import spark.implicits._
    val ex = graft.operators.Dedup.shingles(spark, sfDir)
      .select(col("doc_id"), explode(col("s")).as("sh"))
      .withColumn("h", expr(graft.operators.H.s("sh")))
    // expression path (as in d28)
    val exprRows = graft.operators.Dedup.shingles(spark, sfDir)
      .withColumn("th", expr(s"transform(s, x -> ${graft.operators.H.s("x")})"))
      .selectExpr("doc_id",
        "transform(sequence(0, 11), k -> array_min(transform(th, " +
          "h -> ((2*k + 1) * h + (k*k + 1)) % 2147483647))) as sig", "th")
      .collect()
    val exprSig = exprRows.map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // the streaming tier's fold over the same shingle sets
    val foldSig = exprRows.map(r =>
      r.getLong(0) -> graft.operators.Dedup.minhashSig(r.getSeq[Long](2).toArray).toSeq).toMap
    // aggregator path (untyped udaf registration)
    val aggSig = ex.groupBy("doc_id").agg(MinHashAgg.udafOf(12)(col("h")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(aggSig.keySet === exprSig.keySet)
    aggSig.foreach { case (id, sig) =>
      assert(sig === exprSig(id), s"doc $id")
      assert(foldSig(id) === sig, s"doc $id: Dedup.minhashSig")
    }
  }

  test("array_dot: bit-equal to the interpreted HOF fold, both eval paths") {
    val e = graft.operators.T(spark, sfDir, "embeddings")
      .selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) as v")
    val hof = e.selectExpr("vec_id",
      graft.operators.Cosine.sparkDot("v", "v") + " as d")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // codegen path (whole-stage)
    val native = e.select(col("vec_id"),
      graft.operators.Cosine.dot(col("v"), col("v")).as("d"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(native.keySet === hof.keySet)
    native.foreach { case (id, d) =>
      assert(java.lang.Double.doubleToLongBits(d) ===
        java.lang.Double.doubleToLongBits(hof(id)), s"vec $id") // bit-equal
    }
    // interpreted path (eval over literals) must agree with codegen
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val interp = e.limit(5).collect().map { r =>
      val lit = Literal.create(r.getSeq[Double](1), ArrayType(DoubleType))
      r.getLong(0) -> ArrayDot(lit, lit).eval(null).asInstanceOf[Double]
    }.toMap
    interp.foreach { case (id, d) => assert(d === native(id), s"vec $id interp") }
  }

  test("token_quality: row-identical to the three-way split predicate, both eval paths") {
    val docs = graft.operators.T(spark, sfDir, "documents")
    val sqlPred = docs.filter(expr(
      "size(split(text, ' ')) between 20 and 120 and " +
        "cast(size(filter(split(text, ' '), x -> x = 'the' OR x = 'a')) as double)" +
        " / size(split(text, ' ')) <= 0.25"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val native = docs.filter(TokenQuality(col("text"), 20, 120, 0.25))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(sqlPred.nonEmpty && native.size < docs.count(),
      "the gate must both keep and drop rows at this SF")
    assert(native === sqlPred)
    // interpreted (eval) path on edge cases: empty string = one empty token,
    // trailing-space empties kept, multibyte text, all-stopword doc
    import org.apache.spark.sql.catalyst.expressions.Literal
    def chk(s: String, min: Int = 1, max: Int = 1000, r: Double = 0.25) =
      TokenQuality(Literal(s), min, max, r).eval(null).asInstanceOf[Boolean]
    assert(chk("") === true)             // [""]: 1 token, 0 stop
    assert(chk("", 2, 5) === false)
    assert(chk("a b ") === false)        // ["a","b",""]: 3 tokens, 1 stop, 1/3 > 0.25
    assert(chk("a b ", 1, 10, 0.34) === true)
    assert(chk("the the the b") === false) // 4 tokens, 3 stop: ratio 0.75
    assert(chk("héllo wörld ñ a", 1, 10, 0.25) === true) // 4 tokens, 1 stop = 0.25
    assert(chk("athe a the", 1, 10, 0.5) === false) // 3 tokens, 2 stop ≈ 0.67
  }

  test("token kernel vs SQL split semantics on generated unicode strings") {
    // the byte-level kernel's claim — tokens = 0x20 count + 1, stop
    // segments byte-equal to 'the'/'a', multibyte-safe — fuzzed against
    // the split-based SQL forms on adversarial strings: random unicode,
    // runs of spaces, leading/trailing spaces, embedded stop words
    import spark.implicits._
    val rnd = new scala.util.Random(11L)
    val pieces = Array("the", "a", "athe", "thea", "", "héllo", "wörld",
      "日本語", "x", " ", "tab\there", "ünïcödé", "emoji😀")
    val strs = (0 until 200).map { _ =>
      (0 until rnd.nextInt(12)).map(_ => pieces(rnd.nextInt(pieces.length)))
        .mkString(" " * (1 + rnd.nextInt(2))) + (if (rnd.nextBoolean()) " " else "")
    }.distinct
    val df = strs.toDF("text").cache()
    val sqlSide = df.selectExpr("text",
      "size(split(text, ' ')) as n",
      "size(filter(split(text, ' '), x -> x = 'the' OR x = 'a')) as s")
      .collect().map(r => r.getString(0) -> (r.getInt(1), r.getInt(2))).toMap
    val native = df.select(col("text"), TokenStats(col("text")).as("ts"))
      .select(col("text"), col("ts.n_tokens"), col("ts.n_stop"))
      .collect().map(r => r.getString(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(native.keySet === sqlSide.keySet)
    native.foreach { case (t, counts) =>
      assert(counts === sqlSide(t), s"kernel mismatch on ${t.take(40).mkString}")
    }
    // the boolean predicate agrees too, on thresholds that bite
    val sqlPred = df.filter(expr(
      "size(split(text, ' ')) between 2 and 8 and " +
        "cast(size(filter(split(text, ' '), x -> x = 'the' OR x = 'a')) as double)" +
        " / size(split(text, ' ')) <= 0.3")).collect().map(_.getString(0)).toSet
    val nativePred = df.filter(TokenQuality(col("text"), 2, 8, 0.3))
      .collect().map(_.getString(0)).toSet
    assert(nativePred === sqlPred)
  }

  /** The explode-join + window form of PQ encode — what the DuckDB
    * oracle runs in SQL; the reference the codegen'd [[CodebookArgmin]]
    * path is pinned bit-equal to. */
  private def pqCodesJoinForm(subs: DataFrame, cb: DataFrame): DataFrame = {
    val wAsg = Window.partitionBy(col("vec_id"), col("s"))
      .orderBy(col("dist"), col("c"))
    subs.join(broadcast(cb), "s")
      .withColumn("dist", expr(
        "aggregate(zip_with(sub, cw, (x, y) -> (x - y) * (x - y)), " +
          "cast(0 as bigint), (a, t) -> a + t)"))
      .withColumn("rnk", row_number().over(wAsg))
      .filter(col("rnk") === 1)
      .select(col("vec_id").as("n_id"), col("s"), col("c"))
  }

  test("codebook_argmin codes are bit-equal to the explode-join + window form") {
    import graft.operators.Similarity
    val qz = Similarity.pqQuantized(spark, "/root/testdata/sf0.001")
    val subs = Similarity.pqSubs(qz).cache()
    val cb = Similarity.pqCodebookFrame(subs)
    val books = Similarity.pqBooks(cb)
    def toMap(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val joinForm = toMap(pqCodesJoinForm(subs, cb))
    val exprForm = toMap(subs
      .withColumn("c", CodebookArgmin(col("sub"), col("s"), books))
      .select(col("vec_id").as("n_id"), col("s"), col("c")))
    assert(joinForm.nonEmpty && exprForm === joinForm,
      "the codegen'd assignment must reproduce the (dist ASC, c ASC) " +
        "tie-break of the join+window form exactly")
    // positive control: ties exist (codebook members assign to themselves
    // at distance 0; any corpus collisions must break to the lowest c)
    assert(exprForm.values.toSet.size > 1)
  }

  test("writeProtoJsonl ↔ readProtoJsonl round trip") {
    val reg = Schemas.registry
    val md = Schemas.msg("ExampleMessage")
    val src = graft.operators.Fixtures.materialize("ExampleMessage")
    val df = Protarrow.readProtoJsonl(spark, src, md, GraftConfig(), reg)
    val out = java.nio.file.Files.createTempDirectory("graft_jsonl").toString + "/out"
    Protarrow.writeProtoJsonl(df, md, out, GraftConfig(), reg)
    val back = Protarrow.readProtoJsonl(spark, out, md, GraftConfig(), reg)
    assert(back.count() === df.count())
    val a = Protarrow.dataFrameToMessages(df, md, GraftConfig(), reg)
    val b = Protarrow.dataFrameToMessages(back, md, GraftConfig(), reg)
    assert(a.toSet === b.toSet) // file order may differ across partitions
  }
}
