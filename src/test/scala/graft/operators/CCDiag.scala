package graft.operators


/** Dev diagnostic (`sbt "Test/runMain graft.operators.CCDiag <dir>"`):
  * round counts + wall time of both connected-component engines on a
  * table dir's d28 pair graph. This is the probe that localized d34's
  * per-round cost to driver-side plan analysis (not data): pre-checkpoint,
  * 2 HashMin rounds on a 254-pair graph cost 10-26 s; post-checkpoint,
  * ~1.2 s. */
object CCDiag {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft_skew")
    val spark = graft.Harness.session()
    val sh = Dedup.cappedShingleSets(Dedup.shingleHashes(spark, dir).cache()).cache()
    val pairs = Dedup.lshVerifiedPairs(sh).select("a_id", "b_id").cache()
    println(s"[ccdiag] pairs=${pairs.count()}")
    var t0 = System.nanoTime()
    val (hl, hr) = Dedup.hashMinLabels(pairs)
    println(s"[ccdiag] hashmin rounds=$hr labels=${hl.count()} sec=${(System.nanoTime()-t0)/1e9}")
    t0 = System.nanoTime()
    val (sl, sr) = Dedup.starContractionLabels(pairs)
    println(s"[ccdiag] star rounds=$sr labels=${sl.count()} sec=${(System.nanoTime()-t0)/1e9}")
    spark.stop()
  }
}
