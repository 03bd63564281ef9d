package graft

import org.apache.spark.sql.execution.SimpleMode

/** Dev aid: dump physical plans for the PLANS.md evidence file.
  * `runMain graft.PlanDump [query names...]` — defaults to every
  * registered entry. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    // 8 workers: exchange widths in the dumps stay comparable across hosts
    val spark = Harness.session(8)
    // an absolute-path first arg overrides the data dir (e.g. pointing at
    // the VolumeBench 10x corpus to diff plans across scales)
    val (dir, rest) = args.headOption.filter(_.startsWith("/"))
      .map(d => (d, args.tail.toSeq)).getOrElse(("/root/testdata/sf0.001", args.toSeq))
    val names = if (rest.nonEmpty) rest else SparkEntry.queries.keys.toSeq.sorted
    for (n <- names) {
      println(s"===== $n")
      println(SparkEntry.queries(n)(spark, dir)
        .queryExecution.explainString(SimpleMode))
    }
    spark.stop()
  }
}
