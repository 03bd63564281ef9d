package graft

import org.apache.spark.sql.execution.SimpleMode

/** Dev aid: dump physical plans for the PLANS.md evidence file, each
  * entry's reuse-point jobs first ([[Harness.explainEntry]]).
  * `runMain graft.PlanDump [dir] [name prefixes...]` — defaults to every
  * registered entry over sf0.001 (see [[Harness.planArgs]]). */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val (dir, names) = Harness.planArgs(args.toSeq)
    // 8 workers: exchange widths in the dumps stay comparable across hosts
    val spark = Harness.session(8)
    for (n <- names) {
      println(s"===== $n")
      println(Harness.explainEntry(spark, n, dir, SimpleMode))
    }
    spark.stop()
  }
}
