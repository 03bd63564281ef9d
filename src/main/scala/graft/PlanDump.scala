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
      println(normalize(Harness.explainEntry(spark, n, dir, SimpleMode)))
    }
    spark.stop()
  }

  /** `plan` with the tokens that vary from run to run blanked, so two
    * dumps of one tree diff clean: expression ids (`#6720`, `obj#39`),
    * lambda class numbers and object hashes, `plan_id`s, the application
    * id in per-run temp paths, and timing metrics. The spec suite matches
    * `#\d+` in [[Harness.explainEntry]]'s output, so the blanking is
    * done here, for the plan mains only. */
  def normalize(plan: String): String =
    Seq("#\\d+" -> "#", "(\\$Lambda)(\\$\\d+)?/0x\\p{XDigit}+@\\p{XDigit}+" -> "$1",
      "plan_id=\\d+" -> "plan_id=", "local-\\d+" -> "local-", "(\\w+Time)=\\d+" -> "$1=")
      .foldLeft(plan) { case (s, (re, to)) => s.replaceAll(re, to) }
}
