package graft

import org.apache.spark.sql.execution.ExplainMode
import java.nio.file.{Files, Paths}

/** Dev aid for the optimization rounds: write `explain("formatted")` output
  * for the named queries to plans/<tag>/<query>_<suffix>.txt — the
  * before/after plan evidence the round deliverable requires.
  *
  * Usage: runMain graft.PlanSnap <tag> <suffix> [query names...]
  * e.g.   runMain graft.PlanSnap r12 before d46_prefix_join x133_dsir_selection
  *
  * Data dir defaults to sf0.001 (plan SHAPE is scale-independent here: the
  * same code path builds the frame at every SF; an absolute-path first query
  * arg overrides it, mirroring PlanDump).
  */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanSnap <tag> <suffix> [dir] <queries...>")
    val tag = args(0)
    val suffix = args(1)
    val (dir, names) =
      if (args(2).startsWith("/")) (args(2), args.drop(3).toSeq)
      else ("/root/testdata/sf0.001", args.drop(2).toSeq)
    // 8 workers, as PlanDump: snapshots stay comparable across hosts
    val spark = Harness.session(8)
    Files.createDirectories(Paths.get(s"plans/$tag"))
    for (n <- names) {
      val txt =
        try SparkEntry.queries(n)(spark, dir)
          .queryExecution.explainString(ExplainMode.fromString("formatted"))
        catch { case e: Throwable => s"ERROR: ${e.getMessage}" }
      Files.writeString(Paths.get(s"plans/$tag/${n}_$suffix.txt"), txt)
      println(s"[plansnap] wrote plans/$tag/${n}_$suffix.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
