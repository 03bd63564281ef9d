package graft

import org.apache.spark.sql.execution.ExplainMode
import java.nio.file.{Files, Paths}

/** Dev aid for the optimization rounds: write `explain("formatted")` output
  * for the named queries to plans/<tag>/<query>_<suffix>.txt — the
  * before/after plan evidence the round deliverable requires.
  *
  * Usage: runMain graft.PlanSnap <tag> <suffix> [dir] <name prefixes...>
  * e.g.   runMain graft.PlanSnap fuse before d46 x133
  *
  * Data dir defaults to sf0.001 (plan SHAPE is scale-independent here: the
  * same code path builds the frame at every SF); the dir and prefixes
  * follow PlanDump's rule ([[Harness.planArgs]]).
  */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    // at least one prefix after the optional dir: no prefix would
    // snapshot every registered entry
    require(args.length >= 3 && !(args.length == 3 && args(2).startsWith("/")),
      "usage: PlanSnap <tag> <suffix> [dir] <name prefixes...>")
    val tag = args(0)
    val suffix = args(1)
    val (dir, names) = Harness.planArgs(args.toSeq.drop(2))
    // 8 workers, as PlanDump: snapshots stay comparable across hosts
    val spark = Harness.session(8)
    Files.createDirectories(Paths.get(s"plans/$tag"))
    for (n <- names) {
      val txt =
        try PlanDump.normalize(Harness.explainEntry(spark, n, dir, ExplainMode.fromString("formatted")))
        catch { case e: Throwable => s"ERROR: ${e.getMessage}" }
      Files.writeString(Paths.get(s"plans/$tag/${n}_$suffix.txt"), txt)
      println(s"[plansnap] wrote plans/$tag/${n}_$suffix.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
