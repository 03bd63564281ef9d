package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args after the two dirs: entry-name prefixes (an iteration aid;
    // exactly two args dump every entry)
    val (sfDir, outDir) = (args(0), args(1))
    val selected = Harness.selects(args.toSeq.drop(2), _: String)
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => selected(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape (shared JsonOut): a tab or CR in builder-authored
    // SQL would otherwise make the driver's json.load fail and silently
    // zero the round's correctness.
    val json = JsonOut.obj(SparkEntry.oracleSql
      .filter { case (k, _) => selected(k) }
      .map { case (k, v) => k -> JsonOut.str(v) })
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
