package graft
import scala.util.control.NonFatal
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    // optional extra args = query-name filter (builder iteration only; the
    // driver invokes with exactly (sfDir, outDir) -> full set, unchanged)
    val wanted =
      if (args.length > 2) SparkEntry.queries.view.filterKeys(args.drop(2).toSet).toMap
      else SparkEntry.queries
    // clear every registry query's stale dump first: leftovers from a prior
    // run against a DIFFERENT sfDir would otherwise diff against this run's
    // oracles in compare.py — and defeat its skip-absent-queries fast path
    // on filtered runs (reused outDirs are the norm while iterating)
    def rm(f: java.io.File): Unit = {
      // don't recurse through directory symlinks (File.isDirectory follows
      // them): delete the link itself, never its target's contents
      if (f.isDirectory && !Files.isSymbolicLink(f.toPath))
        Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(); ()
    }
    SparkEntry.queries.keys.foreach { name =>
      val d = new java.io.File(s"$outDir/$name")
      if (d.exists()) rm(d)
    }
    wanted.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // manifest of the queries this run attempted: lets compare.py restrict
    // its oracle sweep on filtered (builder-iteration) runs, so a filtered
    // run's exit code reflects only the queries actually executed instead of
    // failing every unselected query as "no spark output"
    Files.writeString(Paths.get(s"$outDir/ran_queries.json"),
      Harness.json(wanted.keys.toSeq.sorted))
    // escaped by the shared serializer: a quote, backslash or control char
    // in query SQL must not break the driver's json.load
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), Harness.json(SparkEntry.oracleSql))
    spark.stop()
  }
}
