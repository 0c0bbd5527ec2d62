package graft
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // many-query session: size the codegen cache for the inventory (see Bench)
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
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
      wanted.keys.toSeq.sorted.map(k => "\"" + k + "\"").mkString("[", ",", "]"))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
