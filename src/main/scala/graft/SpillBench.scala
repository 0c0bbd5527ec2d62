package graft

import scala.util.control.NonFatal
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Memory-pressure posture probe: the heavy exactness-bound family at a
  * scaled corpus under a DELIBERATELY constrained heap. Every BASELINE.md
  * number comes from a box whose RAM never forces the issue; the claim
  * that matters at 100 TB is that these plans complete via SPILL — sort
  * and aggregate operators degrading to disk — rather than by fitting in
  * memory. This main runs each query, sums executor task spill metrics
  * (memoryBytesSpilled / diskBytesSpilled via a listener), and prints one
  * JSON line per query with the heap it actually ran under
  * (`Runtime.maxMemory`, set by SPARK_DRIVER_MEM through build.sbt's
  * forked javaOptions — local-mode executors share the driver JVM, so one
  * knob constrains both).
  *
  * Usage:
  *   SPARK_DRIVER_MEM=8g SPARK_GRAFT_SF_DIR=/tmp/graft_scale/x10 \
  *     sbt "runMain graft.SpillBench [queries...]"
  *
  * A query that OOMs prints ok=false with the error — a result to fix,
  * never to hide. BASELINE.md records the per-round outcomes.
  */
object SpillBench {

  /** The default probe set: the queries whose exactness forces data-sized
    * shuffles/sorts (shingle explosions, CC iteration, all-candidate
    * verification, corpus-wide PQ encode + rerank heap).
    */
  val DefaultQueries: Seq[String] = Seq(
    "ops_ngram_jaccard", "ops_dedup_keep_best", "ops_dedup_cc",
    "ops_containment", "ops_sim_pq")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/graft_scale/x10")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // pressure knobs: a small heap alone may not force spill when the
    // corpus is modest — shrinking the unified-memory fraction (the pool
    // sorts/aggregates spill AGAINST) and widening per-task partitions
    // (fewer, larger shuffle partitions) reproduces the busy-cluster
    // regime where execution memory, not data volume, is the binding
    // constraint. Defaults are Spark's own.
    val memFraction = sys.env.getOrElse("SPARK_GRAFT_MEM_FRACTION", "0.6")
    val shuffleParts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTS", cpus)
    val names = if (args.nonEmpty) args.toSeq else DefaultQueries
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffleParts)
      .config("spark.memory.fraction", memFraction)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val memSpill = new AtomicLong
    val diskSpill = new AtomicLong
    val peakExec = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          memSpill.addAndGet(m.memoryBytesSpilled)
          diskSpill.addAndGet(m.diskBytesSpilled)
          peakExec.updateAndGet(p => math.max(p, m.peakExecutionMemory))
        }
      }
    })

    val heapMb = Runtime.getRuntime.maxMemory() >> 20
    names.foreach { name =>
      memSpill.set(0L); diskSpill.set(0L); peakExec.set(0L)
      val t0 = System.nanoTime()
      val err =
        try { SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save(); None }
        catch { case NonFatal(e) => Some(e.toString.take(300)) }
      val sec = (System.nanoTime() - t0) / 1e9
      Thread.sleep(1500) // let straggling listener events land before reading
      def mb(v: Long): Long = v >> 20
      println(s"""{"metric":"spill_probe","query":"$name","sf_dir":"$sfDir","heap_mb":$heapMb,"mem_fraction":$memFraction,"shuffle_parts":$shuffleParts,"sec":${f"$sec%.1f"},"mem_spill_mb":${mb(memSpill.get)},"disk_spill_mb":${mb(diskSpill.get)},"peak_exec_mb":${mb(peakExec.get)},"ok":${err.isEmpty}${err.map(e => s""","err":"${e.replace("\"", "'")}"""").getOrElse("")}}""")
    }
    spark.stop()
  }
}
