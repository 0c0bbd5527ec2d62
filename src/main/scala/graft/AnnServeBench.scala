package graft

import graft.ops.Similarity
import graft.streaming.AnnServe
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Latency posture of the ONLINE ANN endpoint — the per-micro-batch
  * round trip (enqueue → foreachBatch serve → batch-keyed sink commit →
  * checkpoint offset commit) per serving layout, the number an endpoint
  * operator actually watches. The serve COST per layout is already priced
  * by the hash-green batch queries (`BENCH_FULL.json`); what this adds is
  * the STREAMING overhead around it: trigger latency, sink overwrite,
  * checkpoint write — measured as processAllAvailable round trips on a
  * MemoryStream, the same harness the specs drive.
  *
  * Method: per layout, the artifact is ensured BEFORE the stream (the
  * serve loop's own contract), 3 warm-up batches are discarded (session
  * codegen + artifact cache warm), then `batches` measured batches of
  * `q` query ids each (deterministic rotation over the corpus — no RNG).
  * Reported: cold first-batch ms, then p50/p90/max over the measured
  * batches. One JSON line per layout.
  *
  * Usage: `runMain graft.AnnServeBench [sfDir] [batches] [q]`.
  */
object AnnServeBench {

  private def pct(sorted: Seq[Long], p: Double): Long =
    sorted(math.min(sorted.size - 1, math.ceil(p * sorted.size).toInt - 1).max(0))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val batches = args.lift(1).map(_.toInt).getOrElse(30)
    val q = args.lift(2).map(_.toInt).getOrElse(8)
    val spark = Harness.session()
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val nVecs = Tables.load(spark, sfDir, "embeddings").count()
    val layouts: Seq[(String, Similarity.Layout)] = Seq(
      "flat" -> Similarity.Flat,
      "ivf_trained" -> Similarity.IvfTrained(),
      "ivf_residual" -> Similarity.IvfResidual(),
      "opq" -> Similarity.Opq)

    layouts.foreach { case (tag, layout) =>
      val input = MemoryStream[Long]
      val out = java.nio.file.Files.createTempDirectory(s"annbench_${tag}_out").toString
      val ckpt = java.nio.file.Files.createTempDirectory(s"annbench_${tag}_ckpt").toString
      val query = AnnServe.serve(spark, sfDir,
        input.toDF().select(col("value").as("query_id")), out, ckpt,
        layout = layout)
      try {
        def oneBatch(i: Int): Long = {
          val ids = (0 until q).map(j => ((i.toLong * q + j) * 97L) % nVecs)
          val t0 = System.nanoTime()
          input.addData(ids: _*)
          query.processAllAvailable()
          (System.nanoTime() - t0) / 1000000L
        }
        val cold = oneBatch(0)
        (1 to 3).foreach(oneBatch) // warm-up, discarded
        val samples = (4 until 4 + batches).map(oneBatch).sorted
        Harness.emit("ann_serve_latency", "layout" -> tag, "sf" -> sfDir, "q" -> q,
          "batches" -> batches, "cold_ms" -> cold, "p50_ms" -> pct(samples, 0.50),
          "p90_ms" -> pct(samples, 0.90), "max_ms" -> samples.last)
      } finally query.stop()
    }
    spark.stop()
  }
}
