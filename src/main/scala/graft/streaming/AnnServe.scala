package graft.streaming

import graft.ops.Similarity
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Stream-driven ANN serving — the online half of the persisted-codes PQ
  * deployment ([[graft.ops.Similarity.ensurePqCodes]] /
  * [[graft.ops.Similarity.serve]]): queries arrive as an unbounded stream
  * of ids, each micro-batch becomes ONE [[graft.ops.Similarity.serve]] over
  * the chosen [[graft.ops.Similarity.Layout]] (corpus read once per
  * micro-batch, never per query — the same Q-row-exchange plan the batch
  * contract pinned), and results land keyed by micro-batch.
  *
  * Why foreachBatch and not a stream-static join: the serve is a multi-stage
  * plan (codes×queries ADC → per-query top-k AGGREGATION → candidate join →
  * rerank WINDOW) — Structured Streaming forbids a window after a streaming
  * aggregation in one continuous plan, and the batch formulation is exactly
  * what a production endpoint wants anyway: admission-batched requests, each
  * batch amortizing one artifact scan. This is the documented
  * "stream-driven batch serving" pattern, the streaming twin of
  * [[graft.streaming.CdcSink]]'s idempotent delivery.
  *
  * Exactly-once: the sink is keyed by micro-batch — each batch OVERWRITES
  * its own `batch_id=<id>` directory, so a replayed batch (failure between
  * sink write and offset commit) rewrites the same bytes instead of
  * appending duplicates. The per-batch id collect is bounded by the batch of
  * serving REQUESTS (admission-controlled upstream), not by any corpus size.
  */
object AnnServe {

  /** The served batch dirs under `outDir`, sorted by batch id — empty when
    * the dir doesn't exist yet or no non-empty micro-batch has landed (a
    * periodic consumer/sweeper may fire before the stream's first write;
    * that is a quiet empty state, not an error).
    */
  private def servedBatchDirs(spark: SparkSession, outDir: String)
      : Seq[(Long, org.apache.hadoop.fs.Path)] = {
    val root = new org.apache.hadoop.fs.Path(outDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch_id="))
      .map(s => s.getPath.getName.stripPrefix("batch_id=").toLong -> s.getPath)
      .sortBy(_._1)
  }

  private def emptyLatest(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StructType(Seq(
      StructField("query_id", LongType), StructField("batch_id", LongType),
      StructField("vec_id", LongType), StructField("cos_sim", DoubleType))))
  }

  /** The consumer's view of the served results: the LATEST answer per
    * query — a query re-asked in a later batch supersedes its older
    * answers (the serving corpus may have grown between batches). One
    * read of the batch-partitioned dir (partition discovery gives
    * `batch_id`), one per-query window over it; at scale the dir is
    * bounded by [[sweepServed]]'s retention, so this is a view over the
    * retained tail, not an unbounded history scan. Returns
    * (query_id, batch_id, vec_id, cos_sim) — the full top-k of the
    * winning batch.
    */
  def latest(spark: SparkSession, outDir: String): DataFrame = {
    if (servedBatchDirs(spark, outDir).isEmpty) return emptyLatest(spark)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
    spark.read.parquet(outDir)
      .withColumn("max_b", max(col("batch_id")).over(w))
      .filter(col("batch_id") === col("max_b"))
      .select(col("query_id"), col("batch_id").cast("long").as("batch_id"),
        col("vec_id"), col("cos_sim"))
  }

  /** Retention sweep over the served dirs — the same metadata-only
    * discipline as [[graft.sources.Layout.retentionSweep]] (list the
    * top-level `batch_id=` partition directories, delete whole dirs; a
    * retention pass that scans data is a bug), with one serving-specific
    * guard: a batch dir is retained while it still carries the LATEST
    * answer for any query (dropping it would not "age out" a result, it
    * would VANISH it — a query served once in an old batch keeps its
    * answer until a newer batch re-answers it). Keeps the newest
    * `keepBatches` dirs plus every still-latest dir; returns a
    * (batch_id, files, bytes) report of what was removed. Idempotent: a
    * second sweep with the same arguments removes nothing.
    */
  def sweepServed(spark: SparkSession, outDir: String,
                  keepBatches: Int = 3): DataFrame = {
    import spark.implicits._
    require(keepBatches >= 1, s"keepBatches must be >= 1: $keepBatches")
    val dirs = servedBatchDirs(spark, outDir)
    if (dirs.isEmpty)
      return Seq.empty[(Long, Long, Long)].toDF("batch_id", "files", "bytes")
    val root = new org.apache.hadoop.fs.Path(outDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val newest = dirs.map(_._1).takeRight(keepBatches).toSet
    // bounded metadata: one row per served query — the winning batch ids
    val stillLatest = latest(spark, outDir)
      .select(col("batch_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    val dropped = dirs
      .filter { case (b, _) => !newest(b) && !stillLatest(b) }
      .map { case (b, p) =>
        val usage = fs.getContentSummary(p) // counted before the delete
        require(fs.delete(p, true), s"failed to drop served batch $p")
        (b, usage.getFileCount, usage.getLength)
      }
    dropped.toDF("batch_id", "files", "bytes")
  }

  /** Start the serving loop. `queries` is a streaming DataFrame bearing a
    * `query_id` long column (ids into the corpus — production would carry a
    * raw vector instead; the id form keeps the loop on the hash-green
    * serving queries). Results: `outDir/batch_id=<n>/` parquet with
    * (query_id, vec_id, cos_sim) — top-k neighbors per query under
    * `layout` (see [[graft.ops.Similarity.Layout]]).
    */
  def serve(spark: SparkSession, sfDir: String, queries: DataFrame,
            outDir: String, checkpointDir: String,
            k: Int = 10, rerank: Int = 100,
            layout: Similarity.Layout = Similarity.Flat): StreamingQuery = {
    // the artifact is built (or found) BEFORE the stream starts — a serving
    // loop must never pay the corpus-wide encode inside a micro-batch
    layout.ensure(spark, sfDir)
    queries.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val ids = batch.select(col("query_id")).distinct()
          .collect().map(_.getLong(0)).toSeq.sorted
        if (ids.nonEmpty) {
          Similarity.serve(spark, sfDir, layout, ids, k, rerank)
            .write.mode("overwrite")
            .parquet(s"$outDir/batch_id=$batchId")
        }
        ()
      }
      .start()
  }
}
