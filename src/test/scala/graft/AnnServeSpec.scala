package graft

import java.nio.file.Files

import graft.ops.Similarity
import graft.streaming.AnnServe
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The stream-driven ANN serving loop ([[graft.streaming.AnnServe]]):
  * each micro-batch of query ids must produce exactly the hash-green batch
  * serve's answers, routed to its own batch-keyed output partition — the
  * online endpoint is the same plan the oracle gates, fed by a stream.
  */
class AnnServeSpec extends SparkSuite {

  test("micro-batches serve exactly the batch-serve answers, keyed by batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Long]
    val out = Files.createTempDirectory("ann_serve_out").toString
    val ckpt = Files.createTempDirectory("ann_serve_ckpt").toString
    val q = AnnServe.serve(spark, sf,
      input.toDF().select(col("value").as("query_id")), out, ckpt)
    try {
      input.addData(0L, 1L)
      q.processAllAvailable()
      input.addData(3L, 2L, 3L) // duplicate + unordered: the loop dedupes
      q.processAllAvailable()
      val got = spark.read.parquet(out)
        // batch_id is a DISCOVERED partition column — inference types it int
        .select(col("batch_id").cast("long"), col("query_id"), col("vec_id"), col("cos_sim"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      // batch routing: each query's rows live in the micro-batch that
      // carried it, nowhere else
      val byBatch = got.groupBy(_._1).view
        .mapValues(_.map(_._2).toSet).toMap
      assert(byBatch.keySet.size == 2, s"expected 2 served batches: $byBatch")
      val (b0, b1) = (byBatch.keySet.min, byBatch.keySet.max)
      assert(byBatch(b0) == Set(0L, 1L) && byBatch(b1) == Set(2L, 3L),
        s"queries routed to the wrong micro-batch: $byBatch")
      // answers: per query, the set of (neighbor, score) equals the
      // single-query serve (the oracle-gated plan)
      for (qid <- Seq(0L, 1L, 2L, 3L)) {
        val expect = serveRows(Similarity.serve(spark, sf, Similarity.Flat, Seq(qid)))
          .map(t => (t._2, t._3)).toSet
        val served = got.filter(_._2 == qid).map(t => (t._3, t._4)).toSet
        assert(served == expect, s"stream-served answers for query $qid diverged")
      }
    } finally q.stop()
  }

  test("the trained-IVF and residual layouts plug into the same loop: answers == their batch serves") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val cases: Seq[(String, Similarity.Layout)] = Seq(
      "t" -> Similarity.IvfTrained(), "r" -> Similarity.IvfResidual(), "o" -> Similarity.Opq)
    cases.foreach { case (tag, layout) =>
      val input = MemoryStream[Long]
      val out = Files.createTempDirectory(s"ann_serve_${tag}_out").toString
      val ckpt = Files.createTempDirectory(s"ann_serve_${tag}_ckpt").toString
      val q = AnnServe.serve(spark, sf,
        input.toDF().select(col("value").as("query_id")), out, ckpt,
        layout = layout)
      try {
        input.addData(0L, 2L)
        q.processAllAvailable()
        val got = spark.read.parquet(out)
          .select(col("query_id"), col("vec_id"), col("cos_sim"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        val expect = serveRows(Similarity.serve(spark, sf, layout, Seq(0L, 2L))).toSet
        assert(got == expect,
          s"$tag-layout stream serve diverged from the batch serve:\n$got\nvs\n$expect")
      } finally q.stop()
    }
  }

  test("latest/sweepServed on an empty or missing served dir: quiet empty frames, never a schema-inference crash") {
    // a periodic consumer/sweeper can fire before the stream's first
    // non-empty micro-batch lands — that is a quiet empty state
    val missing = "/tmp/ann_serve_never_written_" + System.nanoTime()
    assert(AnnServe.latest(spark, missing).count() == 0L)
    assert(AnnServe.sweepServed(spark, missing).count() == 0L)
    val empty = Files.createTempDirectory("ann_serve_empty").toString
    assert(AnnServe.latest(spark, empty).count() == 0L)
    assert(AnnServe.sweepServed(spark, empty).count() == 0L)
    assert(AnnServe.latest(spark, empty).columns.toSeq ==
      Seq("query_id", "batch_id", "vec_id", "cos_sim"))
  }

  test("latest view + retention sweep: re-answered queries supersede; still-latest batches survive the sweep; sweep is idempotent") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Long]
    val out = Files.createTempDirectory("ann_serve_life_out").toString
    val ckpt = Files.createTempDirectory("ann_serve_life_ckpt").toString
    val q = AnnServe.serve(spark, sf,
      input.toDF().select(col("value").as("query_id")), out, ckpt)
    try {
      // batch 0: queries 0,1 — query 0 is then RE-asked in every later
      // batch, query 1 never again (its only answer lives in batch 0)
      input.addData(0L, 1L); q.processAllAvailable()
      input.addData(0L, 2L); q.processAllAvailable()
      input.addData(0L, 3L); q.processAllAvailable()
      input.addData(0L, 4L); q.processAllAvailable()

      val lat = AnnServe.latest(spark, out)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val batches = spark.read.parquet(out)
        .select(col("batch_id").cast("long")).distinct()
        .collect().map(_.getLong(0)).sorted
      assert(batches.length == 4, s"expected 4 served batches: ${batches.toSeq}")
      val last = batches.max
      // query 0's latest answer comes from the LAST batch only; each other
      // query keeps its one answering batch
      assert(lat.filter(_._1 == 0L).map(_._2) == Set(last),
        s"superseded answers leaked into the latest view: $lat")
      assert(lat.map(_._1) == Set(0L, 1L, 2L, 3L, 4L))

      // sweep keeping 1 newest dir: batch 0 SURVIVES anyway (it still
      // carries query 1's only answer), and so do the still-latest middle
      // batches (queries 2, 3) — only dirs that are neither newest nor
      // anyone's latest may go (here: none, every batch is someone's
      // latest — so the first sweep removes nothing and proves the guard)
      val swept1 = AnnServe.sweepServed(spark, out, keepBatches = 1)
        .collect().map(_.getLong(0)).toSet
      assert(swept1.isEmpty,
        s"sweep dropped a batch that still carried someone's latest answer: $swept1")

      // re-answer 1, 2, 3 in one new batch: the old middle batches lose
      // their last claim and a sweep now reclaims them
      input.addData(1L, 2L, 3L); q.processAllAvailable()
      val swept2 = AnnServe.sweepServed(spark, out, keepBatches = 1)
        .collect().map(_.getLong(0)).toSet
      assert(swept2.nonEmpty, "sweep reclaimed nothing after supersession")
      assert(!swept2.contains(batches(3)),
        "sweep dropped the batch holding query 4's only answer")
      // the latest view is UNCHANGED by the sweep (it only ever removes
      // superseded history), and a second sweep is a no-op
      val lat2 = AnnServe.latest(spark, out)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(lat2.map(_._1) == Set(0L, 1L, 2L, 3L, 4L),
        s"sweep vanished a query's answer: $lat2")
      assert(AnnServe.sweepServed(spark, out, keepBatches = 1).count() == 0L,
        "retention sweep is not idempotent")
    } finally q.stop()
  }
}
