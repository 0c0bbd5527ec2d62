package graft

import graft.ops.Multimodal
import graft.streaming.DedupStream
import graft.streaming.DedupStream.{FpBandRow, FpEdge, FpExemplar, FpRow}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming media near-dup — the third modality through the bucket-exemplar
  * machinery: codec-kernel fingerprint parity with the batch tables,
  * in-handler Hamming-verify soundness, corpus-replay drop-set parity
  * against the batch lossless star factorization, and the state-transition
  * discipline shared with the text stages.
  */
class MediaDedupStreamSpec extends SparkSuite {

  private def runReplay(fps: Seq[FpRow], banding: DedupStream.FpBanding,
                        queryName: String): Array[FpEdge] = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[FpRow]
    val q = DedupStream.fpVerifiedPairs(
        DedupStream.fpBandRows(input.toDS(), banding))
      .writeStream.format("memory").queryName(queryName)
      .outputMode("append").start()
    try {
      // id-order replay over TWO micro-batches: exemplars are then min-id
      // (matching the batch star's min-id reps) and persist across batches
      input.addData(fps.take(fps.size / 2): _*)
      q.processAllAvailable()
      input.addData(fps.drop(fps.size / 2): _*)
      q.processAllAvailable()
      spark.table(queryName).as[FpEdge].collect()
    } finally q.stop()
  }

  private def checkParity(fps: Seq[FpRow], edges: Array[FpEdge],
                          batch: Array[(Long, Long, Long)]): Unit = {
    val fpOf = fps.map(r => r.doc_id -> r.fp).toMap
    assert(edges.nonEmpty, "corpus has planted near-dup classes; stream found none")
    // soundness: every edge's hamming is the exact popcount of the two
    // real fingerprints and within the threshold — candidates leave the
    // stream verified. Within-class edges report 0 against the class rep.
    edges.foreach { e =>
      assert(e.doc_id > e.dup_of, s"id-order replay must flag later arrivals: $e")
      val h = java.lang.Long.bitCount(fpOf(e.doc_id) ^ fpOf(e.dup_of)).toLong
      assert(h == e.hamming && h <= 3, s"hamming drift: $e vs recomputed $h")
    }
    // the full parity pin: deduped across bands, the streamed edges ARE the
    // batch lossless star factorization — within-class stars (hamming 0 to
    // the min-id rep) plus rep-level class pairs — pair for pair, hamming
    // included
    val streamSet = edges.map(e => (e.dup_of, e.doc_id, e.hamming)).toSet
    val batchSet = batch.map { case (a, b, h) => (a, b, h) }.toSet
    assert(streamSet == batchSet,
      s"factorization divergence: stream-only ${streamSet -- batchSet}, " +
        s"batch-only ${batchSet -- streamSet}")
  }

  test("image replay: edges sound, drop-set equals the batch phash star") {
    import spark.implicits._
    val fps = Multimodal.pngPhashDf(spark, sf).collect()
      .map(r => FpRow(r.doc_id, r.phash)).sortBy(_.doc_id).toSeq
    val batch = Multimodal.imagePhashPairs(spark, sf)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .as[(Long, Long, Long)].collect()
    checkParity(fps, runReplay(fps, DedupStream.ImageBanding, "media_stream_img"), batch)
  }

  test("audio replay: edges sound, drop-set equals the batch acoustic star") {
    import spark.implicits._
    val fps = Multimodal.wavFingerprintDf(spark, sf).collect()
      .map(r => FpRow(r.doc_id, r.afp)).sortBy(_.doc_id).toSeq
    val batch = Multimodal.audioFpPairs(spark, sf)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .as[(Long, Long, Long)].collect()
    checkParity(fps, runReplay(fps, DedupStream.AudioBanding, "media_stream_aud"), batch)
  }

  test("streaming fingerprint stages equal the batch codec tables bit-for-bit") {
    val img = DedupStream.imageFingerprints(Multimodal.pngTable(spark, sf))
      .collect().toSet
    val imgBatch = Multimodal.pngPhashDf(spark, sf).collect()
      .map(r => FpRow(r.doc_id, r.phash)).toSet
    assert(img == imgBatch, "image fingerprint stage diverged from the batch kernel")
    val aud = DedupStream.audioFingerprints(Multimodal.wavTable(spark, sf))
      .collect().toSet
    val audBatch = Multimodal.wavFingerprintDf(spark, sf).collect()
      .map(r => FpRow(r.doc_id, r.afp)).toSet
    assert(aud == audBatch, "audio fingerprint stage diverged from the batch kernel")
  }

  test("cross-batch near-dup is verified against the stored exemplar; far pairs stay silent") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = 0x00FFFF00FF00FFL // arbitrary 56-bit fingerprint
    val near = base ^ 0x5L       // 2 bits flipped: within maxHamming 3
    val far = ~base & ((1L << 56) - 1) // 56 bits away, but SHARES no band? flip all: every band differs
    val input = MemoryStream[FpRow]
    val q = DedupStream.fpVerifiedPairs(
        DedupStream.fpBandRows(input.toDS(), DedupStream.ImageBanding))
      .writeStream.format("memory").queryName("media_stream_x")
      .outputMode("append").start()
    try {
      input.addData(FpRow(1L, base), FpRow(2L, far))
      q.processAllAvailable()
      assert(spark.table("media_stream_x").as[FpEdge].collect().isEmpty,
        "batch 1 has no near-dups")
      input.addData(FpRow(3L, near))
      q.processAllAvailable()
      val out = spark.table("media_stream_x").as[FpEdge].collect()
      assert(out.nonEmpty, "cross-batch near-dup was not detected")
      assert(out.forall(e => e.doc_id == 3L && e.dup_of == 1L && e.hamming == 2L),
        s"expected 3 -> 1 (hamming 2) edges only: ${out.toSeq}")
    } finally q.stop()
  }

  test("bucket-state migration: relocated media exemplar store keeps its classes") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StateMigration
    val fps = Multimodal.pngPhashDf(spark, sf).collect()
      .map(r => FpRow(r.doc_id, r.phash)).sortBy(_.doc_id).toSeq
    val (wave1, wave2) = fps.splitAt(fps.size / 2)
    def bands(in: MemoryStream[FpRow]) =
      DedupStream.fpBandRows(in.toDS(), DedupStream.ImageBanding)
    val chk = java.nio.file.Files.createTempDirectory("media_mig_chk").toString
    val in1 = MemoryStream[FpRow]
    val q1 = DedupStream.fpVerifiedPairs(bands(in1))
      .writeStream.format("memory").queryName("media_mig_a")
      .option("checkpointLocation", chk).outputMode("append").start()
    try { in1.addData(wave1: _*); q1.processAllAvailable() } finally q1.stop()
    val st = StateMigration.readMediaDedupState(spark, chk)
    assert(st.count() > 0, "wave 1 enrolled no exemplars")
    val in2 = MemoryStream[FpRow]
    val q2 = DedupStream.fpVerifiedPairs(bands(in2), initial = Some(st))
      .writeStream.format("memory").queryName("media_mig_b")
      .outputMode("append").start()
    val resumed = try {
      in2.addData(wave2: _*); q2.processAllAvailable()
      spark.table("media_mig_b").as[FpEdge].collect()
        .map(e => (e.dup_of, e.doc_id, e.hamming)).toSet
    } finally q2.stop()
    // reference: uninterrupted replay's wave-2 edges
    val all = runReplay(fps, DedupStream.ImageBanding, "media_mig_ref")
    val wave2Ids = wave2.map(_.doc_id).toSet
    val ref = all.filter(e => wave2Ids(e.doc_id))
      .map(e => (e.dup_of, e.doc_id, e.hamming)).toSet
    assert(resumed == ref,
      s"relocated media store diverged: resumed-only ${resumed -- ref}, ref-only ${ref -- resumed}")
  }

  test("state transitions: class enrollment, exact-dup star edge, verify gate, TTL expiry") {
    import org.apache.spark.sql.streaming.TestGroupState
    import graft.streaming.DedupStream.FpBucketState
    // id-sorted processing: 3 enrolls first (class rep), 7 pairs with it
    // (hamming 2) and enrolls, 9 is hamming 4 from 3 (gated) but 2 from 7
    // (paired), 12 is an EXACT dup of 3 — one within-class edge, no
    // enrollment (class-grain state: copies never grow the row)
    val fresh = TestGroupState.create[FpBucketState](
      optionalState = org.apache.spark.api.java.Optional.empty[FpBucketState](),
      timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout,
      batchProcessingTimeMs = 0L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](),
      hasTimedOut = false)
    val claimed = DedupStream.onFpBucket(
      Iterator(FpBandRow("k", 7L, 1, 0b1011L), FpBandRow("k", 3L, 1, 0b1000L),
        FpBandRow("k", 9L, 1, 0b0111L), FpBandRow("k", 12L, 1, 0b1000L)),
      fresh, None, maxHamming = 3, bucketCap = 100).toList
    assert(claimed == List(
      FpEdge(7L, 3L, 1, 2L), FpEdge(9L, 7L, 1, 2L), FpEdge(12L, 3L, 1, 0L)),
      s"got $claimed")
    assert(fresh.isUpdated && fresh.get == FpBucketState(Seq(
      FpExemplar(3L, 0b1000L), FpExemplar(7L, 0b1011L), FpExemplar(9L, 0b0111L))))
    // cap: a full bucket still verifies arrivals but stops enrolling
    val full = TestGroupState.create[FpBucketState](
      optionalState = org.apache.spark.api.java.Optional.of(
        FpBucketState(Seq(FpExemplar(3L, 0b1000L), FpExemplar(7L, 0b1011L)))),
      timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout,
      batchProcessingTimeMs = 0L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](),
      hasTimedOut = false)
    val capped = DedupStream.onFpBucket(
      Iterator(FpBandRow("k", 20L, 1, 0b1001L)), full, None,
      maxHamming = 3, bucketCap = 2).toList
    assert(capped == List(FpEdge(20L, 3L, 1, 1L), FpEdge(20L, 7L, 1, 1L)))
    assert(!full.isUpdated, "over-cap bucket must not grow its state row")
    // expiry: remove, never re-arm (the store must shrink)
    val expired = TestGroupState.create[FpBucketState](
      optionalState = org.apache.spark.api.java.Optional.of(
        FpBucketState(Seq(FpExemplar(3L, 0b1000L)))),
      timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.ProcessingTimeTimeout,
      batchProcessingTimeMs = 1000L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](),
      hasTimedOut = true)
    val out = DedupStream.onFpBucket(Iterator.empty, expired, Some("1 hour"), 3, 100).toList
    assert(out.isEmpty && expired.isRemoved && !expired.isUpdated)
  }
}
