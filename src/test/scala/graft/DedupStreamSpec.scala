package graft

import graft.ops.Dedup
import graft.streaming.DedupStream
import graft.streaming.DedupStream.{BandRow, BandRowV, Candidate, Doc, Verified}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming near-dup detection: in-row signature parity with the batch
  * path, cross-micro-batch exemplar state, first-writer-wins determinism,
  * and the candidate→verify contract against the batch candidate set.
  */
class DedupStreamSpec extends SparkSuite {

  private val nearDupA = "the quick brown fox jumps over the lazy dog near the river bank today"
  private val nearDupB = "the quick brown fox jumps over the lazy dog near the river bank tonight"
  private val distinct1 = "completely unrelated text about spark catalyst optimizer internals and shuffles"

  test("in-row streaming signatures equal the batch groupBy signatures on real docs") {
    val docs = Tables.load(spark, sf, "documents").select(col("doc_id"), col("text"))
    val streamSide = DedupStream.bandRows(docs)
      .select(col("doc_id"), col("band_id"), col("key"))
    // batch path: same banding params (16 hashes, 2 rows/band), key rebuilt
    // in the stream's "<band>-<sig>" form
    val batchSide = Dedup.bandFrame(docs, 16, 2)
      .select(col("doc_id"), col("band.band_id").as("band_id"),
        concat_ws("-", col("band.band_id").cast("string"), col("band.sig")).as("key"))
    assert(streamSide.exceptAll(batchSide).isEmpty && batchSide.exceptAll(streamSide).isEmpty)
  }

  test("cross-batch near-dup lands a candidate edge against the batch-1 exemplar") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Doc]
    val bands = DedupStream.bandRows(input.toDS().toDF()).as[BandRow]
    val q = DedupStream.candidates(bands)
      .writeStream.format("memory").queryName("dedup_stream_out")
      .outputMode("append").start()
    try {
      input.addData(Doc(10L, nearDupA), Doc(20L, distinct1))
      q.processAllAvailable()
      val afterB1 = spark.table("dedup_stream_out").as[Candidate].collect()
      assert(afterB1.isEmpty, "batch 1 has no duplicates, yet candidates were emitted")

      input.addData(Doc(30L, nearDupB)) // near-dup of batch-1 doc 10
      q.processAllAvailable()
      val afterB2 = spark.table("dedup_stream_out").as[Candidate].collect()
      assert(afterB2.nonEmpty, "near-dup arriving a batch later was not detected")
      assert(afterB2.forall(c => c.doc_id == 30L && c.dup_of == 10L),
        s"expected 30 -> 10 edges only, got: ${afterB2.toSeq}")
    } finally q.stop()
  }

  test("first-writer-wins inside one micro-batch: min doc_id is the exemplar") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Doc]
    val q = DedupStream.candidates(
        DedupStream.bandRows(input.toDS().toDF()).as[BandRow])
      .writeStream.format("memory").queryName("dedup_stream_fw")
      .outputMode("append").start()
    try {
      input.addData(Doc(7L, nearDupA), Doc(3L, nearDupA), Doc(5L, nearDupA))
      q.processAllAvailable()
      val out = spark.table("dedup_stream_fw").as[Candidate].collect()
      assert(out.nonEmpty)
      assert(out.forall(_.dup_of == 3L), s"exemplar must be the min id: ${out.toSeq}")
      assert(out.map(_.doc_id).toSet == Set(5L, 7L))
    } finally q.stop()
  }

  test("state TTL transition: expiry evicts without re-arming; live keys re-arm") {
    import org.apache.spark.sql.streaming.TestGroupState
    // expiry path: empty rows + hasTimedOut — the exemplar must be REMOVED
    // and the timeout must NOT be re-armed (re-arming writes the entry back
    // and the key re-fires forever; the store would never shrink)
    val expired = TestGroupState.create[Long](
      optionalState = org.apache.spark.api.java.Optional.of(10L),
      timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.ProcessingTimeTimeout,
      batchProcessingTimeMs = 1000L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](),
      hasTimedOut = true)
    val out = DedupStream.onBucket(Iterator.empty, expired, Some("1 hour")).toList
    assert(out.isEmpty)
    assert(expired.isRemoved, "expired exemplar must be evicted")
    assert(!expired.isUpdated)

    // live path: a new doc against an existing exemplar emits the edge and
    // re-arms the retention window
    val live = TestGroupState.create[Long](
      optionalState = org.apache.spark.api.java.Optional.of(10L),
      timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.ProcessingTimeTimeout,
      batchProcessingTimeMs = 1000L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](),
      hasTimedOut = false)
    val emitted = DedupStream.onBucket(
      Iterator(BandRow("k", 30L, 2)), live, Some("1 hour")).toList
    assert(emitted == List(Candidate(30L, 10L, 2)))
    assert(!live.isRemoved && live.getTimeoutTimestampMs.isPresent,
      "live bucket must keep its exemplar and re-arm the TTL")

    // claim path: an unclaimed bucket stores the min doc_id, emits the rest
    val fresh = TestGroupState.create[Long](
      optionalState = org.apache.spark.api.java.Optional.empty[Long](),
      timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout,
      batchProcessingTimeMs = 0L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](),
      hasTimedOut = false)
    val claimed = DedupStream.onBucket(
      Iterator(BandRow("k", 7L, 1), BandRow("k", 3L, 1)), fresh, None).toList
    assert(claimed == List(Candidate(7L, 3L, 1)))
    assert(fresh.isUpdated && fresh.get == 3L)
  }

  test("verified stream: edges equal batch dedupVerifyDf pairs; drop set matches keep-min") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val docs = Tables.load(spark, sf, "documents").select(col("doc_id"), col("text"))
    // replay in ID order over TWO micro-batches: exemplars are then min-id
    // (matching batch keep-min) and genuinely persist across batches
    val docSeq = docs.as[Doc].collect().sortBy(_.doc_id).toSeq
    val input = MemoryStream[Doc]
    val q = DedupStream.verifiedCandidates(
        DedupStream.bandRowsWithSets(input.toDS().toDF()).as[BandRowV])
      .writeStream.format("memory").queryName("dedup_stream_verified")
      .outputMode("append").start()
    try {
      input.addData(docSeq.take(docSeq.size / 2): _*)
      q.processAllAvailable()
      input.addData(docSeq.drop(docSeq.size / 2): _*)
      q.processAllAvailable()
      val streamed = spark.table("dedup_stream_verified").as[Verified].collect()
      assert(streamed.nonEmpty, "corpus has verified near-dups; stream found none")
      val batch = Dedup.dedupVerifyDf(docs, 0.2, 16, 2)
        .select(col("doc_a"), col("doc_b"), col("jaccard"))
        .as[(Long, Long, Double)].collect()
        .map { case (a, b, j) => (a, b) -> j }.toMap
      // soundness: every streamed edge IS a batch-verified pair, with the
      // identical rounded jaccard (exact-math parity of the two stages)
      streamed.foreach { v =>
        val k = (math.min(v.doc_id, v.dup_of), math.max(v.doc_id, v.dup_of))
        assert(batch.contains(k), s"stream emitted a pair batch verify rejects: $v")
        assert(batch(k) == v.jaccard,
          s"jaccard drift on $k: batch ${batch(k)} vs stream ${v.jaccard}")
      }
      // drop-set parity: the docs the online pass drops are exactly the
      // docs batch keep-min drops (the larger side of each verified pair)
      val batchDropped = batch.keySet.map(_._2)
      val streamDropped = streamed.map(_.doc_id).toSet
      assert(streamDropped == batchDropped,
        s"keep/drop divergence: stream-only ${streamDropped -- batchDropped}, " +
          s"batch-only ${batchDropped -- streamDropped}")
    } finally q.stop()
  }

  test("streamed corpus candidates cover the batch candidate pairs (star contract)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text")).as[Doc].collect().toSeq
    val input = MemoryStream[Doc]
    val q = DedupStream.candidates(
        DedupStream.bandRows(input.toDS().toDF()).as[BandRow])
      .writeStream.format("memory").queryName("dedup_stream_all")
      .outputMode("append").start()
    try {
      input.addData(docs: _*)
      q.processAllAvailable()
      val streamed = spark.table("dedup_stream_all").as[Candidate].collect()
      // batch candidates on the same corpus and banding config
      val batch = Dedup.minhashCandidatesDf(
          Tables.load(spark, sf, "documents"), 16, 2)
        .select(col("doc_a"), col("doc_b")).as[(Long, Long)].collect().toSet
      // star contract: every batch pair (a, b) shares a bucket, so b (and
      // any later member) must be flagged against SOME exemplar — i.e. the
      // batch pair's non-minimal side appears as a streamed doc_id
      val flagged = streamed.map(_.doc_id).toSet
      val missed = batch.filter { case (a, b) => !flagged.contains(math.max(a, b)) }
      assert(missed.isEmpty, s"batch candidates missed by the stream: $missed")
    } finally q.stop()
  }
}
