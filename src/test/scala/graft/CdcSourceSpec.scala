package graft

import graft.streaming.{CdcSource, CdcStream}
import graft.streaming.CdcStream.RawChange
import java.sql.Timestamp

/** End-to-end drive of the custom DataSource V2 micro-batch CDC source:
  * readStream through the provider class, poll across batches, exactly-once
  * offsets, and composition with the stateful prev-image pipeline.
  */
class CdcSourceSpec extends SparkSuite {
  import spark.implicits._

  private def t(s: Long) = new Timestamp(1700000000000L + s * 1000)

  test("polls new rows per micro-batch, no duplicates, parallel range partitions") {
    val feed = CdcSource.FeedRegistry.get("spec1")
    val df = spark.readStream.format("graft.streaming.CdcSourceProvider")
      .option("feed", "spec1").option("numPartitions", "3").load()
    val q = df.writeStream.format("memory").queryName("src_out").outputMode("append").start()
    try {
      feed.append(
        RawChange(1, t(0), 1, "signup", """{"k":1}"""),
        RawChange(2, t(1), 2, "purchase", """{"k":2}"""))
      q.processAllAvailable()
      assert(spark.table("src_out").count() == 2)

      feed.append(
        RawChange(3, t(2), 1, "view", """{"k":3}"""),
        RawChange(4, t(3), 2, "error", """{"k":4}"""),
        RawChange(5, t(4), 3, "click", """{"k":5}"""))
      q.processAllAvailable()
      val rows = spark.table("src_out").orderBy("event_id").collect()
      assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
      // re-process with nothing new: offset must not regress or re-emit
      q.processAllAvailable()
      assert(spark.table("src_out").count() == 5)
    } finally q.stop()
  }

  test("restart from checkpoint resumes after the committed offset (exactly-once)") {
    val feed = CdcSource.FeedRegistry.get("spec3")
    val ckpt = java.nio.file.Files.createTempDirectory("cdc_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("cdc_out").toString
    def start() = spark.readStream.format("graft.streaming.CdcSourceProvider")
      .option("feed", "spec3").load()
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()

    val q1 = start()
    try {
      feed.append(
        RawChange(1, t(0), 1, "signup", """{"k":1}"""),
        RawChange(2, t(1), 1, "purchase", """{"k":2}"""))
      q1.processAllAvailable()
      assert(spark.read.parquet(out).count() == 2)
    } finally q1.stop()

    // rows arriving while the query is DOWN must be delivered exactly once
    // after restart (the reference silently drops these — SURVEY §1.3)
    feed.append(RawChange(3, t(2), 1, "view", """{"k":3}"""))
    val q2 = start()
    try {
      q2.processAllAvailable()
      val ids = spark.read.parquet(out).orderBy("event_id").collect().map(_.getLong(0)).toSeq
      assert(ids == Seq(1L, 2L, 3L), s"expected exactly-once delivery across restart, got $ids")
    } finally q2.stop()
  }

  test("maxIdsPerTrigger: a backlog drains in bounded bites, exactly once") {
    import spark.implicits._
    val feed = CdcSource.FeedRegistry.get("spec_admission")
    // a 100-row "downtime backlog" present BEFORE the query starts — the
    // shape that, uncapped, becomes one giant first micro-batch
    (0L until 100L).foreach(i =>
      feed.append(RawChange(i, t(i), i % 5, "click", s"""{"k":$i}""")))
    val q = spark.readStream.format("graft.streaming.CdcSourceProvider")
      .option("feed", "spec_admission").option("numPartitions", "2")
      .option("maxIdsPerTrigger", "30").load()
      .writeStream.format("memory").queryName("src_capped")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // exactly-once over the whole backlog: the cap moves batch
      // boundaries, never delivery
      val ids = spark.table("src_capped").select("event_id").as[Long].collect()
      assert(ids.sorted.toSeq == (0L until 100L), s"delivery broken: ${ids.length} rows")
      // and it really was bitten up: >= ceil(100/30) = 4 batches, none
      // above the cap (first batch spans (-1, 29] = 31 ids — the range is
      // exclusive-start, so allow cap+1 rows)
      val progs = q.asInstanceOf[org.apache.spark.sql.streaming.StreamingQuery]
        .recentProgress.filter(_.numInputRows > 0)
      assert(progs.length >= 4, s"backlog not capped: ${progs.length} batches")
      assert(progs.forall(_.numInputRows <= 31),
        s"a batch overflowed the cap: ${progs.map(_.numInputRows).toSeq}")
    } finally q.stop()
  }

  test("composes with the stateful CDC pipeline end to end") {
    val feed = CdcSource.FeedRegistry.get("spec2")
    val raw = spark.readStream.format("graft.streaming.CdcSourceProvider")
      .option("feed", "spec2").load()
    val events = CdcStream.withPrevState(raw.as[RawChange])
    val q = events.writeStream.format("memory").queryName("src_cdc").outputMode("append").start()
    try {
      feed.append(RawChange(1, t(0), 9, "signup", """{"k":1}"""))
      q.processAllAvailable()
      feed.append(RawChange(2, t(1), 9, "purchase", """{"k":7}"""))
      q.processAllAvailable()
      val rows = spark.table("src_cdc").orderBy("event_id").collect()
      assert(rows.length == 2)
      assert(rows(1).getAs[String]("changes") == """{"k":1}""")
    } finally q.stop()
  }

  test("maxBytesPerTrigger: fat-payload backlog drains in byte-bounded bites, exactly once") {
    import spark.implicits._
    val feed = CdcSource.FeedRegistry.get("spec_bytecap")
    // ~1 KB payloads: an id cap sized for normal rows would admit MBs here;
    // the byte budget sizes the bite from the pending head's mean row size
    val pad = "x" * 1000
    (0L until 100L).foreach(i =>
      feed.append(RawChange(i, t(i), i % 5, "click", s"""{"pad":"$pad"}""")))
    val q = spark.readStream.format("graft.streaming.CdcSourceProvider")
      .option("feed", "spec_bytecap").option("numPartitions", "2")
      .option("maxBytesPerTrigger", "5200").load()
      .writeStream.format("memory").queryName("src_bytecap")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val ids = spark.table("src_bytecap").select("event_id").as[Long].collect()
      assert(ids.sorted.toSeq == (0L until 100L), s"delivery broken: ${ids.length} rows")
      // ~1043 B/row against a 5200 B budget ≈ 4-5 ids per bite (+1 on the
      // exclusive-start first batch)
      val progs = q.recentProgress.filter(_.numInputRows > 0)
      assert(progs.length >= 15, s"byte cap did not bite: ${progs.length} batches")
      assert(progs.forall(_.numInputRows <= 6),
        s"a batch overflowed the byte budget: ${progs.map(_.numInputRows).toSeq}")
    } finally q.stop()
  }

  test("Trigger.AvailableNow: drains the backlog in capped bites, then stops at the recorded tail") {
    import spark.implicits._
    val feed = CdcSource.FeedRegistry.get("spec_availnow")
    (0L until 100L).foreach(i =>
      feed.append(RawChange(i, t(i), i % 5, "click", s"""{"k":$i}""")))
    val q = spark.readStream.format("graft.streaming.CdcSourceProvider")
      .option("feed", "spec_availnow").option("numPartitions", "2")
      .option("maxIdsPerTrigger", "30").load()
      .writeStream.format("memory").queryName("src_availnow")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .outputMode("append").start()
    // bounded-drain-then-STOP: the query terminates on its own once the
    // tail recorded at prepare time is reached — the scheduled-backfill
    // contract (no operator intervention, no manual stop)
    assert(q.awaitTermination(120000), "AvailableNow query must stop by itself")
    val ids = spark.table("src_availnow").select("event_id").as[Long].collect()
    assert(ids.sorted.toSeq == (0L until 100L), s"delivery broken: ${ids.length} rows")
    val progs = q.recentProgress.filter(_.numInputRows > 0)
    assert(progs.length >= 4, s"backlog not drained in bites: ${progs.length} batches")
    assert(progs.forall(_.numInputRows <= 31),
      s"a bite overflowed the cap: ${progs.map(_.numInputRows).toSeq}")
    // rows landing after the drain belong to the NEXT scheduled run
    feed.append(RawChange(100L, t(100), 0L, "click", """{"k":100}"""))
    assert(spark.table("src_availnow").count() == 100L,
      "a stopped AvailableNow query must not deliver post-tail rows")
  }

  /** Counts every tail probe the source makes. */
  private class CountingFeed extends CdcSource.MemoryFeed {
    val latestIdCalls = new java.util.concurrent.atomic.AtomicLong()
    override def latestId(): Long = { latestIdCalls.incrementAndGet(); super.latestId() }
  }

  test("one tail probe per trigger: reportLatestOffset returns the tail latestOffset read") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val feed = new CountingFeed
    CdcSource.FeedRegistry.register("spec_one_probe", feed)
    (0L until 100L).foreach(i =>
      feed.append(RawChange(i, t(i), i % 5, "click", s"""{"k":$i}""")))
    val stream = new CdcSource.CdcMicroBatchStream(
      CdcSource.MemorySpec("spec_one_probe"), numPartitions = 2, maxIdsPerTrigger = 30L)
    // nothing read yet: the progress call probes on its own
    assert(stream.reportLatestOffset() == CdcSource.CdcOffset(99L))
    assert(feed.latestIdCalls.get == 1L)
    // Spark's per-trigger protocol for an admission-controlled source
    var start: CdcSource.CdcOffset = CdcSource.CdcOffset(-1L)
    (1 to 4).foreach { trigger =>
      val end = stream.latestOffset(start, ReadLimit.maxRows(30L)).asInstanceOf[CdcSource.CdcOffset]
      assert(end.maxId == math.min(99L, start.maxId + 30L), s"trigger $trigger not capped")
      // the true tail, even though the batch is capped
      assert(stream.reportLatestOffset() == CdcSource.CdcOffset(99L))
      assert(feed.latestIdCalls.get == 1L + trigger, s"trigger $trigger probed the tail twice")
      start = end
    }
    // a tail that moved since the trigger's probe shows up on the next trigger
    feed.append(RawChange(100L, t(100), 0L, "click", """{"k":100}"""))
    stream.latestOffset(start, ReadLimit.maxRows(30L))
    assert(stream.reportLatestOffset() == CdcSource.CdcOffset(100L))
  }

  test("capped query: progress reports the true tail while batches stay capped") {
    import spark.implicits._
    val feed = new CountingFeed
    CdcSource.FeedRegistry.register("spec_progress_tail", feed)
    (0L until 100L).foreach(i =>
      feed.append(RawChange(i, t(i), i % 5, "click", s"""{"k":$i}""")))
    val q = spark.readStream.format("graft.streaming.CdcSourceProvider")
      .option("feed", "spec_progress_tail").option("maxIdsPerTrigger", "30").load()
      .writeStream.format("memory").queryName("src_progress_tail")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .outputMode("append").start()
    assert(q.awaitTermination(120000), "AvailableNow query must stop by itself")
    val ids = spark.table("src_progress_tail").select("event_id").as[Long].collect()
    assert(ids.sorted.toSeq == (0L until 100L), s"delivery broken: ${ids.length} rows")
    val progs = q.recentProgress.filter(_.numInputRows > 0)
    val capped = progs.filter(_.sources.head.endOffset != """{"maxId":99}""")
    assert(capped.nonEmpty, "the cap must leave batches short of the tail")
    assert(progs.forall(_.sources.head.latestOffset == """{"maxId":99}"""),
      s"progress lost the true tail: ${progs.map(_.sources.head.latestOffset).toSeq}")
    // one probe when the drain is prepared, then at most one per trigger:
    // never two per data batch
    assert(feed.latestIdCalls.get <= 1L + progs.length + 1L,
      s"${feed.latestIdCalls.get} tail probes for ${progs.length} batches")
  }

  test("planned reader ranges tile (from, to] exactly for any span, numPartitions and rescanWindow") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.rng.Seed
    val cases = for {
      committed <- Gen.frequency(1 -> Gen.const(-1L), 9 -> Gen.choose(0L, 1L << 40))
      span <- Gen.frequency(3 -> Gen.choose(1L, 3000L), 1 -> Gen.choose(1L, 1L << 30))
      parts <- Gen.choose(1, 64)
      rescan <- Gen.frequency(1 -> Gen.const(0L), 3 -> Gen.choose(0L, 1L << 20))
      startAfter <- Gen.choose(-1L, math.max(-1L, committed))
    } yield (committed, span, parts, rescan, startAfter)
    val tiles = Prop.forAll(cases) { case (committed, span, parts, rescan, startAfter) =>
      val to = committed + span
      val stream = new CdcSource.CdcMicroBatchStream(
        CdcSource.MemorySpec("unused"), parts, rescan, startAfter)
      val ranges = stream.planInputPartitions(CdcSource.CdcOffset(committed), CdcSource.CdcOffset(to))
        .map { case p: CdcSource.IdRangePartition => (p.from, p.to) }.toSeq
      val from = if (committed < 0) committed else math.max(startAfter, committed - rescan)
      val ids = to - from
      ranges.nonEmpty && ranges.head._1 == from && ranges.last._2 == to &&
        ranges.zip(ranges.tail).forall { case (a, b) => a._2 == b._1 } &&
        ranges.forall { case (lo, hi) => lo < hi } &&
        ranges.size == math.max(1L, math.min(parts.toLong, (ids + 999) / 1000))
    }
    val r = SCTest.check(SCTest.Parameters.default
      .withInitialSeed(Seed(0xcdcL)).withMinSuccessfulTests(500), tiles)
    assert(r.passed, r.status.toString)
    // a trigger's handful of ids gets one reader; a 20k-id backlog still
    // fans out four ways; an empty range plans nothing
    assert(CdcSource.idRanges(100L, 106L, 4) == Seq((100L, 106L)))
    assert(CdcSource.idRanges(-1L, 20000L, 4).size == 4)
    val stream = new CdcSource.CdcMicroBatchStream(CdcSource.MemorySpec("unused"), 4)
    assert(stream.planInputPartitions(CdcSource.CdcOffset(7L), CdcSource.CdcOffset(7L)).isEmpty)
  }
}
