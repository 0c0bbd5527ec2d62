package graft

import graft.streaming.{CdcSource, CdcStream, StateMigration}
import graft.streaming.CdcStream.{CdcEvent, RawChange, TableRawChange}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Checkpoint state migration between the two stateful APIs: run the
  * prev-image pipeline to a checkpoint on API A, migrate (state read +
  * offset handoff + optional re-key), resume on API B, and pin row-for-row
  * output parity against an uninterrupted run — in both directions.
  */
class StateMigrationSpec extends SparkSuite {
  import spark.implicits._

  private def t(i: Long) = new java.sql.Timestamp(1000L * (i + 1))

  private val RocksKey = "spark.sql.streaming.stateStore.providerClass"
  private val RocksProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private def withRocks[T](body: => T): T = {
    val prior = spark.conf.getOption(RocksKey)
    spark.conf.set(RocksKey, RocksProvider)
    try body finally prior match {
      case Some(v) => spark.conf.set(RocksKey, v)
      case None    => spark.conf.unset(RocksKey)
    }
  }

  // 15 events, 2 users, with UPDATE chains crossing the migration boundary
  // (event 10's previous is event 8's payload, etc.) — prev-image parity
  // after resume PROVES the state actually moved
  private val all: Seq[RawChange] = (0L until 15L).map { i =>
    RawChange(i, t(i), (i % 2) + 1,
      if (i < 2) "signup" else "purchase", s"""{"k":$i}""")
  }
  private val firstHalf = all.take(10)
  private val secondHalf = all.drop(10)

  /** Uninterrupted classic run over both waves; the migrated query must
    * reproduce its second-wave rows exactly.
    */
  private def referenceTail(name: String): Seq[String] = {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[RawChange]
    val q = CdcStream.withPrevState(in.toDS())
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      in.addData(firstHalf: _*); q.processAllAvailable()
      in.addData(secondHalf: _*); q.processAllAvailable()
    } finally q.stop()
    spark.table(name).orderBy("event_id")
      .filter(s"event_id >= ${secondHalf.head.event_id}")
      .collect().map(_.toString).toSeq
  }

  test("fMGWS checkpoint -> TWS resume: state read, offset handoff, row-for-row parity") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // API A consumes the first wave from the DSv2 feed into a checkpoint
    val feedName = "mig_feed_a"
    val feed = CdcSource.FeedRegistry.get(feedName)
    def src(startAfter: Long) = {
      val r = spark.readStream.format("graft.streaming.CdcSourceProvider")
        .option("feed", feedName).option("numPartitions", "2")
      (if (startAfter >= 0) r.option("startAfterId", startAfter.toString) else r)
        .load().as[RawChange]
    }
    val chkA = java.nio.file.Files.createTempDirectory("mig_chk_a").toString
    feed.append(firstHalf: _*)
    val qa = CdcStream.withPrevState(src(-1L))
      .writeStream.format("memory").queryName("mig_out_a")
      .option("checkpointLocation", chkA).outputMode("append").start()
    try qa.processAllAvailable() finally qa.stop()
    assert(spark.table("mig_out_a").count() == firstHalf.size)

    // MIGRATE: the checkpoint's state is the last payload per user, its
    // committed offset is the last first-wave id
    val st = StateMigration.readPrevImageState(spark, chkA)
    val expectState = firstHalf.groupBy(_.user_id)
      .map { case (u, rs) => u -> rs.maxBy(_.event_id).props }
    assert(st.collect().toMap == expectState, "migrated state rows diverged")
    val off = StateMigration.committedOffset(spark, chkA)
    assert(off == firstHalf.last.event_id, s"committed offset $off")

    // RESUME on API B: fresh checkpoint, initial state, source starts
    // after the old offset — the second wave lands exactly once with
    // prev-images chained across the cut-over
    feed.append(secondHalf: _*)
    val resumed = withRocks {
      val chkB = java.nio.file.Files.createTempDirectory("mig_chk_b").toString
      val qb = CdcStream.withPrevStateTws(src(off), initial = Some(st))
        .writeStream.format("memory").queryName("mig_out_b")
        .option("checkpointLocation", chkB).outputMode("append").start()
      try qb.processAllAvailable() finally qb.stop()
      spark.table("mig_out_b").orderBy("event_id").collect().map(_.toString).toSeq
    }
    assert(resumed == referenceTail("mig_ref_a"),
      s"migrated tail diverged from the uninterrupted run:\n$resumed")
  }

  test("TWS checkpoint -> fMGWS resume (rollback direction): row-for-row parity") {
    implicit val sqlCtx = spark.sqlContext
    val chkC = java.nio.file.Files.createTempDirectory("mig_chk_c").toString
    val st = withRocks {
      val in = MemoryStream[RawChange]
      val q = CdcStream.withPrevStateTws(in.toDS())
        .writeStream.format("memory").queryName("mig_out_c")
        .option("checkpointLocation", chkC).outputMode("append").start()
      try { in.addData(firstHalf: _*); q.processAllAvailable() } finally q.stop()
      StateMigration.readPrevImageStateTws(spark, chkC)
    }
    val expectState = firstHalf.groupBy(_.user_id)
      .map { case (u, rs) => u -> rs.maxBy(_.event_id).props }
    assert(st.collect().toMap == expectState, "TWS state rows diverged")
    // resume on the classic API with the migrated initial state
    val in2 = MemoryStream[RawChange]
    val q2 = CdcStream.withPrevState(in2.toDS(), initial = Some(st))
      .writeStream.format("memory").queryName("mig_out_d")
      .outputMode("append").start()
    val resumed = try {
      in2.addData(secondHalf: _*); q2.processAllAvailable()
      spark.table("mig_out_d").orderBy("event_id").collect().map(_.toString).toSeq
    } finally q2.stop()
    assert(resumed == referenceTail("mig_ref_b"),
      s"rollback tail diverged from the uninterrupted run:\n$resumed")
  }

  test("migration boundary caps the rescan window; continuous readers honor startAfterId") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // rescanWindow reaches BELOW the committed offset in steady state, but
    // must never cross the migration boundary: ids <= startAfterId were
    // delivered by the OLD query and live in the migrated state already
    val feedName = "mig_feed_rescan"
    val feed = CdcSource.FeedRegistry.get(feedName)
    feed.append(all: _*)
    val df = spark.readStream.format("graft.streaming.CdcSourceProvider")
      .option("feed", feedName).option("numPartitions", "2")
      .option("rescanWindow", "5").option("startAfterId", "9")
      .load().as[RawChange]
    val q = df.writeStream.format("memory").queryName("mig_rescan_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val ids = spark.table("mig_rescan_out").select("event_id").as[Long].collect().toSet
      assert(ids == (10L to 14L).toSet,
        s"rescan crossed the migration boundary: got $ids")
    } finally q.stop()
    // the continuous path starts every mod-class reader after the handle too
    val off = new CdcSource.CdcContinuousStream(
        CdcSource.MemorySpec(feedName), 2L, numPartitions = 3, startAfterId = 7L)
      .initialOffset().asInstanceOf[CdcSource.CdcContinuousOffset]
    assert(off.maxIds == Map(0 -> 7L, 1 -> 7L, 2 -> 7L), s"got ${off.maxIds}")
  }

  test("dedup bucket-state migration: relocated exemplar store keeps flagging history") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.DedupStream
    import graft.streaming.DedupStream.{BandRow, Candidate, Doc}
    val docs = Tables.load(spark, sf, "documents")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
      .as[Doc].collect().sortBy(_.doc_id).toSeq
    val (wave1, wave2) = docs.splitAt(docs.size / 2)
    def bands(in: MemoryStream[Doc]) =
      DedupStream.bandRows(in.toDS().toDF()).as[BandRow]
    // old store: wave 1 through a checkpointed query
    val chk = java.nio.file.Files.createTempDirectory("mig_chk_dedup").toString
    val in1 = MemoryStream[Doc]
    val q1 = DedupStream.candidates(bands(in1))
      .writeStream.format("memory").queryName("mig_dd_a")
      .option("checkpointLocation", chk).outputMode("append").start()
    try { in1.addData(wave1: _*); q1.processAllAvailable() } finally q1.stop()
    // migrate the exemplar store, resume on a FRESH checkpoint
    val st = StateMigration.readDedupBucketState(spark, chk)
    assert(st.count() > 0, "wave 1 claimed no buckets — fixture too small")
    val in2 = MemoryStream[Doc]
    val q2 = DedupStream.candidates(bands(in2), initial = Some(st))
      .writeStream.format("memory").queryName("mig_dd_b")
      .outputMode("append").start()
    val resumed = try {
      in2.addData(wave2: _*); q2.processAllAvailable()
      spark.table("mig_dd_b").as[Candidate].collect().toSet
    } finally q2.stop()
    // reference: uninterrupted run, wave-2 edges only
    val inR = MemoryStream[Doc]
    val qR = DedupStream.candidates(bands(inR))
      .writeStream.format("memory").queryName("mig_dd_ref")
      .outputMode("append").start()
    val ref = try {
      inR.addData(wave1: _*); qR.processAllAvailable()
      val afterW1 = spark.table("mig_dd_ref").as[Candidate].collect().toSet
      inR.addData(wave2: _*); qR.processAllAvailable()
      spark.table("mig_dd_ref").as[Candidate].collect().toSet -- afterW1
    } finally qR.stop()
    assert(resumed == ref,
      s"relocated store diverged: resumed-only ${resumed -- ref}, ref-only ${ref -- resumed}")
  }

  test("2-table readAll checkpoint: per-table offset handoff, zero loss / zero dup") {
    import graft.streaming.CdcCatalog
    import graft.streaming.CdcSource.MemorySpec
    // two tables with DELIBERATELY SKEWED id spaces: t2's ids run far ahead
    // of t1's — the exact shape where a shared scalar resume handle either
    // re-delivers t2's backlog (resume at t1's offset) or silently loses
    // t1's new rows (resume at t2's offset)
    val f1 = CdcSource.FeedRegistry.get("mig_multi_t1")
    val f2 = CdcSource.FeedRegistry.get("mig_multi_t2")
    val t1w1 = (0L until 10L).map(i => RawChange(i, t(i), i % 3, "signup", s"""{"t":1,"k":$i}"""))
    val t2w1 = (0L until 500L).map(i => RawChange(i, t(i), i % 7, "click", s"""{"t":2,"k":$i}"""))
    f1.append(t1w1: _*); f2.append(t2w1: _*)
    val specs = Seq(MemorySpec("mig_multi_t1"), MemorySpec("mig_multi_t2"))
    val chk = java.nio.file.Files.createTempDirectory("mig_chk_multi").toString
    val q1 = CdcCatalog.readAll(spark, specs, numPartitions = 2)
      .writeStream.format("memory").queryName("mig_multi_a")
      .option("checkpointLocation", chk).outputMode("append").start()
    try q1.processAllAvailable() finally q1.stop()
    assert(spark.table("mig_multi_a").count() == t1w1.size + t2w1.size)

    // the scalar helper REFUSES a multi-source checkpoint instead of
    // answering with table 1's offset
    val ex = intercept[IllegalArgumentException] {
      StateMigration.committedOffset(spark, chk)
    }
    assert(ex.getMessage.contains("committedOffsets"), ex.getMessage)
    // per-source handles, in spec order, each table's OWN position
    val offs = StateMigration.committedOffsets(spark, chk)
    assert(offs == Seq(t1w1.last.event_id, t2w1.last.event_id), s"got $offs")

    // wave 2 on both tables; resume the union on a FRESH checkpoint with
    // per-table startAfterId — each table must land exactly its wave 2
    val t1w2 = (10L until 15L).map(i => RawChange(i, t(i), i % 3, "purchase", s"""{"t":1,"k":$i}"""))
    val t2w2 = (500L until 512L).map(i => RawChange(i, t(i), i % 7, "view", s"""{"t":2,"k":$i}"""))
    f1.append(t1w2: _*); f2.append(t2w2: _*)
    val chkB = java.nio.file.Files.createTempDirectory("mig_chk_multi_b").toString
    val q2 = CdcCatalog.resumeAll(spark, specs, chk, numPartitions = 2)
      .writeStream.format("memory").queryName("mig_multi_b")
      .option("checkpointLocation", chkB).outputMode("append").start()
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.table("mig_multi_b")
      .select($"table", $"event_id").as[(String, Long)].collect().toSeq
    val want = t1w2.map(r => ("mig_multi_t1", r.event_id)) ++
      t2w2.map(r => ("mig_multi_t2", r.event_id))
    // SET equality pins zero loss; length equality on the raw seq pins zero
    // duplication (at-least-once redelivery would inflate the count)
    assert(got.toSet == want.toSet,
      s"lost ${want.toSet -- got.toSet}, phantom ${got.toSet -- want.toSet}")
    assert(got.length == want.length, s"duplicated delivery: ${got.length} rows")

    // mismatched resume shape is rejected loudly, not truncated
    intercept[IllegalArgumentException] {
      CdcCatalog.readAllFrom(spark, specs, Seq(9L))
    }
  }

  test("offline state repartition: 4 -> 32 -> 4, outputs identical to an uninterrupted run") {
    implicit val sqlCtx = spark.sqlContext
    // stage A: classic prev-image checkpoint at the suite's default 4
    // shuffle partitions over wave 1
    val chkA = java.nio.file.Files.createTempDirectory("rep_chk_a").toString
    val inA = MemoryStream[RawChange]
    val qA = CdcStream.withPrevState(inA.toDS())
      .writeStream.format("memory").queryName("rep_out_a")
      .option("checkpointLocation", chkA).outputMode("append").start()
    try { inA.addData(firstHalf: _*); qA.processAllAvailable() } finally qA.stop()
    assert(StateMigration.statePartitionCount(spark, chkA) == 4,
      s"stage A pinned ${StateMigration.statePartitionCount(spark, chkA)}")

    // repartition OUT to 32: read state (4 tasks), resume on a fresh
    // checkpoint started under the new conf — batch 0 shuffles the seeded
    // state into 32 partitions and pins the count
    val stA = StateMigration.readPrevImageState(spark, chkA)
    val midPoint = secondHalf.splitAt(3)
    val chkB = java.nio.file.Files.createTempDirectory("rep_chk_b").toString
    val inB = MemoryStream[RawChange]
    StateMigration.withStatePartitions(spark, 32) {
      val qB = CdcStream.withPrevState(inB.toDS(), initial = Some(stA))
        .writeStream.format("memory").queryName("rep_out_b")
        .option("checkpointLocation", chkB).outputMode("append").start()
      try { inB.addData(midPoint._1: _*); qB.processAllAvailable() } finally qB.stop()
    }
    assert(StateMigration.statePartitionCount(spark, chkB) == 32,
      s"stage B pinned ${StateMigration.statePartitionCount(spark, chkB)}")

    // and back IN to 4 (the latency-floor direction), continuing the tail
    val stB = StateMigration.readPrevImageState(spark, chkB)
    val chkC = java.nio.file.Files.createTempDirectory("rep_chk_c").toString
    val inC = MemoryStream[RawChange]
    val outC = StateMigration.withStatePartitions(spark, 4) {
      val qC = CdcStream.withPrevState(inC.toDS(), initial = Some(stB))
        .writeStream.format("memory").queryName("rep_out_c")
        .option("checkpointLocation", chkC).outputMode("append").start()
      try {
        inC.addData(midPoint._2: _*); qC.processAllAvailable()
        spark.table("rep_out_c").orderBy("event_id").collect().map(_.toString).toSeq
      } finally qC.stop()
    }
    assert(StateMigration.statePartitionCount(spark, chkC) == 4,
      s"stage C pinned ${StateMigration.statePartitionCount(spark, chkC)}")

    // output parity: the twice-repartitioned chain's final-leg rows match
    // the uninterrupted single-query run row for row (prev-images chained
    // through BOTH repartitions), and the middle leg saw its slice
    val wantC = referenceTail("rep_ref").drop(midPoint._1.size)
    assert(outC == wantC,
      s"repartitioned chain diverged:\n$outC\nvs\n$wantC")
    assert(spark.table("rep_out_b").count() == midPoint._1.size)
  }

  test("offline repartition of a fingerprint store: dedup exemplars move 4 -> 32 with verdicts intact") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.DedupStream
    import graft.streaming.DedupStream.{BandRow, Candidate, Doc}
    val docs = Tables.load(spark, sf, "documents")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
      .as[Doc].collect().sortBy(_.doc_id).toSeq
    val (wave1, wave2) = docs.splitAt(docs.size / 2)
    def bands(in: MemoryStream[Doc]) =
      DedupStream.bandRows(in.toDS().toDF()).as[BandRow]
    // old store at the suite default (4 partitions)
    val chk = java.nio.file.Files.createTempDirectory("rep_dd_chk").toString
    val in1 = MemoryStream[Doc]
    val q1 = DedupStream.candidates(bands(in1))
      .writeStream.format("memory").queryName("rep_dd_a")
      .option("checkpointLocation", chk).outputMode("append").start()
    try { in1.addData(wave1: _*); q1.processAllAvailable() } finally q1.stop()
    assert(StateMigration.statePartitionCount(spark, chk) == 4)
    // move the exemplar store to 32 partitions; flagging history must
    // survive the move exactly (same contract as the relocation test)
    val st = StateMigration.readDedupBucketState(spark, chk)
    val chkB = java.nio.file.Files.createTempDirectory("rep_dd_chk_b").toString
    val in2 = MemoryStream[Doc]
    val resumed = StateMigration.withStatePartitions(spark, 32) {
      val q2 = DedupStream.candidates(bands(in2), initial = Some(st))
        .writeStream.format("memory").queryName("rep_dd_b")
        .option("checkpointLocation", chkB).outputMode("append").start()
      try {
        in2.addData(wave2: _*); q2.processAllAvailable()
        spark.table("rep_dd_b").as[Candidate].collect().toSet
      } finally q2.stop()
    }
    assert(StateMigration.statePartitionCount(spark, chkB) == 32,
      s"pinned ${StateMigration.statePartitionCount(spark, chkB)}")
    // reference: uninterrupted run at the ORIGINAL partitioning
    val inR = MemoryStream[Doc]
    val qR = DedupStream.candidates(bands(inR))
      .writeStream.format("memory").queryName("rep_dd_ref")
      .outputMode("append").start()
    val ref = try {
      inR.addData(wave1: _*); qR.processAllAvailable()
      val afterW1 = spark.table("rep_dd_ref").as[Candidate].collect().toSet
      inR.addData(wave2: _*); qR.processAllAvailable()
      spark.table("rep_dd_ref").as[Candidate].collect().toSet -- afterW1
    } finally qR.stop()
    assert(resumed == ref,
      s"repartitioned store changed verdicts: only-resumed ${resumed -- ref}, only-ref ${ref -- resumed}")
  }

  test("re-key migration: single-table state resumes under the (table, id) key") {
    implicit val sqlCtx = spark.sqlContext
    // API A: single-table classic checkpoint over the first wave
    val chkE = java.nio.file.Files.createTempDirectory("mig_chk_e").toString
    val in = MemoryStream[RawChange]
    val q = CdcStream.withPrevState(in.toDS())
      .writeStream.format("memory").queryName("mig_out_e")
      .option("checkpointLocation", chkE).outputMode("append").start()
    try { in.addData(firstHalf: _*); q.processAllAvailable() } finally q.stop()
    val st = StateMigration.readPrevImageState(spark, chkE)
    // the re-key round-trips exactly
    assert(StateMigration.dropTableKey(
        StateMigration.withTableKey(st, "events"), "events")
      .collect().toMap == st.collect().toMap)
    // resume on the BY-TABLE TWS processor with the re-keyed state
    val tagged = secondHalf.map(r =>
      TableRawChange("events", r.event_id, r.ts, r.user_id, r.event_type, r.props))
    val resumed = withRocks {
      val in2 = MemoryStream[TableRawChange]
      val q2 = CdcStream.withPrevStateByTableTws(in2.toDS(),
          initial = Some(StateMigration.withTableKey(st, "events")))
        .writeStream.format("memory").queryName("mig_out_f")
        .outputMode("append").start()
      try {
        in2.addData(tagged: _*); q2.processAllAvailable()
        spark.table("mig_out_f").orderBy("event_id").collect().map(_.toString).toSeq
      } finally q2.stop()
    }
    // reference: uninterrupted BY-TABLE classic run, second-wave rows
    val inRef = MemoryStream[TableRawChange]
    val allTagged = all.map(r =>
      TableRawChange("events", r.event_id, r.ts, r.user_id, r.event_type, r.props))
    val qRef = CdcStream.withPrevStateByTable(inRef.toDS())
      .writeStream.format("memory").queryName("mig_ref_c")
      .outputMode("append").start()
    val ref = try {
      inRef.addData(allTagged.take(10): _*); qRef.processAllAvailable()
      inRef.addData(allTagged.drop(10): _*); qRef.processAllAvailable()
      spark.table("mig_ref_c").orderBy("event_id")
        .filter(s"event_id >= ${secondHalf.head.event_id}")
        .collect().map(_.toString).toSeq
    } finally qRef.stop()
    assert(resumed == ref,
      s"re-keyed tail diverged from the uninterrupted by-table run:\n$resumed\nvs\n$ref")
  }
}
