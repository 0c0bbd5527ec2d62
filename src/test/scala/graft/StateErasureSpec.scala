package graft

import graft.streaming.{CdcStream, DedupStream, SemDedupStream, StateErasure, StateMigration}
import graft.streaming.CdcStream.{CdcEvent, RawChange}
import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues,
  TTLConfig, ValueState}

/** The transformWithState prev-image layout written before the plain and
  * erasing processors became one: "prev" alone, no "erasedAt" receipt.
  */
class PrevOnlyProcessor extends StatefulProcessor[Long, RawChange, CdcEvent] {
  @transient private var prev: ValueState[String] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    prev = getHandle.getValueState[String]("prev", Encoders.STRING, TTLConfig.NONE)
  override def handleInputRows(key: Long, rows: Iterator[RawChange],
                               timerValues: TimerValues): Iterator[CdcEvent] =
    rows.toList.sortBy(_.event_id).map { r =>
      val p = if (prev.exists()) prev.get() else null
      prev.update(r.props)
      CdcEvent(r.event_id, r.ts, r.user_id, CdcStream.opOf(r.event_type), r.props, p, null)
    }.iterator
}

/** Entity erasure reaching STREAMING STATE (r10 verdict #1): erase →
  * restart → the erased payload is gone from the state reader's output AND
  * a subsequent UPDATE for that user emits `previous = null` (first-sight),
  * on both stateful APIs; replayed rows below the tombstone cutoff are
  * dropped in-handler; fingerprint stores lose the erased document's
  * exemplars and change their dedup verdicts accordingly.
  */
class StateErasureSpec extends SparkSuite {
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

  // three users with UPDATE chains; user 3 never appears after wave 1 (the
  // never-recurs key the sentinel must reach)
  private val wave1: Seq[RawChange] = Seq(
    RawChange(0L, t(0), 1L, "signup",   """{"k":0}"""),
    RawChange(1L, t(1), 2L, "signup",   """{"k":1}"""),
    RawChange(2L, t(2), 3L, "signup",   """{"k":2}"""),
    RawChange(3L, t(3), 1L, "purchase", """{"k":3}"""),
    RawChange(4L, t(4), 2L, "purchase", """{"k":4}"""),
    RawChange(5L, t(5), 3L, "purchase", """{"k":5}"""),
    RawChange(6L, t(6), 1L, "purchase", """{"k":6}"""))
  private val cutoff = 6L
  private val erased = Map(1L -> cutoff, 3L -> cutoff)

  /** One drain of `events` on checkpoint `chk`. The memory sink refuses
    * checkpoint RECOVERY (it is not fault-tolerant); same-checkpoint
    * restarts need a recoverable sink — foreachBatch into a driver-side
    * buffer is the test-grade one.
    */
  private def drainOn[T](chk: String)(events: Dataset[T]): Vector[T] = {
    val got = new java.util.concurrent.ConcurrentLinkedQueue[T]()
    val q = events.writeStream
      .foreachBatch { (b: Dataset[T], _: Long) => b.collect().foreach(got.add); () }
      .option("checkpointLocation", chk).outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    import scala.jdk.CollectionConverters._
    got.asScala.toVector
  }

  private def feedSource(name: String) =
    spark.readStream.format("graft.streaming.CdcSourceProvider")
      .option("feed", name).option("numPartitions", "2")
      .load().as[RawChange]

  test("transformWithState: in-place targeted removal on the EXISTING checkpoint (DSv2 feed)") {
    val feed = graft.streaming.CdcSource.FeedRegistry.get("erase_tws_feed")
    def src() = feedSource("erase_tws_feed")
    val chk = java.nio.file.Files.createTempDirectory("erase_tws_chk").toString
    def run(events: Dataset[CdcEvent]) = drainOn(chk)(events).sortBy(_.event_id)
    feed.append(wave1: _*)
    withRocks { run(CdcStream.withPrevStateTws(src())) }
    // pre-erasure: the checkpoint durably holds both targets' payloads
    val before = StateMigration.readPrevImageStateTws(spark, chk).collect().toMap
    assert(before == Map(1L -> """{"k":6}""", 2L -> """{"k":4}""", 3L -> """{"k":5}"""))

    // wave 2 rides the monotone feed: sentinels at fresh ids (the command
    // rows that reach even never-recurring user 3), a genuinely new UPDATE
    // for erased user 1 (prev must be null — first-sight), user 2 chaining
    feed.append(StateErasure.eraseSentinels(erased, firstId = 100L) ++ Seq(
      RawChange(110L, t(110), 1L, "purchase", """{"k":110}"""),
      RawChange(111L, t(111), 2L, "purchase", """{"k":111}""")): _*)
    val out2 = withRocks { run(CdcStream.withPrevStateTws(src(), erased)) }
    assert(out2.map(_.event_id) == Seq(110L, 111L),
      s"sentinel rows leaked into the event stream: ${out2.map(_.event_id)}")
    val e110 = out2.find(_.event_id == 110L).get
    assert(e110.previous == null, s"erased user's next event must be first-sight, got ${e110.previous}")
    assert(e110.changes == null, "first-sight UPDATE carries no merge patch")
    assert(out2.find(_.event_id == 111L).get.previous == """{"k":4}""",
      "untouched user's chain must survive the restart")

    // the state reader proves the DURABLE copy changed IN PLACE: user 3
    // (sentinel-only) is GONE, user 1 holds only the post-erasure payload
    val after = StateMigration.readPrevImageStateTws(spark, chk).collect().toMap
    assert(after == Map(1L -> """{"k":110}""", 2L -> """{"k":111}"""),
      s"checkpoint still leaks erased payloads: $after")

    // restart idempotence: same erasure config on the next bounce must NOT
    // re-clear the legitimately rebuilt payload
    feed.append(RawChange(112L, t(112), 1L, "purchase", """{"k":112}"""))
    val out3 = withRocks { run(CdcStream.withPrevStateTws(src(), erased)) }
    assert(out3.map(_.event_id) == Seq(112L))
    assert(out3.head.previous == """{"k":110}""",
      s"erasure re-applied on restart: prev=${out3.head.previous}")
  }

  test("a prev-only tws checkpoint resumes under the unified processor, with and without erasure") {
    // the same wave-1 checkpoint written in the old layout, resumed once
    // with an empty erasure set and once with users 1 and 3 erased
    def resumeOldLayout(tag: String, erasedNow: Map[Long, Long]) = {
      val feed = graft.streaming.CdcSource.FeedRegistry.get(s"prev_only_$tag")
      val chk = java.nio.file.Files.createTempDirectory(s"prev_only_$tag").toString
      feed.append(wave1: _*)
      withRocks { drainOn(chk)(feedSource(s"prev_only_$tag").groupByKey(_.user_id)
        .transformWithState(new PrevOnlyProcessor, TimeMode.None(), OutputMode.Append())) }
      feed.append(StateErasure.eraseSentinels(erasedNow, firstId = 100L) ++ Seq(
        RawChange(110L, t(110), 1L, "purchase", """{"k":110}"""),
        RawChange(111L, t(111), 2L, "purchase", """{"k":111}""")): _*)
      val out = withRocks {
        drainOn(chk)(CdcStream.withPrevStateTws(feedSource(s"prev_only_$tag"), erasedNow))
      }
      (out.sortBy(_.event_id).map(e => e.event_id -> e.previous),
        StateMigration.readPrevImageStateTws(spark, chk).collect().toMap)
    }
    val (plain, plainState) = resumeOldLayout("plain", Map.empty)
    assert(plain == Seq(110L -> """{"k":6}""", 111L -> """{"k":4}"""),
      s"chains must continue across the layout change: $plain")
    assert(plainState ==
      Map(1L -> """{"k":110}""", 2L -> """{"k":111}""", 3L -> """{"k":5}"""))
    val (erasing, erasingState) = resumeOldLayout("erasing", erased)
    assert(erasing == Seq(110L -> null, 111L -> """{"k":4}"""),
      s"erased user 1 must be first-sight, user 2 chained: $erasing")
    assert(erasingState == Map(1L -> """{"k":110}""", 2L -> """{"k":111}"""),
      s"checkpoint still leaks erased payloads: $erasingState")
  }

  test("transformWithState: fresh-checkpoint migration+erasure drops replays below the cutoff") {
    implicit val sqlCtx = spark.sqlContext
    val chkA = java.nio.file.Files.createTempDirectory("erase_twsf_a").toString
    val inA = MemoryStream[RawChange]
    val stFull = withRocks {
      val q1 = CdcStream.withPrevStateTws(inA.toDS())
        .writeStream.format("memory").queryName("erase_twsf_q1")
        .option("checkpointLocation", chkA).outputMode("append").start()
      try { inA.addData(wave1: _*); q1.processAllAvailable() } finally q1.stop()
      StateMigration.readPrevImageStateTws(spark, chkA)
    }
    // resume on a fresh checkpoint seeded with the UNFILTERED old state —
    // the processor's init hook applies the erasure; the tombstone cutoff
    // drops a replayed pre-erasure row in-handler (the dedupeReplays
    // composition: even a replay that slips past the watermarked dedup
    // cannot resurrect the payload)
    val wave2 = StateErasure.eraseSentinels(erased) ++ Seq(
      RawChange(3L, t(3), 1L, "purchase", """{"k":3}"""), // replay, id <= cutoff
      RawChange(10L, t(10), 1L, "purchase", """{"k":10}"""),
      RawChange(11L, t(11), 2L, "purchase", """{"k":11}"""))
    val out = withRocks {
      val inB = MemoryStream[RawChange]
      val q2 = CdcStream.withPrevStateTws(inB.toDS(), erased, Some(stFull))
        .writeStream.format("memory").queryName("erase_twsf_q2")
        .outputMode("append").start()
      try {
        inB.addData(wave2: _*); q2.processAllAvailable()
        spark.table("erase_twsf_q2").as[CdcStream.CdcEvent]
          .collect().sortBy(_.event_id).toSeq
      } finally q2.stop()
    }
    assert(out.map(_.event_id) == Seq(10L, 11L),
      s"replayed/sentinel rows leaked: ${out.map(_.event_id)}")
    assert(out.find(_.event_id == 10L).get.previous == null,
      "the replayed pre-erasure row must not have re-seeded the prev-image")
    assert(out.find(_.event_id == 11L).get.previous == """{"k":4}""",
      "untouched user's seeded state must survive the migration")
  }

  test("flatMapGroupsWithState: offline state rewrite, resume on a fresh checkpoint") {
    implicit val sqlCtx = spark.sqlContext
    val chkA = java.nio.file.Files.createTempDirectory("erase_cls_chk").toString
    val in = MemoryStream[RawChange]
    val q1 = CdcStream.withPrevState(in.toDS())
      .writeStream.format("memory").queryName("erase_cls_a")
      .option("checkpointLocation", chkA).outputMode("append").start()
    try { in.addData(wave1: _*); q1.processAllAvailable() } finally q1.stop()

    // the offline rewrite: state read minus the erased keys
    val stE = StateErasure.erasePrevImageState(
      StateMigration.readPrevImageState(spark, chkA), erased.keySet)
    assert(stE.collect().toMap == Map(2L -> """{"k":4}"""),
      "rewrite must drop exactly the erased keys")

    val in2 = MemoryStream[RawChange]
    val q2 = CdcStream.withPrevState(in2.toDS(), initial = Some(stE))
      .writeStream.format("memory").queryName("erase_cls_b")
      .outputMode("append").start()
    val out = try {
      in2.addData(
        RawChange(10L, t(10), 1L, "purchase", """{"k":10}"""),
        RawChange(11L, t(11), 2L, "purchase", """{"k":11}"""))
      q2.processAllAvailable()
      spark.table("erase_cls_b").as[CdcStream.CdcEvent]
        .collect().sortBy(_.event_id).toSeq
    } finally q2.stop()
    val e10 = out.find(_.event_id == 10L).get
    assert(e10.previous == null && e10.changes == null,
      s"classic path first-sight broken: $e10")
    assert(out.find(_.event_id == 11L).get.previous == """{"k":4}""")
  }

  test("both APIs agree on the post-erasure tail (parity)") {
    implicit val sqlCtx = spark.sqlContext
    val tail = Seq(
      RawChange(20L, t(20), 1L, "purchase", """{"k":20}"""),
      RawChange(21L, t(21), 1L, "purchase", """{"k":21}"""),
      RawChange(22L, t(22), 2L, "purchase", """{"k":22}"""))
    // classic: offline-rewrite shape (state minus erased keys as initial)
    val stE = Seq((2L, """{"k":4}""")).toDS()
    val inC = MemoryStream[RawChange]
    val qC = CdcStream.withPrevState(inC.toDS(), initial = Some(stE))
      .writeStream.format("memory").queryName("erase_par_c")
      .outputMode("append").start()
    val outC = try {
      inC.addData(tail: _*); qC.processAllAvailable()
      spark.table("erase_par_c").orderBy("event_id").collect().map(_.toString).toSeq
    } finally qC.stop()
    // tws: fresh-checkpoint erasing resume seeded with the UNFILTERED state
    // (the processor's handleInitialState applies the erasure itself)
    val stFull = Seq((1L, """{"k":6}"""), (2L, """{"k":4}"""), (3L, """{"k":5}""")).toDS()
    val outT = withRocks {
      val inT = MemoryStream[RawChange]
      val qT = CdcStream.withPrevStateTws(inT.toDS(), erased, Some(stFull))
        .writeStream.format("memory").queryName("erase_par_t")
        .outputMode("append").start()
      try {
        inT.addData(tail: _*); qT.processAllAvailable()
        spark.table("erase_par_t").orderBy("event_id").collect().map(_.toString).toSeq
      } finally qT.stop()
    }
    assert(outC == outT, s"APIs diverged post-erasure:\n$outC\nvs\n$outT")
  }

  test("erasureSet reads the archive's tombstones; sentinels take the command shape") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("erase_set_archive").toString
    val rows = Seq(
      (1L, t(0), 7L, "INSERT", "{}"),
      (2L, t(1), 8L, "INSERT", "{}"),
      (3L, t(2), 7L, "UPDATE", "{}"))
      .toDF("event_id", "ts", "user_id", "op", "props")
    graft.sources.Layout.writeEventArchive(rows, dir)
    assert(StateErasure.erasureSet(spark, dir).isEmpty, "no tombstones yet")
    graft.sources.Layout.eraseEntity(spark, dir, 7L)
    val set = StateErasure.erasureSet(spark, dir)
    assert(set == Map(7L -> 3L), s"got $set")
    val s = StateErasure.eraseSentinels(set)
    assert(s == Seq(RawChange(3L, null, 7L, "erase", null)))
  }

  test("dedup bucket-store erasure flips the verdict: erased exemplar stops matching") {
    implicit val sqlCtx = spark.sqlContext
    import DedupStream.{BandRow, Candidate, Doc}
    val docs = Tables.load(spark, sf, "documents")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
      .as[Doc].collect().sortBy(_.doc_id).toSeq
    def bands(in: MemoryStream[Doc]) =
      DedupStream.bandRows(in.toDS().toDF()).as[BandRow]
    val chk = java.nio.file.Files.createTempDirectory("erase_dd_chk").toString
    val in1 = MemoryStream[Doc]
    val q1 = DedupStream.candidates(bands(in1))
      .writeStream.format("memory").queryName("erase_dd_a")
      .option("checkpointLocation", chk).outputMode("append").start()
    try { in1.addData(docs: _*); q1.processAllAvailable() } finally q1.stop()
    val st = StateMigration.readDedupBucketState(spark, chk)
    val exemplars = st.collect()
    assert(exemplars.nonEmpty)
    // erase one exemplar document; replay a byte-identical copy of it
    val erasedDoc = exemplars.map(_._2).min
    val copy = Doc(docs.map(_.doc_id).max + 1L,
      docs.find(_.doc_id == erasedDoc).get.text)

    // positive control: with the UNFILTERED store the copy is flagged
    // against the erased doc
    def replay(initial: org.apache.spark.sql.Dataset[(String, Long)],
               name: String): Set[Candidate] = {
      val in2 = MemoryStream[Doc]
      val q2 = DedupStream.candidates(bands(in2), initial = Some(initial))
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        in2.addData(copy); q2.processAllAvailable()
        spark.table(name).as[Candidate].collect().toSet
      } finally q2.stop()
    }
    val withFull = replay(st, "erase_dd_full")
    assert(withFull.exists(_.dup_of == erasedDoc),
      "control failed: the copy should match its original in the full store")
    // erased store: the copy must NOT match the erased doc — its
    // fingerprints are gone from the durable state
    val stE = StateErasure.eraseDedupBucketState(st, Set(erasedDoc))
    assert(!stE.collect().exists(_._2 == erasedDoc))
    val withErased = replay(stE, "erase_dd_erased")
    assert(!withErased.exists(_.dup_of == erasedDoc),
      s"erased exemplar still matching: $withErased")
  }

  test("by-table tws: one entity-grain erasure clears the user across EVERY captured table, in place") {
    implicit val sqlCtx = spark.sqlContext
    import CdcStream.{TableCdcEvent, TableRawChange}
    val chk = java.nio.file.Files.createTempDirectory("erase_bytable_chk").toString
    def r(tab: String, id: Long, u: Long, k: Int) =
      TableRawChange(tab, id, t(id), u, "purchase", s"""{"k":$k}""")
    val w1 = Seq(r("t1", 1L, 1L, 1), r("t1", 2L, 2L, 2),
      r("t2", 3L, 1L, 3), r("t2", 4L, 2L, 4))
    val in = MemoryStream[TableRawChange]
    def run(events: Dataset[TableCdcEvent]) = drainOn(chk)(events).sortBy(_.event_id)
    withRocks {
      in.addData(w1: _*)
      run(CdcStream.withPrevStateByTableTws(in.toDS()))
    }
    assert(StateMigration.readPrevImageStateByTableTws(spark, chk).collect().toMap ==
      Map(("t1", 1L) -> """{"k":1}""", ("t1", 2L) -> """{"k":2}""",
          ("t2", 1L) -> """{"k":3}""", ("t2", 2L) -> """{"k":4}"""))
    // erase user 1 (cutoff 4): resume the SAME checkpoint erasing; sentinels
    // tagged per table reach both of the user's keys
    val erasedBT = Map(1L -> 4L)
    val sent = StateErasure.eraseSentinelsByTable(erasedBT, Seq("t1", "t2"))
    assert(sent == Seq(TableRawChange("t1", 4L, null, 1L, "erase", null),
      TableRawChange("t2", 4L, null, 1L, "erase", null)))
    val w2 = Seq(r("t1", 10L, 1L, 10), r("t2", 11L, 1L, 11), r("t1", 12L, 2L, 12))
    val out = withRocks {
      in.addData(sent ++ w2: _*)
      run(CdcStream.withPrevStateByTableTws(in.toDS(), k => erasedBT.get(k._2)))
    }
    assert(out.map(_.event_id) == Seq(10L, 11L, 12L))
    assert(out.find(_.event_id == 10L).get.previous == null,
      "t1 prev-image must be erased")
    assert(out.find(_.event_id == 11L).get.previous == null,
      "t2 prev-image must be erased too — the request is entity-grain")
    assert(out.find(_.event_id == 12L).get.previous == """{"k":2}""",
      "other users' chains survive")
    val after = StateMigration.readPrevImageStateByTableTws(spark, chk).collect().toMap
    assert(after == Map(("t1", 1L) -> """{"k":10}""", ("t2", 1L) -> """{"k":11}""",
      ("t1", 2L) -> """{"k":12}""", ("t2", 2L) -> """{"k":4}"""), s"$after")
  }

  test("generic row-key state: offline rewrite, first-sight resume, other keys chained") {
    implicit val sqlCtx = spark.sqlContext
    import CdcStream.{GenericChange, GenericCdcEvent}
    val chk = java.nio.file.Files.createTempDirectory("erase_gen_chk").toString
    val w1 = Seq(
      GenericChange(1L, """{"sku":"a-1","qty":1}"""),
      GenericChange(2L, """{"sku":"b-2","qty":5}"""),
      GenericChange(3L, """{"sku":"a-1","qty":2}"""))
    val in1 = MemoryStream[GenericChange]
    val q1 = CdcStream.withPrevStateByRowKey(in1.toDS(), "sku")
      .writeStream.format("memory").queryName("erase_gen_a")
      .option("checkpointLocation", chk).outputMode("append").start()
    try { in1.addData(w1: _*); q1.processAllAvailable() } finally q1.stop()
    // the checkpoint holds the erased entity's last payload under its
    // NATURAL key (the generic capture has no typed user column)
    val st = StateMigration.readPrevImageStateByRowKey(spark, chk)
    assert(st.collect().toMap ==
      Map("a-1" -> """{"sku":"a-1","qty":2}""", "b-2" -> """{"sku":"b-2","qty":5}"""))
    val stE = StateErasure.erasePrevImageState(st, Set("a-1"))
    assert(stE.collect().toMap == Map("b-2" -> """{"sku":"b-2","qty":5}"""))
    // resume with the erased layout: a-1's next event is a fresh INSERT
    // (first-sight), b-2 chains as an UPDATE with its previous intact
    val in2 = MemoryStream[GenericChange]
    val q2 = CdcStream.withPrevStateByRowKey(in2.toDS(), "sku", initial = Some(stE))
      .writeStream.format("memory").queryName("erase_gen_b")
      .outputMode("append").start()
    val out = try {
      in2.addData(
        GenericChange(10L, """{"sku":"a-1","qty":9}"""),
        GenericChange(11L, """{"sku":"b-2","qty":6}"""))
      q2.processAllAvailable()
      spark.table("erase_gen_b").as[GenericCdcEvent]
        .collect().sortBy(_.event_id).toSeq
    } finally q2.stop()
    val a = out.find(_.event_id == 10L).get
    assert(a.op == "INSERT" && a.previous == null && a.changes == null,
      s"erased row key must restart first-sight: $a")
    val b = out.find(_.event_id == 11L).get
    assert(b.op == "UPDATE" && b.previous == """{"sku":"b-2","qty":5}""", s"$b")
  }

  test("erasure composes with Listen resume: the archive gap replay excludes erased rows") {
    import graft.streaming.{ListenResume, ListenServer, PqsClient}
    import spark.implicits._
    def t(i: Long) = new java.sql.Timestamp(1000L * (i + 1))
    val dir = java.nio.file.Files.createTempDirectory("erase_resume").toString
    val rows = (0 until 12).map(i =>
      (i.toLong, t(i), (i % 3).toLong, "INSERT", s"""{"k":$i}"""))
      .toDF("event_id", "ts", "user_id", "op", "props")
    graft.sources.Layout.writeEventArchive(rows, dir)
    // GDPR request lands while the subscriber is disconnected
    graft.sources.Layout.eraseEntity(spark, dir, 1L)
    val server = new ListenServer(
      replaySource = Some(ListenResume.archiveReplay(spark, dir)))
    try {
      val got = new java.util.concurrent.CopyOnWriteArrayList[String]()
      PqsClient.runFrom("127.0.0.1", server.boundPort, "events", -1L,
        got.add(_), maxEvents = 8)
      val ids = got.toArray(Array.empty[String]).map(PqsClient.eventId).toSeq
      // user 1 owned ids 1,4,7,10 — the replay must deliver everyone else
      // and NOTHING of the erased entity (the replay reads the post-erasure
      // archive, so the composition is automatic, and now pinned)
      assert(ids == Seq(0L, 2L, 3L, 5L, 6L, 8L, 9L, 11L),
        s"gap replay leaked erased rows: $ids")
    } finally server.close()
  }

  test("media and semantic store erasure filter inside buckets and drop emptied ones") {
    import DedupStream.{FpBucketState, FpExemplar}
    val media = Seq(
      ("b1", FpBucketState(Seq(FpExemplar(1L, 10L), FpExemplar(2L, 20L)))),
      ("b2", FpBucketState(Seq(FpExemplar(1L, 11L))))).toDS()
    val mE = StateErasure.eraseMediaDedupState(media, Set(1L)).collect().toMap
    assert(mE == Map("b1" -> FpBucketState(Seq(FpExemplar(2L, 20L)))),
      s"got $mE")
    import SemDedupStream.{ClusterState, Exemplar}
    val sem = Seq(
      (100L, ClusterState(Seq(Exemplar(1L, Seq(1.0)), Exemplar(2L, Seq(0.5))))),
      (200L, ClusterState(Seq(Exemplar(1L, Seq(0.2)))))).toDS()
    val sE = StateErasure.eraseSemDedupState(sem, Set(1L)).collect().toMap
    assert(sE == Map(100L -> ClusterState(Seq(Exemplar(2L, Seq(0.5))))), s"got $sE")
  }
}
