package graft

import graft.streaming.CdcStream
import graft.streaming.CdcStream.{CdcEvent, RawChange, Subscription}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Structured Streaming CDC pipeline: prev-image state must survive across
  * micro-batches, changes must hold pre-update values, and the fan-out must
  * deliver each subscriber its own filtered view.
  */
class CdcStreamSpec extends SparkSuite {
  import spark.implicits._

  private def t(s: Long) = new Timestamp(1700000000000L + s * 1000)

  test("op domain covers the full proto enum incl. declared-but-dormant TRUNCATE") {
    // reference pqstream.proto:18-24 declares {UNKNOWN, INSERT, UPDATE,
    // DELETE, TRUNCATE}; the trigger never produces TRUNCATE (queries.go:58-60)
    assert(CdcStream.opOf("signup") == "INSERT")
    assert(CdcStream.opOf("purchase") == "UPDATE")
    assert(CdcStream.opOf("error") == "DELETE")
    assert(CdcStream.opOf("truncate") == "TRUNCATE")
    // batch mapping agrees with the streaming one
    val types = Seq("signup", "purchase", "error", "truncate", "view").toDF("event_type")
    val ops = types.select(graft.cdc.EventLog.opCol.as("op")).as[String].collect().toSeq
    assert(ops == Seq("INSERT", "UPDATE", "DELETE", "TRUNCATE", "UPDATE"))
  }

  test("prev-image state carries across micro-batches; changes = pre-update value") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[RawChange]
    val q = CdcStream.withPrevState(input.toDS())
      .writeStream.format("memory").queryName("cdc_out").outputMode("append").start()
    try {
      // batch 1: signup then purchase for user 1
      input.addData(
        RawChange(1, t(0), 1, "signup", """{"k":1}"""),
        RawChange(2, t(1), 1, "purchase", """{"k":2}"""))
      q.processAllAvailable()
      // batch 2: another purchase — prev must come from batch-1 state
      input.addData(RawChange(3, t(2), 1, "view", """{"k":5}"""))
      q.processAllAvailable()

      val rows = spark.table("cdc_out").orderBy("event_id").collect()
      assert(rows.length == 3)
      assert(rows(0).getAs[String]("op") == "INSERT" && rows(0).getAs[String]("previous") == null)
      assert(rows(1).getAs[String]("op") == "UPDATE")
      assert(rows(1).getAs[String]("previous") == """{"k":1}""")
      assert(rows(1).getAs[String]("changes") == """{"k":1}""") // pre-update value
      assert(rows(2).getAs[String]("previous") == """{"k":2}""")
      assert(rows(2).getAs[String]("changes") == """{"k":2}""")
    } finally q.stop()
  }

  test("transformWithState prev-image path matches the classic API row for row") {
    implicit val sqlCtx = spark.sqlContext
    // transformWithState requires the RocksDB state store
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val batch1 = Seq(
      RawChange(1, t(0), 1, "signup", """{"k":1}"""),
      RawChange(2, t(1), 1, "purchase", """{"k":2,"x":"a"}"""),
      RawChange(3, t(0), 2, "signup", """{"k":9}"""))
    // a null payload clears the image (the classic path used to die
    // storing it: GroupState refuses null), and an erasure sentinel is a
    // command both APIs drop, not an event
    val batch2 = Seq(
      RawChange(4, t(2), 1, "view", """{"k":5}"""),
      RawChange(5, t(2), 2, "error", """{"k":9}"""),
      RawChange(6, t(3), 1, "purchase", null),
      RawChange(7, null, 2, "erase", null))
    val batch3 = Seq(RawChange(8, t(4), 1, "view", """{"k":8}"""))
    def run(name: String, f: org.apache.spark.sql.Dataset[RawChange] =>
        org.apache.spark.sql.Dataset[CdcEvent]): Seq[String] = {
      val in = MemoryStream[RawChange]
      val q = f(in.toDS()).writeStream.format("memory")
        .queryName(name).outputMode("append").start()
      try {
        Seq(batch1, batch2, batch3).foreach { b => in.addData(b: _*); q.processAllAvailable() }
        spark.table(name).orderBy("event_id").collect().map(_.toString).toSeq
      } finally q.stop()
    }
    try {
      val modern = run("tws_out", ds => CdcStream.withPrevStateTws(ds))
      val classic = run("classic_out", ds => CdcStream.withPrevState(ds))
      assert(modern == classic, s"API paths diverged:\n$modern\nvs\n$classic")
      val byId = spark.table("classic_out").as[CdcEvent].collect().map(e => e.event_id -> e).toMap
      assert(byId.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L, 8L), s"sentinel leaked: ${byId.keySet}")
      assert(byId(6L).payload == null && byId(6L).previous == """{"k":5}""")
      assert(byId(8L).previous == null, "a null payload must clear the prev-image")
    } finally {
      prior match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
  }

  test("same-batch ordering: rows within one micro-batch chain correctly") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[RawChange]
    val q = CdcStream.withPrevState(input.toDS())
      .writeStream.format("memory").queryName("cdc_chain").outputMode("append").start()
    try {
      input.addData(
        RawChange(11, t(1), 7, "purchase", """{"k":10}"""),
        RawChange(10, t(0), 7, "purchase", """{"k":9}"""), // earlier ts, added second
        RawChange(12, t(2), 7, "purchase", """{"k":11}"""))
      q.processAllAvailable()
      val rows = spark.table("cdc_chain").orderBy("event_id").collect()
      assert(rows.map(_.getAs[String]("previous")).toSeq == Seq(null, """{"k":9}""", """{"k":10}"""))
    } finally q.stop()
  }

  test("same-millisecond events order by MICROS, matching the batch path") {
    implicit val sqlCtx = spark.sqlContext
    // two updates in the same millisecond, microseconds opposing event_id
    // order: a millis-precision sort key would fall through to event_id and
    // invert them, diverging from the batch path's full-precision ts order
    val tEarly = new Timestamp(1700000000123L); tEarly.setNanos(123000000) // .123000
    val tLate = new Timestamp(1700000000123L); tLate.setNanos(123456000)   // .123456
    val rows = Seq(
      RawChange(1, t(0), 9, "signup", """{"k":0}"""),
      RawChange(2, tLate, 9, "purchase", """{"k":2}"""), // later micros, smaller id
      RawChange(3, tEarly, 9, "purchase", """{"k":3}"""))
    val input = MemoryStream[RawChange]
    val q = CdcStream.withPrevState(input.toDS())
      .writeStream.format("memory").queryName("micros_out").outputMode("append").start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      val stream = spark.table("micros_out").collect()
        .map(r => r.getAs[Long]("event_id") -> r.getAs[String]("previous")).toMap
      // batch path: the same rows through EventLog.normalize (full-precision ts)
      val batch = graft.cdc.EventLog.normalize(rows.toDF())
        .collect().map(r => r.getAs[Long]("event_id") -> r.getAs[String]("prev_props")).toMap
      assert(stream == batch, s"stream $stream must equal batch $batch")
      assert(stream(3L) == """{"k":0}""" && stream(2L) == """{"k":3}""",
        "event 3 (.123000) precedes event 2 (.123456) despite the larger id")
    } finally q.stop()
  }

  test("replayed event ids are dropped within the watermark (at-least-once upstream)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[RawChange]
    val q = CdcStream.dedupeReplays(in.toDS(), watermark = "1 hour")
      .writeStream.format("memory").queryName("replay_out").outputMode("append").start()
    try {
      in.addData(
        RawChange(1, t(0), 1, "signup", """{"k":1}"""),
        RawChange(1, t(0), 1, "signup", """{"k":1}""")) // same-batch replay
      q.processAllAvailable()
      in.addData(RawChange(1, t(1), 1, "signup", """{"k":1}""")) // cross-batch replay
      in.addData(RawChange(2, t(2), 1, "purchase", """{"k":2}"""))
      // a null-ts row must PASS THROUGH, not be silently dropped as
      // infinitely-late by the watermark operator
      in.addData(RawChange(99, null, 1, "error", """{"k":9}"""))
      q.processAllAvailable()
      val ids = spark.table("replay_out").orderBy("event_id")
        .collect().map(_.getLong(0)).toSeq
      assert(ids == Seq(1L, 2L, 99L), s"replays dropped, null-ts passed through; got $ids")
    } finally q.stop()
  }

  test("windowed counts with watermark produce per-window totals") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[RawChange]
    val q = CdcStream.windowedCounts(input.toDF(), "10 minutes", "1 hour")
      .writeStream.format("memory").queryName("win_out").outputMode("update").start()
    try {
      input.addData(
        RawChange(1, t(0), 1, "click", "{}"),
        RawChange(2, t(10), 2, "click", "{}"),
        RawChange(3, t(4000), 3, "click", "{}")) // next hour
      q.processAllAvailable()
      val rows = spark.table("win_out").collect()
      assert(rows.map(_.getAs[Long]("n")).sum == 3)
      assert(rows.length == 2) // two distinct hour windows
    } finally q.stop()
  }

  test("session windows merge within the gap and split across it") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[RawChange]
    // session aggregations emit in APPEND mode only: a merged window is final
    // (and its state droppable) once the watermark passes its end
    val q = CdcStream.sessionCounts(input.toDF(), gap = "30 minutes")
      .writeStream.format("memory").queryName("sess_out").outputMode("append").start()
    try {
      // user 1: events at t0 and t+20min merge into ONE session (gap 30min);
      // the t+3h event opens a SECOND one. user 2's event never merges in.
      input.addData(
        RawChange(1, t(0), 1, "click", "{}"),
        RawChange(2, t(1200), 1, "click", "{}"),
        RawChange(3, t(10800), 1, "click", "{}"),
        RawChange(4, t(600), 2, "click", "{}"))
      q.processAllAvailable()
      // push the watermark far past every session end so they finalize; the
      // pusher's own (still-open) session is the only one not emitted
      input.addData(RawChange(99, t(100000), 9, "click", "{}"))
      q.processAllAvailable()
      val rows = spark.table("sess_out").collect().filter(_.getAs[Long]("user_id") != 9L)
      val byUser = rows.groupBy(_.getAs[Long]("user_id"))
      assert(byUser(1L).length == 2, s"user 1 should have 2 sessions: ${rows.toSeq}")
      assert(byUser(1L).map(_.getAs[Long]("n_events")).sorted.toSeq == Seq(1L, 2L))
      assert(byUser(2L).length == 1 && byUser(2L).head.getAs[Long]("n_events") == 1L)
      // merged session spans [t0, t20min + gap)
      val merged = byUser(1L).find(_.getAs[Long]("n_events") == 2L).get
      assert(merged.getAs[java.sql.Timestamp]("session_start") == t(0))
      assert(merged.getAs[java.sql.Timestamp]("session_end") == t(1200 + 1800))
    } finally q.stop()
  }

  test("stream-stream interval join pairs errors with preceding purchases only") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[RawChange]
    val q = CdcStream.correlate(input.toDF(), withinSeconds = 600)
      .writeStream.format("memory").queryName("corr_out").outputMode("append").start()
    try {
      // batch 1: user 1 purchases at t0 and t500; user 2 purchases at t0
      input.addData(
        RawChange(1, t(0), 1, "purchase", "{}"),
        RawChange(2, t(500), 1, "purchase", "{}"),
        RawChange(3, t(0), 2, "purchase", "{}"))
      q.processAllAvailable()
      // batch 2: user 1 errors at t700 — must reach back ACROSS the batch
      // boundary to the buffered t500 purchase (in window) but NOT t0
      // (700 s > 600 s), and never to user 2's purchase
      input.addData(RawChange(4, t(700), 1, "error", "{}"))
      q.processAllAvailable()
      val rows = spark.table("corr_out").collect()
      assert(rows.length == 1, s"expected exactly one pair, got ${rows.toSeq}")
      assert(rows(0).getAs[Long]("user_id") == 1L)
      assert(rows(0).getAs[Long]("error_id") == 4L)
      assert(rows(0).getAs[Long]("purchase_id") == 2L)
    } finally q.stop()
  }

  test("outer correlate emits unmatched errors null-padded once the purchase watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[RawChange]
    val q = CdcStream.correlateOuter(input.toDF(), withinSeconds = 600)
      .writeStream.format("memory").queryName("corr_outer_out").outputMode("append").start()
    try {
      // user 1: purchase then error (matched); user 2: error alone (must
      // surface null-padded — the rows an inner join silently drops)
      input.addData(
        RawChange(1, t(500), 1, "purchase", "{}"),
        RawChange(2, t(700), 1, "error", "{}"),
        RawChange(3, t(700), 2, "error", "{}"))
      q.processAllAvailable()
      // user 2's row must NOT emit yet: a purchase with p_ts <= 700 could
      // still arrive while the purchase watermark lags
      val early = spark.table("corr_outer_out").collect()
      assert(!early.exists(_.getAs[Long]("user_id") == 2L),
        s"unmatched error emitted before the watermark allowed: ${early.toSeq}")
      // advance BOTH side watermarks far past t700 (+ another batch to let
      // the eviction-driven emission land)
      input.addData(
        RawChange(4, t(5000), 9, "purchase", "{}"),
        RawChange(5, t(5000), 9, "error", "{}"))
      q.processAllAvailable()
      input.addData(
        RawChange(6, t(9000), 8, "purchase", "{}"),
        RawChange(7, t(9000), 8, "error", "{}"))
      q.processAllAvailable()
      val rows = spark.table("corr_outer_out").collect()
      val u1 = rows.filter(_.getAs[Long]("user_id") == 1L)
      assert(u1.length == 1 && u1(0).getAs[Long]("purchase_id") == 1L)
      val u2 = rows.filter(_.getAs[Long]("user_id") == 2L)
      assert(u2.length == 1, s"unmatched error missing/duplicated: ${rows.toSeq}")
      assert(u2(0).isNullAt(u2(0).fieldIndex("purchase_id")), "outer row must be null-padded")
      val u9 = rows.filter(_.getAs[Long]("user_id") == 9L)
      assert(u9.length == 1 && u9(0).getAs[Long]("purchase_id") == 4L)
    } finally q.stop()
  }

  test("live counts re-emit changed totals in Update mode across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[RawChange]
    val q = CdcStream.liveTypeCounts(input.toDF())
      .writeStream.format("memory").queryName("live_counts")
      .outputMode("update").start()
    try {
      input.addData(
        RawChange(1, t(0), 1, "purchase", "{}"),
        RawChange(2, t(1), 1, "click", "{}"))
      q.processAllAvailable()
      val b1 = spark.table("live_counts").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(b1 == Map("purchase" -> 1L, "click" -> 1L))
      // second batch touches only purchase — Update re-emits ONLY that key,
      // with its new running total
      input.addData(RawChange(3, t(2), 2, "purchase", "{}"))
      q.processAllAvailable()
      val emitted = spark.table("live_counts").collect()
        .map(r => r.getString(0) -> r.getLong(1))
      assert(emitted.count(_._1 == "purchase") == 2, emitted.toSeq.toString)
      assert(emitted.contains("purchase" -> 2L), "updated total missing")
      assert(emitted.count(_._1 == "click") == 1, "unchanged key was re-emitted")
    } finally q.stop()
  }

  test("batch Fallback.rehydrate runs unchanged on a streaming frame (stream-static E1)") {
    // the one-engine pitch made concrete: the E1 rehydration operator is
    // plain DataFrame algebra (filter + stream-static join + union, no
    // state), so the BATCH implementation drives the live capture path with
    // zero code changes
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[RawChange]
    val base = Seq((1L, """{"k":1}"""), (2L, """{"k":2}""")).toDF("user_id", "props")
    val q = graft.cdc.Fallback
      .rehydrate(input.toDF(), base, "user_id", "props", broadcastBase = true)
      .writeStream.format("memory").queryName("rehydrate_out")
      .outputMode("append").start()
    try {
      input.addData(
        RawChange(1, t(0), 1, "purchase", null),            // starved -> from base
        RawChange(2, t(1), 2, "purchase", """{"x":9}"""),   // intact -> untouched
        RawChange(3, t(2), 5, "purchase", null))            // starved, no base row
      q.processAllAvailable()
      val rows = spark.table("rehydrate_out").collect()
        .map(r => r.getAs[Long]("event_id") -> Option(r.getAs[String]("props"))).toMap
      assert(rows == Map(1L -> Some("""{"k":1}"""), 2L -> Some("""{"x":9}"""), 3L -> None))
    } finally q.stop()
  }

  test("fan-out delivers per-subscriber filtered views (A1/K* semantics)") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("fanout").toString
    val input = MemoryStream[RawChange]
    val subs = Seq(
      Subscription("purchases", "pur", s"$dir/purchases"),
      Subscription("all", ".", s"$dir/all"))
    val qs = CdcStream.fanOut(input.toDF(), subs, s"$dir/ckpt")
    try {
      input.addData(
        RawChange(1, t(0), 1, "purchase", "{}"),
        RawChange(2, t(1), 1, "click", "{}"),
        RawChange(3, t(2), 2, "purchase", "{}"))
      qs.foreach(_.processAllAvailable()) // each subscriber query drains independently
      assert(spark.read.parquet(s"$dir/purchases").count() == 2)
      assert(spark.read.parquet(s"$dir/all").count() == 3)
    } finally qs.foreach(_.stop())
  }
}
