package graft

import java.sql.{DriverManager, Timestamp}

import graft.streaming.{CdcStream, DedupStream, EraseEverywhere, StateMigration}
import graft.streaming.CdcStream.RawChange
import graft.streaming.EraseEverywhere.{ClassicOffline, DedupBuckets, TwsInPlace}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The ONE-CALL erasure orchestrator ([[EraseEverywhere.run]] /
  * `Graft.eraseEverywhere`) end to end — the r11/r12 done-criterion: a
  * LIVE Derby capture + the parquet archive + an in-place
  * transformWithState prev-image store + a dedup fingerprint store, erased
  * and VERIFIED in one call; the re-call is structurally a no-op (no
  * sentinel rows added to the live table, no checkpoint churn, no bounce);
  * the decommission contract is enforced, not trusted (same-dir refusal +
  * no-commit refusal); a clean before-census does NOT skip the first call
  * (older checkpoint files can still hold payload bytes — idempotence is
  * keyed on the receipt ledger); a fully-emptied archive reports zero
  * instead of throwing; and a user the archive never held gets a cutoff
  * floored at the LIVE feed's max id (the live table runs ahead of the
  * archive). Closes the blind spot of the reference's pipeline-only
  * redaction (`/root/reference/redactions.go:33-52`): erasure must reach
  * every DURABLE copy, and the report must prove it did.
  */
class EraseEverywhereSpec extends SparkSuite {
  import spark.implicits._

  private def t(i: Long) = new Timestamp(1000L * (i + 1))
  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

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

  private def exec(url: String, sql: String): Unit = {
    val c = DriverManager.getConnection(url)
    try c.createStatement().execute(sql) finally c.close()
  }
  private def createEvents(url: String): Unit = {
    DriverManager.getConnection(url).close()
    exec(url, "CREATE TABLE events (event_id BIGINT PRIMARY KEY, ts TIMESTAMP, " +
      "user_id BIGINT, event_type VARCHAR(32), props VARCHAR(500))")
  }
  private def insert(url: String, rows: (Long, Timestamp, Long, String, String)*): Unit = {
    val c = DriverManager.getConnection(url)
    try {
      val ps = c.prepareStatement("INSERT INTO events VALUES (?, ?, ?, ?, ?)")
      rows.foreach { case (id, ts, uid, typ, props) =>
        ps.setLong(1, id); ps.setTimestamp(2, ts); ps.setLong(3, uid)
        ps.setString(4, typ); ps.setString(5, props)
        ps.executeUpdate()
      }
    } finally c.close()
  }
  private def countSql(url: String, sql: String): Long = {
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(sql)
      rs.next(); rs.getLong(1)
    } finally c.close()
  }
  private def fileCount(dir: String): Long = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try s.count() finally s.close()
  }
  private def exists(dir: String): Boolean = new java.io.File(dir).exists()
  private def reportMap(df: org.apache.spark.sql.DataFrame): Map[String, (Long, Long)] =
    df.collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
  // 20 distinct words per doc — enough shingles for the minhash bands
  private def docText(seed: String): String =
    (0 until 20).map(i => s"${seed}word$i").mkString(" ")

  private def jdbcSrc(url: String) =
    spark.readStream.format("graft.streaming.CdcSourceProvider")
      .option("jdbcUrl", url).option("jdbcTable", "events")
      .option("numPartitions", "2").load().as[RawChange]
  // memory sink refuses checkpoint RECOVERY; foreachBatch is the
  // recoverable test-grade sink for same-checkpoint restarts
  private def runTws(events: Dataset[CdcStream.CdcEvent], chk: String): Unit = {
    val q = events.writeStream
      .foreachBatch { (b: Dataset[CdcStream.CdcEvent], _: Long) => b.collect(); () }
      .option("checkpointLocation", chk).outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
  }
  private def erasedAtReceipts(chk: String): Map[Long, Long] =
    spark.read.format("statestore").option("path", chk)
      .option("stateVarName", "erasedAt").load()
      .select(col("key.value").cast("long").as("_1"),
        col("value.value").cast("long").as("_2"))
      .as[(Long, Long)].collect().toMap

  test("one call erases archive + live tws store + dedup store; the receipted re-call is structurally a no-op") {
    implicit val sqlCtx = spark.sqlContext
    val url = "jdbc:derby:memory:erase_e2e;create=true"
    createEvents(url)
    val wave = Seq(
      (1L, t(0), 1L, "signup",   """{"k":1}"""),
      (2L, t(1), 2L, "signup",   """{"k":2}"""),
      (3L, t(2), 3L, "signup",   """{"k":3}"""), // user 3 never recurs
      (4L, t(3), 1L, "purchase", """{"k":4}"""),
      (5L, t(4), 2L, "purchase", """{"k":5}"""))
    insert(url, wave: _*)

    // live capture builds the tws prev-image store on its checkpoint
    val chkTws = tmp("erase_e2e_tws")
    withRocks { runTws(CdcStream.withPrevStateTws(jdbcSrc(url)), chkTws) }
    assert(StateMigration.readPrevImageStateTws(spark, chkTws).collect().toMap ==
      Map(1L -> """{"k":4}""", 2L -> """{"k":5}""", 3L -> """{"k":3}"""))

    // the archive holds the same events (day-partitioned parquet)
    val adir = tmp("erase_e2e_archive")
    graft.sources.Layout.writeEventArchive(
      wave.toDF("event_id", "ts", "user_id", "op", "props"), adir)

    // the dedup fingerprint store: docs keyed by user id (docsOf identity)
    val chkDd = tmp("erase_e2e_dd_a")
    val docs = Seq(DedupStream.Doc(1L, docText("alpha")),
      DedupStream.Doc(2L, docText("beta")), DedupStream.Doc(3L, docText("gamma")))
    def bands(in: MemoryStream[DedupStream.Doc]) =
      DedupStream.bandRows(in.toDS().toDF()).as[DedupStream.BandRow]
    val in1 = MemoryStream[DedupStream.Doc]
    val q1 = DedupStream.candidates(bands(in1)).writeStream
      .foreachBatch { (b: Dataset[DedupStream.Candidate], _: Long) => b.collect(); () }
      .option("checkpointLocation", chkDd).outputMode("append").start()
    try { in1.addData(docs: _*); q1.processAllAvailable() } finally q1.stop()

    var bounces = 0
    val stores = Seq(
      TwsInPlace("tws", chkTws, url, "events", erased => {
        bounces += 1
        withRocks { runTws(CdcStream.withPrevStateTws(jdbcSrc(url), erased), chkTws) }
      }),
      DedupBuckets("dedup", chkDd, { filtered =>
        val fresh = tmp("erase_e2e_dd_b")
        val in2 = MemoryStream[DedupStream.Doc]
        val q2 = DedupStream.candidates(bands(in2), initial = Some(filtered)).writeStream
          .foreachBatch { (b: Dataset[DedupStream.Candidate], _: Long) => b.collect(); () }
          .option("checkpointLocation", fresh).outputMode("append").start()
        // the first batch COMMITS the rewritten state on the fresh
        // checkpoint before resumeFrom returns — the decommission contract
        try { in2.addData(DedupStream.Doc(99L, docText("delta"))); q2.processAllAvailable() }
        finally q2.stop()
        fresh
      }))

    val (report, moved) =
      EraseEverywhere.runDetailed(spark, adir, Seq(1L, 3L), stores)
    val rep = reportMap(report)
    assert(rep.keySet == Set("archive", "tws", "dedup"), s"got $rep")
    assert(rep("archive") == (3L, 0L), s"archive: ${rep("archive")}")
    assert(rep("tws") == (2L, 0L), s"tws: ${rep("tws")}")
    assert(rep("dedup")._1 > 0L && rep("dedup")._2 == 0L, s"dedup: ${rep("dedup")}")

    // durable copies verified DIRECTLY, not just through the report
    val st = StateMigration.readPrevImageStateTws(spark, chkTws).collect().toMap
    assert(st == Map(2L -> """{"k":5}"""), s"tws checkpoint still leaks: $st")
    // the only other state var is the erasure receipt — a bare cutoff id
    // (the pre-rewrite archive max, 5), no payload bytes
    assert(erasedAtReceipts(chkTws) == Map(1L -> 5L, 3L -> 5L))
    val movedDd = moved.collect { case d: DedupBuckets => d }.head
    assert(!exists(chkDd), "old dedup checkpoint must be decommissioned")
    assert(movedDd.checkpointDir != chkDd && exists(movedDd.checkpointDir))
    assert(!StateMigration.readDedupBucketState(spark, movedDd.checkpointDir)
      .collect().exists(kv => kv._2 == 1L || kv._2 == 3L))
    // exactly one sentinel per erased user landed in the live table, once
    assert(countSql(url,
      "SELECT COUNT(*) FROM events WHERE event_type = 'erase'") == 2L)
    assert(bounces == 1)

    // re-call with the post-erasure stores: structurally a no-op — report
    // (0,0) everywhere, no bounce, no new sentinels, no checkpoint churn
    val ddFiles = fileCount(movedDd.checkpointDir)
    val (report2, _) = EraseEverywhere.runDetailed(spark, adir, Seq(1L, 3L), moved)
    assert(reportMap(report2).values.toSet == Set((0L, 0L)), s"${reportMap(report2)}")
    assert(bounces == 1, "re-call must not bounce the tws store")
    assert(countSql(url,
      "SELECT COUNT(*) FROM events WHERE event_type = 'erase'") == 2L,
      "re-call must not insert sentinel rows")
    assert(fileCount(movedDd.checkpointDir) == ddFiles,
      "re-call must not churn the dedup checkpoint")
  }

  test("decommission is enforced, not trusted: no-commit and same-dir resumes are refused, the store survives") {
    implicit val sqlCtx = spark.sqlContext
    val chkA = tmp("erase_cls_a")
    val in = MemoryStream[RawChange]
    val q1 = CdcStream.withPrevState(in.toDS()).writeStream
      .format("memory").queryName("ee_cls_seed")
      .option("checkpointLocation", chkA).outputMode("append").start()
    try {
      in.addData(RawChange(1L, t(0), 1L, "signup", """{"k":1}"""),
        RawChange(2L, t(1), 2L, "signup", """{"k":2}"""))
      q1.processAllAvailable()
    } finally q1.stop()

    val adir = tmp("erase_cls_archive")
    graft.sources.Layout.writeEventArchive(
      Seq((1L, t(0), 1L, "INSERT", """{"k":1}"""), (2L, t(1), 2L, "INSERT", """{"k":2}"""))
        .toDF("event_id", "ts", "user_id", "op", "props"), adir)

    // (a) a callback returning before its first batch commits loses the
    // store if the old dir is deleted — the empty commit log refuses it
    val e1 = intercept[IllegalArgumentException] {
      EraseEverywhere.run(spark, adir, Seq(1L),
        Seq(ClassicOffline("cls", chkA, _ => tmp("erase_cls_early"))))
    }
    assert(e1.getMessage.contains("no committed batch"), e1.getMessage)
    assert(exists(chkA), "old checkpoint must survive a refused decommission")
    assert(StateMigration.readPrevImageState(spark, chkA).collect().toMap
      .contains(1L), "state must be untouched after the refusal")

    // (b) a resume that lands on the OLD dir is refused before any delete
    val e2 = intercept[IllegalArgumentException] {
      EraseEverywhere.run(spark, adir, Seq(1L),
        Seq(ClassicOffline("cls", chkA, _ => chkA)))
    }
    assert(e2.getMessage.contains("FRESH checkpoint"), e2.getMessage)
    assert(exists(chkA))

    // (c) the honest resume: first batch commits on the fresh checkpoint,
    // THEN the old one is decommissioned; the moved store verifies clean
    var freshDir: String = null
    val (rep, moved) = EraseEverywhere.runDetailed(spark, adir, Seq(1L),
      Seq(ClassicOffline("cls", chkA, { filtered =>
        val fresh = tmp("erase_cls_b"); freshDir = fresh
        val in2 = MemoryStream[RawChange]
        val q2 = CdcStream.withPrevState(in2.toDS(), initial = Some(filtered)).writeStream
          .format("memory").queryName("ee_cls_resume")
          .option("checkpointLocation", fresh).outputMode("append").start()
        try {
          in2.addData(RawChange(50L, t(50), 2L, "purchase", """{"k":50}"""))
          q2.processAllAvailable()
        } finally q2.stop()
        fresh
      })))
    assert(reportMap(rep)("cls") == (1L, 0L))
    assert(!exists(chkA), "the old checkpoint's payload bytes must be gone")
    assert(moved.head.asInstanceOf[ClassicOffline].checkpointDir == freshDir)
    assert(StateMigration.readPrevImageState(spark, freshDir).collect().toMap ==
      Map(2L -> """{"k":50}"""))
  }

  test("a clean before-census does not skip the first call: idempotence is receipt-keyed, not found()==0") {
    implicit val sqlCtx = spark.sqlContext
    // the latest committed state never held user 1 — but older checkpoint
    // delta/snapshot files COULD (a key cleared organically by TTL or
    // business logic before the request landed), so the first call must
    // run the rewrite+decommission anyway; only the receipt makes the
    // re-call a structural no-op
    val chkA = tmp("erase_clean_a")
    val in = MemoryStream[RawChange]
    val q1 = CdcStream.withPrevState(in.toDS()).writeStream
      .format("memory").queryName("ee_clean_seed")
      .option("checkpointLocation", chkA).outputMode("append").start()
    try {
      in.addData(RawChange(1L, t(0), 2L, "signup", """{"k":1}"""))
      q1.processAllAvailable()
    } finally q1.stop()

    val adir = tmp("erase_clean_archive")
    graft.sources.Layout.writeEventArchive(
      Seq((1L, t(0), 2L, "INSERT", """{"k":1}"""), (2L, t(1), 1L, "INSERT", """{"k":9}"""))
        .toDF("event_id", "ts", "user_id", "op", "props"), adir)

    var calls = 0
    def store(chk: String) = ClassicOffline("cls0", chk, { filtered =>
      calls += 1
      val fresh = tmp("erase_clean_b")
      val in2 = MemoryStream[RawChange]
      val q2 = CdcStream.withPrevState(in2.toDS(), initial = Some(filtered)).writeStream
        .format("memory").queryName(s"ee_clean_resume_$calls")
        .option("checkpointLocation", fresh).outputMode("append").start()
      try {
        in2.addData(RawChange(60L, t(60), 2L, "purchase", """{"k":60}"""))
        q2.processAllAvailable()
      } finally q2.stop()
      fresh
    })
    val (rep, moved) = EraseEverywhere.runDetailed(spark, adir, Seq(1L), Seq(store(chkA)))
    assert(reportMap(rep)("cls0") == (0L, 0L))
    assert(calls == 1,
      "a clean latest-version census must NOT skip the first call — " +
        "older checkpoint files can still hold the payload bytes")
    assert(!exists(chkA), "the historical files must be decommissioned")

    val (rep2, _) = EraseEverywhere.runDetailed(spark, adir, Seq(1L), moved)
    assert(reportMap(rep2)("cls0") == (0L, 0L))
    assert(calls == 1, "the receipted re-call must be a structural no-op")
  }

  test("TwsInPlaceByTable: one entity-grain call clears the user across EVERY captured table of a multi-table daemon") {
    import graft.streaming.{CdcCatalog, CdcSource}
    import CdcStream.{TableCdcEvent, TableRawChange}
    implicit val sqlCtx = spark.sqlContext
    val url = "jdbc:derby:memory:erase_bytable_e2e;create=true"
    DriverManager.getConnection(url).close()
    def mk(table: String): Unit =
      exec(url, s"CREATE TABLE $table (event_id BIGINT PRIMARY KEY, ts TIMESTAMP, " +
        "user_id BIGINT, event_type VARCHAR(32), props VARCHAR(500))")
    def ins(table: String, rows: (Long, Long, Int)*): Unit = {
      val c = DriverManager.getConnection(url)
      try {
        val ps = c.prepareStatement(s"INSERT INTO $table VALUES (?, ?, ?, ?, ?)")
        rows.foreach { case (id, uid, k) =>
          ps.setLong(1, id); ps.setTimestamp(2, t(id)); ps.setLong(3, uid)
          ps.setString(4, "purchase"); ps.setString(5, s"""{"k":$k}""")
          ps.executeUpdate()
        }
      } finally c.close()
    }
    // disjoint id ranges so the shared archive id space (and so the
    // tombstone cutoffs) are valid in both tables
    mk("t1"); mk("t2")
    ins("t1", (1L, 1L, 1), (2L, 2L, 2))
    ins("t2", (101L, 1L, 3), (102L, 2L, 4))

    val specs = Seq(CdcSource.JdbcSpec(url, "t1"), CdcSource.JdbcSpec(url, "t2"))
    def raw() = CdcCatalog.readAll(spark, specs, numPartitions = 2).as[TableRawChange]
    val chk = tmp("erase_bt_tws")
    def runBt(events: Dataset[TableCdcEvent]): Unit = {
      val q = events.writeStream
        .foreachBatch { (b: Dataset[TableCdcEvent], _: Long) => b.collect(); () }
        .option("checkpointLocation", chk).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    withRocks {
      runBt(CdcStream.withPrevStateByTableTws(raw()))
    }
    assert(StateMigration.readPrevImageStateByTableTws(spark, chk).collect().toMap ==
      Map(("t1", 1L) -> """{"k":1}""", ("t1", 2L) -> """{"k":2}""",
          ("t2", 1L) -> """{"k":3}""", ("t2", 2L) -> """{"k":4}"""))

    val adir = tmp("erase_bt_archive")
    graft.sources.Layout.writeEventArchive(
      Seq((1L, t(1), 1L, "INSERT", """{"k":1}"""), (2L, t(2), 2L, "INSERT", """{"k":2}"""),
        (101L, t(101), 1L, "INSERT", """{"k":3}"""), (102L, t(102), 2L, "INSERT", """{"k":4}"""))
        .toDF("event_id", "ts", "user_id", "op", "props"), adir)

    var bounces = 0
    val stores = Seq(EraseEverywhere.TwsInPlaceByTable("bytable", chk, url,
      Seq("t1", "t2"), erased => {
        bounces += 1
        withRocks { runBt(CdcStream.withPrevStateByTableTws(raw(), k => erased.get(k._2))) }
      }))
    val (rep, moved) = EraseEverywhere.runDetailed(spark, adir, Seq(1L), stores)
    assert(reportMap(rep)("bytable") == (2L, 0L),
      s"user 1 held state in BOTH tables: ${reportMap(rep)}")
    assert(reportMap(rep)("archive") == (2L, 0L))
    val after = StateMigration.readPrevImageStateByTableTws(spark, chk).collect().toMap
    assert(after == Map(("t1", 2L) -> """{"k":2}""", ("t2", 2L) -> """{"k":4}"""),
      s"entity-grain erasure must clear the user in every table: $after")
    // one sentinel per (table, erased user), each above ITS table's max id
    def sentinels(table: String): Seq[Long] = {
      val c = DriverManager.getConnection(url)
      try {
        val rs = c.createStatement().executeQuery(
          s"SELECT event_id FROM $table WHERE event_type = 'erase'")
        val b = Seq.newBuilder[Long]
        while (rs.next()) b += rs.getLong(1)
        b.result()
      } finally c.close()
    }
    assert(sentinels("t1") == Seq(3L), s"t1 sentinels: ${sentinels("t1")}")
    assert(sentinels("t2") == Seq(103L), s"t2 sentinels: ${sentinels("t2")}")
    assert(bounces == 1)

    // receipted re-call: no new sentinels in either table, no bounce
    val (rep2, _) = EraseEverywhere.runDetailed(spark, adir, Seq(1L), moved)
    assert(reportMap(rep2).values.toSet == Set((0L, 0L)))
    assert(bounces == 1 && sentinels("t1").size == 1 && sentinels("t2").size == 1)
  }

  test("multi-archive form: per-(table,user) cutoffs — independent id spaces neither resurrect nor block future rows") {
    import graft.streaming.{CdcCatalog, CdcSource}
    import CdcStream.{TableCdcEvent, TableRawChange}
    implicit val sqlCtx = spark.sqlContext
    val url = "jdbc:derby:memory:erase_multiarch;create=true"
    DriverManager.getConnection(url).close()
    def mk(table: String): Unit =
      exec(url, s"CREATE TABLE $table (event_id BIGINT PRIMARY KEY, ts TIMESTAMP, " +
        "user_id BIGINT, event_type VARCHAR(32), props VARCHAR(500))")
    def ins(table: String, rows: (Long, Long, Int)*): Unit = {
      val c = DriverManager.getConnection(url)
      try {
        val ps = c.prepareStatement(s"INSERT INTO $table VALUES (?, ?, ?, ?, ?)")
        rows.foreach { case (id, uid, k) =>
          ps.setLong(1, id); ps.setTimestamp(2, t(id)); ps.setLong(3, uid)
          ps.setString(4, "purchase"); ps.setString(5, s"""{"k":$k}""")
          ps.executeUpdate()
        }
      } finally c.close()
    }
    // OVERLAPPING id spaces — the shape the single-archive form cannot
    // express: m1 tops out at 4 while m2 reaches 9 with the same low ids
    mk("m1"); mk("m2")
    ins("m1", (1L, 1L, 1), (2L, 2L, 2), (3L, 1L, 3), (4L, 2L, 4))
    ins("m2", (1L, 1L, 10), (2L, 2L, 20), (3L, 1L, 30), (4L, 2L, 40),
      (5L, 1L, 50), (6L, 2L, 60), (7L, 1L, 70), (8L, 2L, 80), (9L, 1L, 90))

    val specs = Seq(CdcSource.JdbcSpec(url, "m1"), CdcSource.JdbcSpec(url, "m2"))
    def raw() = CdcCatalog.readAll(spark, specs, numPartitions = 2).as[TableRawChange]
    val chk = tmp("erase_ma_tws")
    val got = scala.collection.mutable.ArrayBuffer.empty[TableCdcEvent]
    def runBt(events: Dataset[TableCdcEvent]): Seq[TableCdcEvent] = {
      got.synchronized(got.clear())
      val q = events.writeStream
        .foreachBatch { (b: Dataset[TableCdcEvent], _: Long) =>
          val rows = b.collect(); got.synchronized { got ++= rows }; ()
        }
        .option("checkpointLocation", chk).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      got.synchronized(got.sortBy(e => (e.table, e.event_id)).toVector)
    }
    withRocks {
      runBt(CdcStream.withPrevStateByTableTws(raw()))
    }

    // one archive per table, ids overlapping across archives
    def arch(table: String, rows: Seq[(Long, Long, Int)]): String = {
      val d = tmp(s"erase_ma_$table")
      graft.sources.Layout.writeEventArchive(
        rows.map { case (id, uid, k) => (id, t(id), uid, "INSERT", s"""{"k":$k}""") }
          .toDF("event_id", "ts", "user_id", "op", "props"), d)
      d
    }
    val archives = Map(
      "m1" -> arch("m1", Seq((1L, 1L, 1), (2L, 2L, 2), (3L, 1L, 3), (4L, 2L, 4))),
      "m2" -> arch("m2", Seq((1L, 1L, 10), (2L, 2L, 20), (3L, 1L, 30), (4L, 2L, 40),
        (5L, 1L, 50), (6L, 2L, 60), (7L, 1L, 70), (8L, 2L, 80), (9L, 1L, 90))))

    var bounces = 0
    var lastErased: Map[(String, Long), Long] = Map.empty
    val stores = Seq(EraseEverywhere.TwsInPlacePerTable("pertable", chk, url, erased => {
      bounces += 1; lastErased = erased
      withRocks { runBt(CdcStream.withPrevStateByTableTws(raw(), erased.get)) }
    }))
    val (rep, moved) = EraseEverywhere.runMultiArchive(spark, archives, Seq(1L), stores)
    val r = reportMap(rep)
    assert(r("archive:m1") == (2L, 0L) && r("archive:m2") == (5L, 0L), s"got $r")
    assert(r("pertable") == (2L, 0L), s"got $r")
    // the published cutoffs are PER TABLE: m1's from its own archive (4),
    // m2's from its own (9) — a merged max (9) applied to m1 is exactly
    // the bug this form exists to prevent
    assert(lastErased == Map(("m1", 1L) -> 4L, ("m2", 1L) -> 9L), s"$lastErased")
    assert(StateMigration.readPrevImageStateByTableTws(spark, chk).collect().toMap ==
      Map(("m1", 2L) -> """{"k":4}""", ("m2", 2L) -> """{"k":80}"""))

    // receipted re-call FIRST (before any post-erasure data): (0,0)
    // everywhere, no new sentinels, no bounce
    def sentinelCount(table: String): Long = {
      val c = DriverManager.getConnection(url)
      try {
        val rs = c.createStatement().executeQuery(
          s"SELECT COUNT(*) FROM $table WHERE event_type = 'erase'")
        rs.next(); rs.getLong(1)
      } finally c.close()
    }
    assert(sentinelCount("m1") == 1L && sentinelCount("m2") == 1L)
    val (rep2, _) = EraseEverywhere.runMultiArchive(spark, archives, Seq(1L), moved)
    assert(reportMap(rep2).values.toSet == Set((0L, 0L)), s"${reportMap(rep2)}")
    assert(bounces == 1 && sentinelCount("m1") == 1L && sentinelCount("m2") == 1L)

    // future rows must FLOW in m1's low id space: id 6 is above m1's
    // cutoff (4) but below m2's (9) — a merged cutoff would drop it
    ins("m1", (6L, 1L, 100))
    val out = withRocks {
      runBt(CdcStream.withPrevStateByTableTws(raw(), lastErased.get))
    }
    val e6 = out.find(e => e.table == "m1" && e.event_id == 6L)
    assert(e6.isDefined,
      "the entity's future row in the low-id table was dropped — cross-table cutoff bleed")
    assert(e6.get.previous == null, "post-erasure first-sight must have no previous")
  }

  test("TwsOffline deep clean: the fresh-checkpoint rewrite erases historical file bytes the in-place path retains") {
    implicit val sqlCtx = spark.sqlContext
    // in-place clearing rewrites the LATEST version only; older RocksDB
    // snapshot files keep the payload until maintenance — TwsOffline moves
    // the store to a fresh checkpoint and decommissions every old file
    val chkA = tmp("erase_twsoff_a")
    val in = MemoryStream[RawChange]
    withRocks {
      val q1 = CdcStream.withPrevStateTws(in.toDS()).writeStream
        .format("memory").queryName("ee_twsoff_seed")
        .option("checkpointLocation", chkA).outputMode("append").start()
      try {
        in.addData(RawChange(1L, t(0), 1L, "signup", """{"k":1}"""),
          RawChange(2L, t(1), 2L, "signup", """{"k":2}"""))
        q1.processAllAvailable()
      } finally q1.stop()
    }
    val adir = tmp("erase_twsoff_archive")
    graft.sources.Layout.writeEventArchive(
      Seq((1L, t(0), 1L, "INSERT", """{"k":1}"""), (2L, t(1), 2L, "INSERT", """{"k":2}"""))
        .toDF("event_id", "ts", "user_id", "op", "props"), adir)

    var freshDir: String = null
    val (rep, moved) = EraseEverywhere.runDetailed(spark, adir, Seq(1L),
      Seq(EraseEverywhere.TwsOffline("twsoff", chkA, { filtered =>
        val fresh = tmp("erase_twsoff_b"); freshDir = fresh
        withRocks {
          val in2 = MemoryStream[RawChange]
          val q2 = CdcStream.withPrevStateTws(in2.toDS(), initial = Some(filtered)).writeStream
            .format("memory").queryName("ee_twsoff_resume")
            .option("checkpointLocation", fresh).outputMode("append").start()
          try {
            in2.addData(RawChange(50L, t(50), 2L, "purchase", """{"k":50}"""))
            q2.processAllAvailable()
          } finally q2.stop()
        }
        fresh
      })))
    assert(reportMap(rep)("twsoff") == (1L, 0L))
    assert(!exists(chkA),
      "every old checkpoint file (including historical state versions) must be gone")
    assert(moved.head.asInstanceOf[EraseEverywhere.TwsOffline].checkpointDir == freshDir)
    assert(StateMigration.readPrevImageStateTws(spark, freshDir).collect().toMap ==
      Map(2L -> """{"k":50}"""), "survivor state must chain on the fresh checkpoint")
  }

  test("receipt-ledger compaction dedupes to one file without dropping a fact; idempotence survives it") {
    implicit val sqlCtx = spark.sqlContext
    val adir = tmp("erase_ledger")
    graft.sources.Layout.writeEventArchive(
      Seq((1L, t(0), 1L, "INSERT", """{"k":1}"""), (2L, t(1), 2L, "INSERT", """{"k":2}"""),
        (3L, t(2), 3L, "INSERT", """{"k":3}"""))
        .toDF("event_id", "ts", "user_id", "op", "props"), adir)
    // two erasure calls on a store that starts clean: each verified call
    // appends its own receipt file
    var calls = 0
    def mkStore(chk: String) = ClassicOffline("led", chk, { filtered =>
      calls += 1
      val fresh = tmp("erase_ledger_b")
      val in2 = MemoryStream[RawChange]
      val q2 = CdcStream.withPrevState(in2.toDS(), initial = Some(filtered)).writeStream
        .format("memory").queryName(s"ee_ledger_resume_$calls")
        .option("checkpointLocation", fresh).outputMode("append").start()
      try {
        in2.addData(RawChange(90L + calls, t(90L + calls), 5L, "purchase", """{"k":9}"""))
        q2.processAllAvailable()
      } finally q2.stop()
      fresh
    })
    def seed(): String = {
      val chk = tmp("erase_ledger_a")
      val in = MemoryStream[RawChange]
      val q = CdcStream.withPrevState(in.toDS()).writeStream
        .format("memory").queryName(s"ee_ledger_seed_$calls")
        .option("checkpointLocation", chk).outputMode("append").start()
      try {
        in.addData(RawChange(80L, t(80), 5L, "signup", """{"k":8}"""))
        q.processAllAvailable()
      } finally q.stop()
      chk
    }
    val (_, m1) = EraseEverywhere.runDetailed(spark, adir, Seq(1L), Seq(mkStore(seed())))
    val (_, m2) = EraseEverywhere.runDetailed(spark, adir, Seq(2L, 3L),
      Seq(m1.head.asInstanceOf[ClassicOffline]))
    assert(calls == 2)
    val before = EraseEverywhere.receipts(spark, adir)
    assert(before == Set(("led", 1L), ("led", 2L), ("led", 3L)), s"$before")
    val files = java.nio.file.Files.list(
      java.nio.file.Paths.get(adir, "_erasure_receipts"))
    val nFilesBefore = try files.filter(p =>
      p.getFileName.toString.endsWith(".parquet")).count() finally files.close()
    assert(nFilesBefore >= 2, s"two calls should have appended two files: $nFilesBefore")

    assert(EraseEverywhere.compactReceipts(spark, adir) == 3L)
    assert(EraseEverywhere.receipts(spark, adir) == before,
      "compaction must never drop a receipt fact")
    val files2 = java.nio.file.Files.list(
      java.nio.file.Paths.get(adir, "_erasure_receipts"))
    val nFilesAfter = try files2.filter(p =>
      p.getFileName.toString.endsWith(".parquet")).count() finally files2.close()
    assert(nFilesAfter == 1, s"compaction must leave ONE data file: $nFilesAfter")

    // idempotence still keyed on the compacted ledger: a re-call for the
    // receipted users runs no recipe
    val (rep3, _) = EraseEverywhere.runDetailed(spark, adir, Seq(1L, 2L, 3L),
      Seq(m2.head.asInstanceOf[ClassicOffline]))
    assert(reportMap(rep3).values.toSet == Set((0L, 0L)))
    assert(calls == 2, "receipted users must not re-run after compaction")
  }

  test("an archive-PRESENT user's cutoff is floored and published durably: neither state nor archive can regain the pre-request rows") {
    val url = "jdbc:derby:memory:erase_floor2;create=true"
    createEvents(url)
    // the archive lags the live table: user 1's rows 1-2 are archived,
    // rows 3-4 are live-only (committed before the request, not yet
    // archived) — the recorded tombstone cutoff alone (pre-rewrite max 2)
    // would let BOTH resurrection paths open: a restart replay rebuilds
    // the prev-image state, and the daemon's next archived batch lands
    // rows 3-4 in the archive after the report said complete
    insert(url,
      (1L, t(0), 1L, "signup",   """{"k":1}"""),
      (2L, t(1), 1L, "purchase", """{"k":2}"""),
      (3L, t(2), 1L, "purchase", """{"k":3}"""),
      (4L, t(3), 1L, "purchase", """{"k":4}"""))
    val adir = tmp("erase_floor2_archive")
    graft.sources.Layout.writeEventArchive(
      Seq((1L, t(0), 1L, "INSERT", """{"k":1}"""), (2L, t(1), 1L, "UPDATE", """{"k":2}"""))
        .toDF("event_id", "ts", "user_id", "op", "props"), adir)

    val chkT = tmp("erase_floor2_tws")
    withRocks { runTws(CdcStream.withPrevStateTws(jdbcSrc(url)), chkT) }
    val rep = reportMap(EraseEverywhere.run(spark, adir, Seq(1L),
      Seq(TwsInPlace("twsf2", chkT, url, "events", erased => {
        withRocks { runTws(CdcStream.withPrevStateTws(jdbcSrc(url), erased), chkT) }
      }))))
    assert(rep("archive") == (2L, 0L) && rep("twsf2") == (1L, 0L), s"got $rep")
    // state side: the stamped cutoff is the LIVE max (4), not the
    // recorded archive cutoff (2)
    assert(erasedAtReceipts(chkT) == Map(1L -> 4L), s"${erasedAtReceipts(chkT)}")
    // archive side: the floor is DURABLE — the published tombstone raises
    // the effective cutoff, so the daemon archiving rows 3-4 (a batch
    // committed before the request) drops them instead of landing the
    // user's data after the completeness report
    assert(graft.streaming.StateErasure.erasureSet(spark, adir) == Map(1L -> 4L))
    assert(graft.sources.Layout.appendArchiveBatch(
      Seq((3L, t(2), 1L, "INSERT", """{"k":3}"""), (4L, t(3), 1L, "INSERT", """{"k":4}"""))
        .toDF("event_id", "ts", "user_id", "op", "props"), adir, 77L))
    val landed =
      try spark.read.parquet(adir).filter(col("user_id") === 1L).count()
      catch { case _: org.apache.spark.sql.AnalysisException => 0L }
    assert(landed == 0L,
      "the floored tombstone must drop the user's not-yet-archived pre-request rows")
  }

  test("a crash between the compaction renames cannot lose the ledger; a typo'd archive path is refused") {
    implicit val sqlCtx = spark.sqlContext
    val adir = tmp("erase_crash_ledger")
    graft.sources.Layout.writeEventArchive(
      Seq((1L, t(0), 1L, "INSERT", """{"k":1}"""))
        .toDF("event_id", "ts", "user_id", "op", "props"), adir)
    // a ledger with one fact
    val (_, _) = EraseEverywhere.runDetailed(spark, adir, Seq(1L), Seq.empty)
    // simulate the compaction crash window: the live ledger retired, the
    // compacted copy not yet renamed into place
    val chk0 = tmp("erase_crash_seed")
    val in = MemoryStream[RawChange]
    val q = CdcStream.withPrevState(in.toDS()).writeStream
      .format("memory").queryName("ee_crash_seed")
      .option("checkpointLocation", chk0).outputMode("append").start()
    try {
      in.addData(RawChange(1L, t(0), 1L, "signup", """{"k":1}"""))
      q.processAllAvailable()
    } finally q.stop()
    var n = 0
    val (_, _) = EraseEverywhere.runDetailed(spark, adir, Seq(1L),
      Seq(ClassicOffline("crashled", chk0, { filtered =>
        n += 1
        val fresh = tmp("erase_crash_b")
        val in2 = MemoryStream[RawChange]
        val q2 = CdcStream.withPrevState(in2.toDS(), initial = Some(filtered)).writeStream
          .format("memory").queryName(s"ee_crash_resume_$n")
          .option("checkpointLocation", fresh).outputMode("append").start()
        try {
          in2.addData(RawChange(50L, t(50), 9L, "purchase", """{"k":5}"""))
          q2.processAllAvailable()
        } finally q2.stop()
        fresh
      })))
    val before = EraseEverywhere.receipts(spark, adir)
    assert(before.contains(("crashled", 1L)))
    val live = java.nio.file.Paths.get(adir, "_erasure_receipts")
    val retired = java.nio.file.Paths.get(adir, "_erasure_receipts_retired")
    java.nio.file.Files.move(live, retired) // the crash window, simulated
    assert(EraseEverywhere.receipts(spark, adir) == before,
      "the recovery path must restore the retired ledger before reading")
    assert(java.nio.file.Files.exists(live) && !java.nio.file.Files.exists(retired))

    // and the other report-integrity guard: an absent archive path must
    // REFUSE, never read as already-erased
    val e = intercept[IllegalArgumentException] {
      EraseEverywhere.run(spark, s"$adir/no_such_dir", Seq(1L), Seq.empty)
    }
    assert(e.getMessage.contains("does not exist"), e.getMessage)
  }

  test("a crash after decommission but before the receipt is retried gracefully: the move journal forwards the stale config") {
    implicit val sqlCtx = spark.sqlContext
    val adir = tmp("erase_fwd_archive")
    graft.sources.Layout.writeEventArchive(
      Seq((1L, t(0), 1L, "INSERT", """{"k":1}"""), (2L, t(1), 2L, "INSERT", """{"k":2}"""))
        .toDF("event_id", "ts", "user_id", "op", "props"), adir)
    val chkA = tmp("erase_fwd_a")
    val in = MemoryStream[RawChange]
    val q = CdcStream.withPrevState(in.toDS()).writeStream
      .format("memory").queryName("ee_fwd_seed")
      .option("checkpointLocation", chkA).outputMode("append").start()
    try {
      in.addData(RawChange(1L, t(0), 1L, "signup", """{"k":1}"""),
        RawChange(2L, t(1), 2L, "signup", """{"k":2}"""))
      q.processAllAvailable()
    } finally q.stop()
    var n = 0
    def mk(chk: String) = ClassicOffline("fwd", chk, { filtered =>
      n += 1
      val fresh = tmp(s"erase_fwd_b$n")
      val in2 = MemoryStream[RawChange]
      val q2 = CdcStream.withPrevState(in2.toDS(), initial = Some(filtered)).writeStream
        .format("memory").queryName(s"ee_fwd_resume_$n")
        .option("checkpointLocation", fresh).outputMode("append").start()
      try {
        in2.addData(RawChange(60L + n, t(60L + n), 2L, "purchase", """{"k":6}"""))
        q2.processAllAvailable()
      } finally q2.stop()
      fresh
    })
    // simulate the crash: the recipe ran to completion (old checkpoint
    // decommissioned, move journaled) but the driver died before the
    // receipt write and before the moved handles reached the caller
    val store = mk(chkA)
    store.erase(spark, Map(1L -> 10L), adir)
    assert(!exists(chkA), "precondition: the old checkpoint is gone")
    assert(EraseEverywhere.receipts(spark, adir).isEmpty,
      "precondition: no receipt was recorded")

    // the retry presents the ORIGINAL config naming the deleted dir — the
    // move journal forwards it instead of crashing on the missing path
    val (rep, moved) = EraseEverywhere.runDetailed(spark, adir, Seq(1L), Seq(store))
    assert(reportMap(rep)("fwd") == (0L, 0L), s"${reportMap(rep)}")
    assert(EraseEverywhere.receipts(spark, adir).contains(("fwd", 1L)),
      "the retry must complete the interrupted call: receipt recorded")
    assert(StateMigration.readPrevImageState(spark,
      moved.head.asInstanceOf[ClassicOffline].checkpointDir).collect().toMap
      .get(2L).isDefined, "the survivor's state must be intact on the final checkpoint")
  }

  test("re-calls never ratchet an established cutoff past post-erasure data; a repeat request goes through revokeReceipts") {
    val url = "jdbc:derby:memory:erase_ratchet;create=true"
    createEvents(url)
    insert(url,
      (1L, t(0), 1L, "signup",   """{"k":1}"""),
      (2L, t(1), 2L, "signup",   """{"k":2}"""))
    val adir = tmp("erase_ratchet_archive")
    graft.sources.Layout.writeEventArchive(
      Seq((1L, t(0), 1L, "INSERT", """{"k":1}"""), (2L, t(1), 2L, "INSERT", """{"k":2}"""))
        .toDF("event_id", "ts", "user_id", "op", "props"), adir)
    val chkT = tmp("erase_ratchet_tws")
    withRocks { runTws(CdcStream.withPrevStateTws(jdbcSrc(url)), chkT) }
    def store = TwsInPlace("rat", chkT, url, "events", erased => {
      withRocks { runTws(CdcStream.withPrevStateTws(jdbcSrc(url), erased), chkT) }
    })
    val rep1 = reportMap(EraseEverywhere.run(spark, adir, Seq(1L), Seq(store)))
    assert(rep1("rat") == (1L, 0L))
    val cutoff1 = graft.streaming.StateErasure.erasureSet(spark, adir)(1L)

    // the user legitimately returns AFTER the completed erasure: new live
    // rows with higher ids (kept data)
    insert(url, (10L, t(10), 1L, "purchase", """{"k":10}"""))
    // a RE-CALL must not move the established point-in-time — re-flooring
    // at the current live max (10) would make the archive's append guard
    // silently drop the post-erasure rows
    val rep2 = reportMap(EraseEverywhere.run(spark, adir, Seq(1L), Seq(store)))
    assert(rep2.values.toSet == Set((0L, 0L)), s"$rep2")
    assert(graft.streaming.StateErasure.erasureSet(spark, adir)(1L) == cutoff1,
      "re-call ratcheted the cutoff past the user's post-erasure data")
    assert(graft.sources.Layout.appendArchiveBatch(
      Seq((10L, t(10), 1L, "INSERT", """{"k":10}"""))
        .toDF("event_id", "ts", "user_id", "op", "props"), adir, 50L))
    assert(spark.read.parquet(adir).filter(col("user_id") === 1L).count() == 1L,
      "the post-erasure row must flow into the archive")

    // a genuinely NEW request for the same user: revoke the receipts, the
    // next call re-establishes a fresh point-in-time... but the PRIOR
    // tombstone still pins the old cutoff, so the archive re-erase is the
    // locate pass (the new row found and removed) while the state recipe
    // re-runs off the cleared ledger
    assert(EraseEverywhere.revokeReceipts(spark, adir, Seq(1L)) == 1L)
    val rep3 = reportMap(EraseEverywhere.run(spark, adir, Seq(1L), Seq(store)))
    assert(rep3("archive") == (1L, 0L),
      s"repeat request must erase the user's new archive rows: $rep3")
    assert(rep3("rat")._2 == 0L)
    assert(EraseEverywhere.receipts(spark, adir).contains(("rat", 1L)),
      "the repeat request must be re-receipted")
  }

  test("grown request set: a completed user's post-erasure data survives the new user's erasure, scoped out of every census") {
    val url = "jdbc:derby:memory:erase_grown;create=true"
    createEvents(url)
    insert(url,
      (1L, t(0), 1L, "signup", """{"k":1}"""),
      (2L, t(1), 1L, "purchase", """{"k":2}"""),
      (3L, t(2), 2L, "signup", """{"k":3}"""))
    val adir = tmp("erase_grown_archive")
    graft.sources.Layout.writeEventArchive(
      Seq((1L, t(0), 1L, "INSERT", """{"k":1}"""), (2L, t(1), 1L, "UPDATE", """{"k":2}"""),
        (3L, t(2), 2L, "INSERT", """{"k":3}"""))
        .toDF("event_id", "ts", "user_id", "op", "props"), adir)
    val chk = tmp("erase_grown_tws")
    withRocks { runTws(CdcStream.withPrevStateTws(jdbcSrc(url)), chk) }
    def store = TwsInPlace("grown", chk, url, "events", erased => {
      withRocks { runTws(CdcStream.withPrevStateTws(jdbcSrc(url), erased), chk) }
    })
    assert(reportMap(EraseEverywhere.run(spark, adir, Seq(1L), Seq(store)))
      .values.forall(_._2 == 0L))
    val cutoff1 = graft.streaming.StateErasure.erasureSet(spark, adir)(1L)

    // user 1 legitimately returns: a new live row, processed into state by
    // the normal query AND archived by the daemon — all post-cutoff, kept
    insert(url, (10L, t(10), 1L, "purchase", """{"k":10}"""))
    withRocks { runTws(CdcStream.withPrevStateTws(jdbcSrc(url)), chk) }
    assert(graft.sources.Layout.appendArchiveBatch(
      Seq((10L, t(10), 1L, "INSERT", """{"k":10}"""))
        .toDF("event_id", "ts", "user_id", "op", "props"), adir, 60L))

    // a GROWN request {completed user 1, new user 2}: user 1 is out of
    // scope everywhere — the locate pass must not destroy their row 10,
    // their rebuilt state must neither be cleared nor counted, and their
    // pinned cutoff must not move; user 2 is erased and receipted
    val rep = reportMap(EraseEverywhere.run(spark, adir, Seq(1L, 2L), Seq(store)))
    assert(rep("archive") == (1L, 0L), s"only user 2's row is in scope: $rep")
    assert(rep("grown") == (1L, 0L), s"only user 2's state is in scope: $rep")
    assert(spark.read.parquet(adir)
      .filter(col("user_id") === 1L && col("event_id") === 10L).count() == 1L,
      "the completed user's post-erasure archive row must survive")
    assert(StateMigration.readPrevImageStateTws(spark, chk).collect().toMap
      .get(1L).contains("""{"k":10}"""),
      "the completed user's rebuilt state must survive the grown-set call")
    assert(graft.streaming.StateErasure.erasureSet(spark, adir)(1L) == cutoff1,
      "the pinned cutoff must not move")
    assert(EraseEverywhere.receipts(spark, adir).contains(("grown", 2L)),
      "the new user's verified erasure must be receipted despite the " +
        "completed user's legitimate state")
  }

  test("a crash between the archive rewrite and the floor publication stays OPEN: the retry still floors the cutoff") {
    val url = "jdbc:derby:memory:erase_crashwin;create=true"
    createEvents(url)
    insert(url,
      (1L, t(0), 1L, "signup",   """{"k":1}"""),
      (2L, t(1), 1L, "purchase", """{"k":2}"""),
      (3L, t(2), 1L, "purchase", """{"k":3}"""),
      (4L, t(3), 1L, "purchase", """{"k":4}"""))
    val adir = tmp("erase_crashwin_archive")
    graft.sources.Layout.writeEventArchive(
      Seq((1L, t(0), 1L, "INSERT", """{"k":1}"""), (2L, t(1), 1L, "UPDATE", """{"k":2}"""))
        .toDF("event_id", "ts", "user_id", "op", "props"), adir)
    val chk = tmp("erase_crashwin_tws")
    withRocks { runTws(CdcStream.withPrevStateTws(jdbcSrc(url)), chk) }

    // simulate the interrupted first call: the open marker and the archive
    // rewrite (tombstone at the pre-rewrite max, 2) are durable, the floor
    // publication is not — pre-fix, the tombstone alone mis-filed the user
    // as completed and the retry kept the unfloored cutoff forever
    EraseEverywhere.markOpen(spark, adir, Seq(1L))
    graft.sources.Layout.eraseEntities(spark, adir, Seq(1L))
    assert(graft.streaming.StateErasure.erasureSet(spark, adir)(1L) == 2L)

    val rep = reportMap(EraseEverywhere.run(spark, adir, Seq(1L),
      Seq(TwsInPlace("cw", chk, url, "events", erased => {
        withRocks { runTws(CdcStream.withPrevStateTws(jdbcSrc(url), erased), chk) }
      }))))
    assert(rep("cw") == (1L, 0L))
    assert(graft.streaming.StateErasure.erasureSet(spark, adir)(1L) == 4L,
      "the retry must re-floor the still-open request at the live max")
    assert(erasedAtReceipts(chk) == Map(1L -> 4L))
    assert(EraseEverywhere.openMarkers(spark, adir).isEmpty,
      "the completed retry must close the request")
  }

  test("revoke with LIVE-ONLY new data: the repeat request floors at the live max instead of livelocking") {
    val url = "jdbc:derby:memory:erase_revlive;create=true"
    createEvents(url)
    insert(url, (1L, t(0), 1L, "signup", """{"k":1}"""),
      (2L, t(1), 2L, "signup", """{"k":2}"""))
    val adir = tmp("erase_revlive_archive")
    graft.sources.Layout.writeEventArchive(
      Seq((1L, t(0), 1L, "INSERT", """{"k":1}"""), (2L, t(1), 2L, "INSERT", """{"k":2}"""))
        .toDF("event_id", "ts", "user_id", "op", "props"), adir)
    val chk = tmp("erase_revlive_tws")
    withRocks { runTws(CdcStream.withPrevStateTws(jdbcSrc(url)), chk) }
    def store = TwsInPlace("rvl", chk, url, "events", erased => {
      withRocks { runTws(CdcStream.withPrevStateTws(jdbcSrc(url), erased), chk) }
    })
    assert(reportMap(EraseEverywhere.run(spark, adir, Seq(1L), Seq(store)))
      .values.forall(_._2 == 0L))

    // the user returns with a row the daemon has NOT archived yet, and the
    // normal query rebuilds their state from it
    insert(url, (10L, t(10), 1L, "purchase", """{"k":10}"""))
    withRocks { runTws(CdcStream.withPrevStateTws(jdbcSrc(url)), chk) }
    assert(StateMigration.readPrevImageStateTws(spark, chk).collect().toMap
      .get(1L).contains("""{"k":10}"""))

    // second compliance request: with the old locate-only re-recording the
    // archive has nothing to locate, the stale cutoff (2) keeps row 10 in
    // state, and the request can never verify — the re-opened floor at the
    // live max (10) is what makes it terminate
    assert(EraseEverywhere.revokeReceipts(spark, adir, Seq(1L)) == 1L)
    val rep = reportMap(EraseEverywhere.run(spark, adir, Seq(1L), Seq(store)))
    assert(rep("rvl") == (1L, 0L), s"got $rep")
    assert(graft.streaming.StateErasure.erasureSet(spark, adir)(1L) == 10L,
      "the repeat request must establish its point-in-time at the live max")
    assert(!StateMigration.readPrevImageStateTws(spark, chk).collect().toMap
      .contains(1L))
    assert(EraseEverywhere.receipts(spark, adir).contains(("rvl", 1L)))
  }

  test("forwarding refuses when the journaled old checkpoint still exists (interrupted decommission or path reuse)") {
    implicit val sqlCtx = spark.sqlContext
    val adir = tmp("erase_fwdref_archive")
    graft.sources.Layout.writeEventArchive(
      Seq((1L, t(0), 1L, "INSERT", """{"k":1}"""))
        .toDF("event_id", "ts", "user_id", "op", "props"), adir)
    val chkA = tmp("erase_fwdref_a")
    val in = MemoryStream[RawChange]
    val q = CdcStream.withPrevState(in.toDS()).writeStream
      .format("memory").queryName("ee_fwdref_seed")
      .option("checkpointLocation", chkA).outputMode("append").start()
    try {
      in.addData(RawChange(1L, t(0), 1L, "signup", """{"k":1}"""))
      q.processAllAvailable()
    } finally q.stop()
    val store = ClassicOffline("fr", chkA, { filtered =>
      val fresh = tmp("erase_fwdref_b")
      val in2 = MemoryStream[RawChange]
      val q2 = CdcStream.withPrevState(in2.toDS(), initial = Some(filtered)).writeStream
        .format("memory").queryName("ee_fwdref_resume")
        .option("checkpointLocation", fresh).outputMode("append").start()
      try {
        in2.addData(RawChange(9L, t(9), 5L, "purchase", """{"k":9}"""))
        q2.processAllAvailable()
      } finally q2.stop()
      fresh
    })
    store.erase(spark, Map(1L -> 10L), adir) // journals chkA -> fresh, deletes chkA
    // the ambiguous state: a directory reappears at the journaled old path
    // (an interrupted decommission's leftover, or a rebuilt store reusing
    // the path) — auto-forwarding would skip real data, auto-deleting
    // would destroy it; the only safe move is a loud refusal
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(chkA))
    val e = intercept[IllegalArgumentException] {
      EraseEverywhere.run(spark, adir, Seq(1L), Seq(store))
    }
    assert(e.getMessage.contains("still exists on disk"), e.getMessage)
  }

  test("a newly-onboarded archive applies a STANDING request without re-opening the completed tables") {
    def arch(rows: Seq[(Long, Long, Int)]): String = {
      val d = tmp("erase_standing")
      graft.sources.Layout.writeEventArchive(
        rows.map { case (id, uid, k) => (id, t(id), uid, "INSERT", s"""{"k":$k}""") }
          .toDF("event_id", "ts", "user_id", "op", "props"), d)
      d
    }
    val n1 = arch(Seq((1L, 1L, 1), (2L, 2L, 2)))
    val (rep1, _) = EraseEverywhere.runMultiArchive(spark, Map("n1" -> n1),
      Seq(1L), Seq.empty)
    assert(reportMap(rep1)("archive:n1") == (1L, 0L))
    val cutoffN1 = graft.streaming.StateErasure.erasureSet(spark, n1)(1L)

    // the user legitimately returns in n1 (post-cutoff row archived by the
    // daemon), and a NEW table n2 — holding the user's rows — is onboarded
    assert(graft.sources.Layout.appendArchiveBatch(
      Seq((10L, t(10), 1L, "INSERT", """{"k":10}"""))
        .toDF("event_id", "ts", "user_id", "op", "props"), n1, 40L))
    val n2 = arch(Seq((3L, 1L, 30), (4L, 2L, 40)))

    // openness is PER (table, user): the standing request reaches n2 (no
    // tombstone there) while n1 stays pinned — a global open bit would
    // re-locate the user's legitimate row 10 in n1 and ratchet its cutoff
    val (rep2, _) = EraseEverywhere.runMultiArchive(spark,
      Map("n1" -> n1, "n2" -> n2), Seq(1L), Seq.empty,
      ledgerPath = Some(n1))
    val r2 = reportMap(rep2)
    assert(r2("archive:n1") == (0L, 0L), s"n1 must stay pinned: $r2")
    assert(r2("archive:n2") == (1L, 0L), s"n2 must apply the standing request: $r2")
    assert(spark.read.parquet(n1)
      .filter(col("user_id") === 1L && col("event_id") === 10L).count() == 1L,
      "the completed table's post-erasure row must survive")
    assert(graft.streaming.StateErasure.erasureSet(spark, n1)(1L) == cutoffN1,
      "n1's pinned cutoff must not move")
    assert(graft.streaming.StateErasure.erasureSet(spark, n2).contains(1L),
      "n2 must record the user's tombstone")
  }

  test("open markers survive a crash between the clear's renames and a torn append") {
    val adir = tmp("erase_marker_crash")
    graft.sources.Layout.writeEventArchive(
      Seq((1L, t(0), 9L, "INSERT", """{"k":1}"""))
        .toDF("event_id", "ts", "user_id", "op", "props"), adir)
    EraseEverywhere.markOpen(spark, adir, Seq(7L, 8L))
    assert(EraseEverywhere.openMarkers(spark, adir) == Set(7L, 8L))
    // the clear's crash window: live dir retired, rewrite not yet in place
    java.nio.file.Files.move(
      java.nio.file.Paths.get(adir, "_erasure_open"),
      java.nio.file.Paths.get(adir, "_erasure_open_retired"))
    assert(EraseEverywhere.openMarkers(spark, adir) == Set(7L, 8L),
      "recovery must restore the retired marker set (conservatively open)")
    // a torn append (dir with no readable data files) reads as empty, not
    // as a bricked archive
    val torn = tmp("erase_marker_torn")
    graft.sources.Layout.writeEventArchive(
      Seq((1L, t(0), 9L, "INSERT", """{"k":1}"""))
        .toDF("event_id", "ts", "user_id", "op", "props"), torn)
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(torn, "_erasure_open"))
    assert(EraseEverywhere.openMarkers(spark, torn).isEmpty)
  }

  test("erasing the whole archive reports zero instead of throwing on the emptied directory") {
    val adir = tmp("erase_empty_archive")
    graft.sources.Layout.writeEventArchive(
      Seq((1L, t(0), 1L, "INSERT", """{"k":1}"""), (2L, t(1), 3L, "INSERT", """{"k":2}"""))
        .toDF("event_id", "ts", "user_id", "op", "props"), adir)
    // every row belongs to an erased user and there are no null keys: the
    // rewrite deletes every day=/op= partition, leaving only _tombstones
    val rep = reportMap(EraseEverywhere.run(spark, adir, Seq(1L, 3L), Seq.empty))
    assert(rep == Map("archive" -> (2L, 0L)), s"got $rep")
    val rep2 = reportMap(EraseEverywhere.run(spark, adir, Seq(1L, 3L), Seq.empty))
    assert(rep2 == Map("archive" -> (0L, 0L)), s"got $rep2")
  }

  test("a user the archive never held gets a cutoff floored at the LIVE feed's max id, not the archive's") {
    val url = "jdbc:derby:memory:erase_floor;create=true"
    createEvents(url)
    // the live table runs AHEAD of the archive: user 1 exists only in the
    // not-yet-archived rows (ids 3-4, above the archive's max of 2)
    insert(url,
      (1L, t(0), 2L, "signup",   """{"k":1}"""),
      (2L, t(1), 2L, "purchase", """{"k":2}"""),
      (3L, t(2), 1L, "signup",   """{"k":3}"""),
      (4L, t(3), 1L, "purchase", """{"k":4}"""))
    val adir = tmp("erase_floor_archive")
    graft.sources.Layout.writeEventArchive(
      Seq((1L, t(0), 2L, "INSERT", """{"k":1}"""), (2L, t(1), 2L, "UPDATE", """{"k":2}"""))
        .toDF("event_id", "ts", "user_id", "op", "props"), adir)

    val chkT = tmp("erase_floor_tws")
    withRocks { runTws(CdcStream.withPrevStateTws(jdbcSrc(url)), chkT) }
    assert(StateMigration.readPrevImageStateTws(spark, chkT).collect().toMap ==
      Map(1L -> """{"k":4}""", 2L -> """{"k":2}"""))

    val rep = reportMap(EraseEverywhere.run(spark, adir, Seq(1L),
      Seq(TwsInPlace("twsf", chkT, url, "events", erased => {
        withRocks { runTws(CdcStream.withPrevStateTws(jdbcSrc(url), erased), chkT) }
      }))))
    assert(rep("archive") == (0L, 0L) && rep("twsf") == (1L, 0L), s"got $rep")
    // the stamped cutoff must be the LIVE max (4): an archive-max cutoff
    // (2) would let a restart replay of rows 3-4 rebuild the erased state
    assert(erasedAtReceipts(chkT) == Map(1L -> 4L),
      s"cutoff not floored at the live feed's max id: ${erasedAtReceipts(chkT)}")
    assert(StateMigration.readPrevImageStateTws(spark, chkT).collect().toMap ==
      Map(2L -> """{"k":2}"""))
  }

  test("a torn receipt-ledger or move-journal append reads as empty, not as a bricked archive") {
    val adir = tmp("erase_torn_ledger")
    graft.sources.Layout.writeEventArchive(
      Seq((1L, t(0), 1L, "INSERT", """{"k":1}"""), (2L, t(1), 2L, "INSERT", """{"k":2}"""))
        .toDF("event_id", "ts", "user_id", "op", "props"), adir)
    // a crashed recordReceipts append: the dir exists with no readable
    // data files — every later run/compact/revoke must survive it (the
    // safe direction: recipes merely re-run and re-verify)
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(adir, "_erasure_receipts"))
    assert(EraseEverywhere.receipts(spark, adir).isEmpty)
    assert(EraseEverywhere.receiptedOf(spark, adir, Seq(1L)).isEmpty)
    assert(EraseEverywhere.compactReceipts(spark, adir) == 0L)
    assert(EraseEverywhere.revokeReceipts(spark, adir, Seq(1L)) == 0L)
    val rep = reportMap(EraseEverywhere.run(spark, adir, Seq(1L), Seq.empty))
    assert(rep("archive") == (1L, 0L), s"got $rep")
    // same for a crashed recordMove: zero complete appends = zero moves,
    // so the configured dir forwards to itself
    val adir2 = tmp("erase_torn_moves")
    graft.sources.Layout.writeEventArchive(
      Seq((1L, t(0), 1L, "INSERT", """{"k":1}"""))
        .toDF("event_id", "ts", "user_id", "op", "props"), adir2)
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(adir2, "_erasure_moves"))
    assert(EraseEverywhere.forwardedDir(spark, adir2, "s", "/cfg/dir") == "/cfg/dir")
  }

  test("offline-only deployment: explicit liveFeeds probes floor the archive-absent cutoff at the live max") {
    implicit val sqlCtx = spark.sqlContext
    val url = "jdbc:derby:memory:erase_livefeeds;create=true"
    createEvents(url)
    // user 1 exists ONLY in not-yet-archived live rows (ids 3-4, above the
    // archive's max of 2); the only store is OFFLINE, so no store config
    // names the feed — without the explicit probe the floor would be the
    // archive max (2) and a restart replay of rows 3-4 could rebuild the
    // erased state
    insert(url,
      (1L, t(0), 2L, "signup",   """{"k":1}"""),
      (2L, t(1), 2L, "purchase", """{"k":2}"""),
      (3L, t(2), 1L, "signup",   """{"k":3}"""),
      (4L, t(3), 1L, "purchase", """{"k":4}"""))
    val adir = tmp("erase_livefeeds_archive")
    graft.sources.Layout.writeEventArchive(
      Seq((1L, t(0), 2L, "INSERT", """{"k":1}"""), (2L, t(1), 2L, "UPDATE", """{"k":2}"""))
        .toDF("event_id", "ts", "user_id", "op", "props"), adir)
    val chkA = tmp("erase_livefeeds_a")
    withRocks { runTws(CdcStream.withPrevStateTws(jdbcSrc(url)), chkA) }
    val (rep, _) = EraseEverywhere.runDetailed(spark, adir, Seq(1L),
      Seq(EraseEverywhere.TwsOffline("off", chkA, { filtered =>
        val fresh = tmp("erase_livefeeds_b")
        withRocks {
          val in2 = MemoryStream[RawChange]
          val q2 = CdcStream.withPrevStateTws(in2.toDS(), initial = Some(filtered)).writeStream
            .format("memory").queryName("ee_livefeeds_resume")
            .option("checkpointLocation", fresh).outputMode("append").start()
          try {
            in2.addData(RawChange(50L, t(50), 2L, "purchase", """{"k":50}"""))
            q2.processAllAvailable()
          } finally q2.stop()
        }
        fresh
      })),
      liveFeeds = Seq((url, "events")))
    assert(reportMap(rep)("off") == (1L, 0L))
    assert(graft.streaming.StateErasure.erasureSet(spark, adir)(1L) == 4L,
      "the explicit live-feed probe must floor the cutoff at the live max, " +
        s"not the archive max: ${graft.streaming.StateErasure.erasureSet(spark, adir)}")
  }

  test("receipts are attributed per user: one failed erasure must not block — or re-run — the verified users") {
    val url = "jdbc:derby:memory:erase_peruser;create=true"
    createEvents(url)
    insert(url,
      (1L, t(0), 1L, "signup", """{"k":1}"""),
      (2L, t(1), 2L, "signup", """{"k":2}"""),
      (3L, t(2), 3L, "signup", """{"k":3}"""))
    val adir = tmp("erase_peruser_archive")
    graft.sources.Layout.writeEventArchive(
      Seq((1L, t(0), 1L, "INSERT", """{"k":1}"""), (2L, t(1), 2L, "INSERT", """{"k":2}"""),
        (3L, t(2), 3L, "INSERT", """{"k":3}"""))
        .toDF("event_id", "ts", "user_id", "op", "props"), adir)
    val chk = tmp("erase_peruser_tws")
    withRocks { runTws(CdcStream.withPrevStateTws(jdbcSrc(url)), chk) }
    def sentinelsOf(user: Long): Long =
      countSql(url, s"SELECT COUNT(*) FROM events WHERE event_type = 'erase' AND user_id = $user")

    // first call: the bounce DROPS user 2 from its erasure set (a failed
    // erasure — config mishap, concurrent rebuild, whatever) while user 1
    // erases cleanly
    var broken = true
    def store = TwsInPlace("pu", chk, url, "events", erased => {
      val applied = if (broken) erased.view.filterKeys(_ != 2L).toMap else erased
      withRocks { runTws(CdcStream.withPrevStateTws(jdbcSrc(url), applied), chk) }
    })
    val rep1 = reportMap(EraseEverywhere.run(spark, adir, Seq(1L, 2L), Seq(store)))
    assert(rep1("pu") == (2L, 1L), s"user 2's state must survive the broken bounce: $rep1")
    assert(EraseEverywhere.receipts(spark, adir) == Set(("pu", 1L)),
      "the individually-verified user must be receipted despite the failed one")
    assert(sentinelsOf(1L) == 1L && sentinelsOf(2L) == 1L)

    // the retry (recipe fixed): only user 2's recipe re-runs — user 1 gets
    // no second sentinel and no second bounce-driven state touch
    broken = false
    val rep2 = reportMap(EraseEverywhere.run(spark, adir, Seq(1L, 2L), Seq(store)))
    assert(rep2("pu") == (1L, 0L), s"got $rep2")
    assert(sentinelsOf(1L) == 1L,
      "the already-verified user must not get a duplicate sentinel on retry")
    assert(sentinelsOf(2L) == 2L, "the failed user's recipe re-runs")
    assert(EraseEverywhere.receipts(spark, adir) == Set(("pu", 1L), ("pu", 2L)))
    assert(!StateMigration.readPrevImageStateTws(spark, chk).collect().toMap.contains(2L))
  }

  test("erasure preview: per-(store,user) dry census mirrors run's before-census and writes NOTHING") {
    val url = "jdbc:derby:memory:erase_preview;create=true"
    createEvents(url)
    insert(url,
      (1L, t(0), 1L, "signup",   """{"k":1}"""),
      (2L, t(1), 1L, "purchase", """{"k":2}"""),
      (3L, t(2), 2L, "signup",   """{"k":3}"""))
    val adir = tmp("erase_preview_archive")
    graft.sources.Layout.writeEventArchive(
      Seq((1L, t(0), 1L, "INSERT", """{"k":1}"""), (2L, t(1), 1L, "UPDATE", """{"k":2}"""),
        (3L, t(2), 2L, "INSERT", """{"k":3}"""))
        .toDF("event_id", "ts", "user_id", "op", "props"), adir)
    val chk = tmp("erase_preview_tws")
    withRocks { runTws(CdcStream.withPrevStateTws(jdbcSrc(url)), chk) }
    def store = TwsInPlace("pv", chk, url, "events", erased => {
      withRocks { runTws(CdcStream.withPrevStateTws(jdbcSrc(url), erased), chk) }
    })
    def previewMap(users: Seq[Long]): Map[(String, Long), Long] =
      EraseEverywhere.preview(spark, adir, users, Seq(store)).collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap

    val pv = previewMap(Seq(1L, 2L))
    assert(pv == Map(("archive", 1L) -> 2L, ("archive", 2L) -> 1L,
      ("pv", 1L) -> 1L, ("pv", 2L) -> 1L), s"got $pv")
    // NOTHING was written: no ledger, no markers, no tombstones, no
    // sentinels in the live table, state untouched
    for (d <- Seq("_tombstones", "_erasure_open", "_erasure_receipts"))
      assert(!exists(s"$adir/$d"), s"preview must not create $d")
    assert(countSql(url,
      "SELECT COUNT(*) FROM events WHERE event_type = 'erase'") == 0L,
      "preview must not insert sentinel rows")
    assert(StateMigration.readPrevImageStateTws(spark, chk).count() == 2L)

    // the preview IS run's before-census: per-store sums match exactly
    val rep = reportMap(EraseEverywhere.run(spark, adir, Seq(1L, 2L), Seq(store)))
    assert(rep("archive")._1 == 3L && rep("pv")._1 == 2L, s"got $rep")

    // post-run preview: completed + receipted users read zero — and STAY
    // zero after legitimate new data (above the pinned cutoff, rebuilt
    // state is out of the request's scope)
    insert(url, (10L, t(10), 1L, "purchase", """{"k":10}"""))
    withRocks { runTws(CdcStream.withPrevStateTws(jdbcSrc(url)), chk) }
    assert(graft.sources.Layout.appendArchiveBatch(
      Seq((10L, t(10), 1L, "INSERT", """{"k":10}"""))
        .toDF("event_id", "ts", "user_id", "op", "props"), adir, 70L))
    val pv2 = previewMap(Seq(1L, 2L))
    assert(pv2.values.forall(_ == 0L),
      s"completed users' post-erasure data must be out of scope: $pv2")
  }

  test("erasure preview states the novelty gate's no-attributable-state posture") {
    val adir = tmp("erase_preview_gate_archive")
    graft.sources.Layout.writeEventArchive(
      Seq((1L, t(0), 1L, "INSERT", """{"k":1}"""))
        .toDF("event_id", "ts", "user_id", "op", "props"), adir)
    val gate = EraseEverywhere.BloomGate("novelty_gate", tmp("gate_chk"))
    val pv = EraseEverywhere.preview(spark, adir, Seq(1L), Seq(gate)).collect()
    // the gate is PRESENT in the census — zero found, posture stated —
    // instead of silently absent from the store list
    val row = pv.find(_.getString(0) == "novelty_gate").get
    assert(row.getLong(2) == 0L)
    assert(row.getString(3).contains("no attributable state by construction"),
      s"gate posture not stated: ${row.getString(3)}")
    assert(pv.find(_.getString(0) == "archive").get.getString(3) == "attributable")
    // and the destructive call composes: the gate verifies zero by
    // construction and receives its receipt like any other store
    val rep = reportMap(EraseEverywhere.run(spark, adir, Seq(1L), Seq(gate)))
    assert(rep("novelty_gate") == (0L, 0L), s"got $rep")
  }

  test("Naming.bulk: one mapping call for the whole request, same attribution as per-user") {
    // the PqCodes store over the shared sf artifact — foundBy only, never
    // erase, so the fixture other suites serve from stays intact. The
    // census is NON-MUTATING now, so the artifact must be built up front
    // (foundBy counting zero standing copies would be correct, just empty).
    graft.ops.Similarity.ensurePqCodes(spark, sf)
    val byUser = Map(1L -> Set(5L, 6L), 2L -> Set(7L), 3L -> Set.empty[Long])
    var perUserCalls = 0
    var bulkCalls = 0
    val perUser = EraseEverywhere.PqCodes("codes", sf,
      vecsOf = { (us: Set[Long]) => perUserCalls += 1; us.flatMap(byUser) })
    val bulk = EraseEverywhere.PqCodes("codes", sf,
      vecsOf = EraseEverywhere.Naming.bulk { us =>
        bulkCalls += 1
        us.flatMap(u => byUser(u).map(_ -> u)).toMap
      })
    val req = Map(1L -> 10L, 2L -> 10L, 3L -> 10L)
    val a = perUser.foundBy(spark, req)
    val b = bulk.foundBy(spark, req)
    assert(a == b, s"bulk attribution diverged: per-user $a vs bulk $b")
    // census shape is structural, not absolute: user 1 named twice user 2's
    // vectors, so their counts keep that ratio over EVERY standing codes
    // artifact (another suite may have built the trained layout for `sf`,
    // doubling both counts — the census is per state row, per copy)
    assert(a.keySet == Set(1L, 2L), s"unexpected census users: $a")
    assert(a(1L) == 2L * a(2L) && a(2L) >= 1L, s"unexpected census: $a")
    assert(perUserCalls == 3, s"per-user shape must pay one call per user: $perUserCalls")
    assert(bulkCalls == 1, s"bulk shape must pay ONE call for the request: $bulkCalls")
    // a bulk mapping attributing to a user who didn't ask is refused loudly
    val stray = EraseEverywhere.Naming.bulk[Long](_ => Map(5L -> 42L))
    val e = intercept[IllegalArgumentException](stray.attribution(Set(1L)))
    assert(e.getMessage.contains("non-requesting"), e.getMessage)
    // memoized per request set: the census→erase double-invocation within
    // one store run pays ONE mapping round-trip, and a time-varying
    // deployment mapping cannot attribute differently between the two
    bulk.foundBy(spark, req)
    assert(bulkCalls == 1, s"repeat same-request census must reuse the memo: $bulkCalls")
    bulk.foundBy(spark, Map(1L -> 10L))
    assert(bulkCalls == 2, s"a different request set must re-invoke: $bulkCalls")
    // RUN boundary drops the memo: store configs are long-lived (erase
    // returns `this`), and a later run for the SAME users must re-consult
    // the deployment mapping — it may have grown since (a stale
    // attribution would silently under-erase the new artifacts). The
    // orchestrator fires beginRun on every store's namings at run entry.
    assert(bulk.namings.size == 1, "PqCodes must expose its naming for run-scoping")
    bulk.namings.foreach(_.beginRun())
    bulk.foundBy(spark, Map(1L -> 10L))
    assert(bulkCalls == 3, s"a new run must re-invoke the mapping: $bulkCalls")
  }

  test("preview over a PqCodes store is NON-MUTATING: no codes artifact is built by the census") {
    import graft.ops.Similarity
    // a corpus dir with NO standing codes artifact, in a deployment whose
    // erasure config names the PqCodes store: preview is documented
    // "nothing written", so the census must report zero without triggering
    // ensurePqCodes' corpus-wide encode (a durable content-derived copy
    // must never appear as a side effect of LOOKING)
    val dir = tmp("erase_pq_preview_corpus")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/embeddings.parquet"),
      java.nio.file.Paths.get(s"$dir/embeddings.parquet"))
    val adir = tmp("erase_pq_preview_archive")
    graft.sources.Layout.writeEventArchive(
      Seq((1L, t(0), 40L, "INSERT", """{"k":1}"""))
        .toDF("event_id", "ts", "user_id", "op", "props"), adir)
    val pv = EraseEverywhere.preview(spark, adir, Seq(40L),
      Seq(EraseEverywhere.PqCodes("codes", dir)))
    assert(pv.filter(col("store") === "codes").select(col("found"))
      .first().getLong(0) == 0L, "census of an artifact-less corpus must be 0")
    val whDb = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"),
      "graft_artifacts.db")
    Seq(false, true).foreach { trained =>
      val short = Similarity.codesShort(dir, trained)
      assert(!spark.catalog.tableExists(s"graft_artifacts.$short"),
        s"preview registered $short")
      assert(!java.nio.file.Files.exists(whDb.resolve(short)),
        s"preview wrote files for $short")
    }
  }

  test("PqCodes store through the orchestrator: one run reaches both standing artifacts, verified and receipted") {
    import graft.ops.Similarity
    // corpus dir with BOTH codes layouts standing (sampled + trained)
    val dir = java.nio.file.Files.createTempDirectory("erase_pq_both").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/embeddings.parquet"),
      java.nio.file.Paths.get(s"$dir/embeddings.parquet"))
    val sTbl = Similarity.ensurePqCodes(spark, dir)
    val tTbl = Similarity.ensurePqCodesTrained(spark, dir)
    val adir = tmp("erase_pq_both_archive")
    graft.sources.Layout.writeEventArchive(
      Seq((1L, t(0), 40L, "INSERT", """{"k":1}"""),
        (2L, t(1), 41L, "INSERT", """{"k":2}"""))
        .toDF("event_id", "ts", "user_id", "op", "props"), adir)
    // users 40/41 name their own vec ids (identity naming)
    val store = EraseEverywhere.PqCodes("codes", dir)
    val rep = reportMap(EraseEverywhere.run(spark, adir, Seq(40L, 41L), Seq(store)))
    // found = one row per user per STANDING COPY (2 artifacts), after = 0
    assert(rep("codes") == (4L, 0L), s"codes census: ${rep("codes")}")
    Seq(sTbl, tTbl).foreach { tbl =>
      assert(spark.table(tbl).filter(col("vec_id").isin(40L, 41L)).count() == 0L,
        s"victim codes survived in $tbl after the orchestrated erase")
    }
    // re-call: receipt-keyed structural no-op
    val rep2 = reportMap(EraseEverywhere.run(spark, adir, Seq(40L, 41L), Seq(store)))
    assert(rep2("codes") == (0L, 0L), s"re-call not a no-op: ${rep2("codes")}")
  }

  test("multi-archive preview: per-table scoping — a standing request shows only the unerased table, dry") {
    def arch(rows: Seq[(Long, Long, Int)]): String = {
      val d = tmp("erase_pvma")
      graft.sources.Layout.writeEventArchive(
        rows.map { case (id, uid, k) => (id, t(id), uid, "INSERT", s"""{"k":$k}""") }
          .toDF("event_id", "ts", "user_id", "op", "props"), d)
      d
    }
    val n1 = arch(Seq((1L, 1L, 1), (2L, 2L, 2)))
    val (rep1, _) = EraseEverywhere.runMultiArchive(spark, Map("n1" -> n1),
      Seq(1L), Seq.empty)
    assert(reportMap(rep1)("archive:n1") == (1L, 0L))
    // the user returns in n1 (post-cutoff, legitimate) and a NEW table n2
    // holding their rows is onboarded
    assert(graft.sources.Layout.appendArchiveBatch(
      Seq((10L, t(10), 1L, "INSERT", """{"k":10}"""))
        .toDF("event_id", "ts", "user_id", "op", "props"), n1, 40L))
    val n2 = arch(Seq((3L, 1L, 30), (4L, 2L, 40)))

    val pv = EraseEverywhere.previewMultiArchive(spark,
        Map("n1" -> n1, "n2" -> n2), Seq(1L), Seq.empty, ledgerPath = Some(n1))
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(pv == Map("archive:n1" -> 0L, "archive:n2" -> 1L),
      s"n1 pinned (post-erasure row out of scope), n2 standing: $pv")
    // dry: the preview must not have opened the request on n2
    assert(!exists(s"$n2/_tombstones") && !exists(s"$n2/_erasure_open"),
      "preview must not write to the new archive")
    // the destructive call then finds exactly what the preview promised
    val (rep2, _) = EraseEverywhere.runMultiArchive(spark,
      Map("n1" -> n1, "n2" -> n2), Seq(1L), Seq.empty, ledgerPath = Some(n1))
    val r2 = reportMap(rep2)
    assert(r2("archive:n1") == (0L, 0L) && r2("archive:n2") == (1L, 0L), s"$r2")
  }

  test("the ledger's rename-atomicity contract is enforced: object-store schemes are refused at every entry point") {
    val adir = tmp("erase_scheme_guard")
    graft.sources.Layout.writeEventArchive(
      Seq((1L, t(0), 1L, "INSERT", """{"k":1}"""))
        .toDF("event_id", "ts", "user_id", "op", "props"), adir)
    def refused(body: => Any): Unit = {
      val e = intercept[IllegalArgumentException](body)
      assert(e.getMessage.contains("rename-atomic"), e.getMessage)
    }
    refused(EraseEverywhere.run(spark, "s3a://bucket/archive", Seq(1L), Seq.empty))
    refused(EraseEverywhere.compactReceipts(spark, "gs://bucket/archive"))
    refused(EraseEverywhere.revokeReceipts(spark, adir, Seq(1L),
      alsoReopen = Seq("abfss://c@a.dfs.example/archive")))
    refused(EraseEverywhere.runMultiArchive(spark, Map("t1" -> adir), Seq(1L),
      Seq.empty, ledgerPath = Some("s3://bucket/ledger")))
    refused(EraseEverywhere.runMultiArchive(spark,
      Map("t1" -> "wasb://c@a.example/archive"), Seq(1L), Seq.empty))
    // a local path still passes (the happy path is exercised everywhere else)
    val rep = reportMap(EraseEverywhere.run(spark, adir, Seq(1L), Seq.empty))
    assert(rep("archive") == (1L, 0L))
  }
}
