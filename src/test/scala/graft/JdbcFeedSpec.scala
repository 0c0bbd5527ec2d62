package graft

import graft.streaming.{CdcCatalog, CdcSource, JdbcFeed}
import java.sql.{DriverManager, Timestamp}

/** Drives the production CDC shape — JDBC ChangeFeed + live catalog
  * discovery — against in-process Derby (in /opt/spark/jars, in-memory, zero
  * egress). Mirrors CdcSourceSpec's exactly-once contract over a real
  * database: ranged executor-side fetch, offset recovery across restart,
  * install-time table pruning.
  */
class JdbcFeedSpec extends SparkSuite {
  import spark.implicits._

  private def t(s: Long) = new Timestamp(1700000000000L + s * 1000)

  private def withDb(name: String)(f: String => Unit): Unit = {
    val url = s"jdbc:derby:memory:$name;create=true"
    val c = DriverManager.getConnection(url)
    c.close()
    f(url)
  }

  private def exec(url: String, sql: String): Unit = {
    val c = DriverManager.getConnection(url)
    try c.createStatement().execute(sql) finally c.close()
  }

  private def createEvents(url: String, table: String): Unit =
    exec(url, s"CREATE TABLE $table (event_id BIGINT PRIMARY KEY, ts TIMESTAMP, " +
      "user_id BIGINT, event_type VARCHAR(32), props VARCHAR(500))")

  private def insert(url: String, table: String,
                     rows: (Long, Timestamp, Long, String, String)*): Unit = {
    val c = DriverManager.getConnection(url)
    try {
      val ps = c.prepareStatement(s"INSERT INTO $table VALUES (?, ?, ?, ?, ?)")
      rows.foreach { case (id, ts, uid, typ, props) =>
        ps.setLong(1, id); ps.setTimestamp(2, ts); ps.setLong(3, uid)
        ps.setString(4, typ); ps.setString(5, props)
        ps.executeUpdate()
      }
    } finally c.close()
  }

  test("jdbc feed: ranged fetch semantics (exclusive/inclusive bounds)") {
    withDb("bounds") { url =>
      createEvents(url, "events")
      insert(url, "events",
        (1L, t(0), 1L, "signup", """{"k":1}"""),
        (2L, t(1), 2L, "purchase", """{"k":2}"""),
        (3L, t(2), 3L, "view", """{"k":3}"""))
      val feed = new JdbcFeed(url, "events")
      assert(feed.latestId() == 3L)
      assert(feed.fetch(1L, 3L).map(_.event_id) == Seq(2L, 3L))
      assert(feed.fetch(3L, 3L).isEmpty)
      val r = feed.fetch(0L, 1L).head
      assert(r.event_type == "signup" && r.props == """{"k":1}""" && r.ts == t(0))
    }
  }

  test("jdbc feed drives the DSv2 source: restart resumes after the committed offset") {
    withDb("restart") { url =>
      createEvents(url, "events")
      val ckpt = java.nio.file.Files.createTempDirectory("jdbc_ckpt").toString
      val out = java.nio.file.Files.createTempDirectory("jdbc_out").toString
      def start() = spark.readStream.format("graft.streaming.CdcSourceProvider")
        .option("jdbcUrl", url).option("jdbcTable", "events")
        .option("numPartitions", "3").load()
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt).outputMode("append").start()

      val q1 = start()
      try {
        insert(url, "events",
          (1L, t(0), 1L, "signup", """{"k":1}"""),
          (2L, t(1), 1L, "purchase", """{"k":2}"""))
        q1.processAllAvailable()
        assert(spark.read.parquet(out).count() == 2)
      } finally q1.stop()

      // rows committed while the query is DOWN are delivered exactly once on
      // restart (the reference drops its reconnect window — SURVEY §1.3)
      insert(url, "events", (3L, t(2), 1L, "view", """{"k":3}"""))
      val q2 = start()
      try {
        q2.processAllAvailable()
        val ids = spark.read.parquet(out).orderBy("event_id").collect().map(_.getLong(0)).toSeq
        assert(ids == Seq(1L, 2L, 3L), s"expected exactly-once delivery across restart, got $ids")
      } finally q2.stop()
    }
  }

  test("catalog discovery prunes by unanchored regexp at install time") {
    withDb("catalog") { url =>
      createEvents(url, "notes")
      createEvents(url, "users")
      createEvents(url, "audit_log")
      // Derby folds unquoted identifiers to upper case; match case-insensitively
      // like the reference's typical usage (regexp over lowercase pg names)
      // names come back schema-qualified: a bare name would resolve through
      // the connection's search path, risking capture of the wrong table
      val found = CdcCatalog.discoverTables(url, "APP", "(?i)note|user")
      assert(found == Seq("APP.NOTES", "APP.USERS"), s"got $found")
      // install-time pruning: only matching tables get feeds at all
      val specs = CdcCatalog.install(url, "APP", "(?i)note|user")
      assert(specs.map(_.table) == Seq("APP.NOTES", "APP.USERS"))
      // zero matches errors exactly like the reference (server.go:143-145)
      intercept[IllegalArgumentException] {
        CdcCatalog.install(url, "APP", "nomatch_xyz")
      }
      // the pruned table never produces events: poll the two installed feeds
      insert(url, "notes", (1L, t(0), 1L, "insert", """{"k":1}"""))
      insert(url, "audit_log", (99L, t(0), 1L, "insert", """{"k":99}"""))
      val polled = specs.map(CdcSource.resolve).flatMap(_.fetch(-1L, Long.MaxValue))
      assert(polled.map(_.event_id) == Seq(1L), "pruned table leaked events")
    }
  }

  test("multi-table capture: discover -> per-table feeds -> one stream with table envelope") {
    withDb("daemon") { url =>
      createEvents(url, "notes")
      createEvents(url, "users")
      createEvents(url, "audit_log")
      insert(url, "notes", (1L, t(0), 1L, "insert", """{"k":1}"""))
      insert(url, "users", (1L, t(0), 2L, "insert", """{"k":2}"""))
      insert(url, "audit_log", (1L, t(0), 3L, "insert", """{"k":3}"""))
      val specs = CdcCatalog.install(url, "APP", "(?i)note|user")
      val q = CdcCatalog.readAll(spark, specs)
        .writeStream.format("memory").queryName("daemon_out").outputMode("append").start()
      try {
        q.processAllAvailable()
        val rows = spark.table("daemon_out")
          .orderBy("table").collect()
          .map(r => (r.getAs[String]("table"), r.getAs[Long]("user_id"))).toSeq
        // audit_log was pruned at install time: never captured
        assert(rows == Seq(("APP.NOTES", 1L), ("APP.USERS", 2L)), s"got $rows")

        // per-table offsets advance independently within the one query
        insert(url, "users", (2L, t(1), 4L, "update", """{"k":4}"""))
        q.processAllAvailable()
        assert(spark.table("daemon_out").count() == 3)
      } finally q.stop()
    }
  }

  test("daemon end-to-end: catalog -> multi-table capture -> PER-TABLE prev-image state") {
    import graft.streaming.CdcStream
    withDb("daemon2") { url =>
      createEvents(url, "accounts")
      createEvents(url, "orders")
      val specs = CdcCatalog.install(url, "APP", "(?i)account|order")
      val raw = CdcCatalog.readAll(spark, specs).as[CdcStream.TableRawChange]
      val q = CdcStream.withPrevStateByTable(raw)
        .writeStream.format("memory").queryName("daemon_e2e").outputMode("append").start()
      try {
        // the SAME user_id lives in both tables: previous images must come
        // from the same table only (reference OLD is per-table trigger state)
        insert(url, "accounts", (1L, t(0), 7L, "signup", """{"k":1}"""))
        insert(url, "orders", (1L, t(0), 7L, "signup", """{"k":100}"""))
        q.processAllAvailable()
        insert(url, "accounts", (2L, t(1), 7L, "purchase", """{"k":2}"""))
        insert(url, "orders", (2L, t(1), 7L, "purchase", """{"k":200}"""))
        q.processAllAvailable()
        val rows = spark.table("daemon_e2e").orderBy("table", "event_id").collect()
        def of(tbl: String) = rows.filter(_.getAs[String]("table") == tbl)
        val acc = of("APP.ACCOUNTS")
        val ord = of("APP.ORDERS")
        assert(acc.length == 2 && ord.length == 2)
        assert(acc(1).getAs[String]("previous") == """{"k":1}""")
        assert(acc(1).getAs[String]("changes") == """{"k":1}""", "accounts changes must hold the ACCOUNTS pre-update value")
        assert(ord(1).getAs[String]("previous") == """{"k":100}""")
        assert(ord(1).getAs[String]("changes") == """{"k":100}""", "orders prev-image must not bleed from accounts")
      } finally q.stop()
    }
  }

  test("jdbc sink: replayed micro-batches upsert instead of duplicate (exactly-once end to end)") {
    import graft.streaming.{CdcSink, CdcSource}
    import graft.streaming.CdcStream.RawChange
    withDb("sinkdb") { url =>
      createEvents(url, "delivered")
      val feed = CdcSource.FeedRegistry.get("sink_feed")
      val ckpt = java.nio.file.Files.createTempDirectory("sink_ckpt").toString
      val stream = spark.readStream.format("graft.streaming.CdcSourceProvider")
        .option("feed", "sink_feed").load()
      val q = CdcSink.deliver(stream, url, "delivered", ckpt)
      try {
        feed.append(
          RawChange(1, t(0), 1, "signup", """{"k":1}"""),
          RawChange(2, t(1), 2, "purchase", """{"k":2}"""))
        q.processAllAvailable()
      } finally q.stop()

      def delivered(): Seq[(Long, String)] = {
        val c = DriverManager.getConnection(url)
        try {
          val rs = c.createStatement()
            .executeQuery("SELECT event_id, props FROM delivered ORDER BY event_id")
          val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
          while (rs.next()) buf += ((rs.getLong(1), rs.getString(2)))
          buf.toSeq
        } finally c.close()
      }
      assert(delivered() == Seq((1L, """{"k":1}"""), (2L, """{"k":2}""")))

      // failure-recovery replay: redeliver event 2 (with the post-recovery
      // value) plus new event 3 — must overwrite, never duplicate
      // the replay batch carries an IN-BATCH duplicate of event 2 — the sink
      // must dedup by key before writing (two copies would double-insert and
      // violate the PK, permanently poisoning the retry loop)
      val replay = Seq(
        (2L, t(1), 2L, "purchase", """{"k":22}"""),
        (2L, t(1), 2L, "purchase", """{"k":22}"""),
        (3L, t(2), 3L, "view", """{"k":3}"""))
        .toDF("event_id", "ts", "user_id", "event_type", "props")
      CdcSink.upsertBatch(url, "delivered")(replay, 1L)
      CdcSink.upsertBatch(url, "delivered")(replay, 1L) // replay the replay
      assert(delivered() ==
        Seq((1L, """{"k":1}"""), (2L, """{"k":22}"""), (3L, """{"k":3}""")))
    }
  }

  test("new-table re-discovery: a table created mid-stream is captured without restart") {
    import graft.streaming.CdcDaemon
    withDb("rediscover") { url =>
      createEvents(url, "notes")
      def sinkName(table: String) = "redisc_" + table.replace(".", "_").toLowerCase
      val daemon = new CdcDaemon(url, "APP", "(?i)note|user", (table, spec) =>
        CdcCatalog.readAll(spark, Seq(spec))
          .writeStream.format("memory").queryName(sinkName(table))
          .outputMode("append").start())
      try {
        assert(daemon.rescan() == Seq("APP.NOTES"))
        insert(url, "notes", (1L, t(0), 1L, "insert", """{"k":1}"""))
        daemon.queries.foreach(_.processAllAvailable())
        assert(spark.table(sinkName("APP.NOTES")).count() == 1)
        val notesRunId = daemon.queries.head.runId

        // the reference's server.go:133 TODO: a table created AFTER install.
        // The next poll attaches it — no restart, no touch of the notes query.
        createEvents(url, "users")
        assert(daemon.rescan() == Seq("APP.USERS"), "mid-stream table must be discovered")
        insert(url, "users", (1L, t(1), 2L, "insert", """{"k":2}"""))
        insert(url, "notes", (2L, t(2), 1L, "update", """{"k":3}"""))
        daemon.queries.foreach(_.processAllAvailable())
        assert(spark.table(sinkName("APP.USERS")).count() == 1, "new table's rows must be captured")
        assert(spark.table(sinkName("APP.NOTES")).count() == 2, "established capture keeps flowing")
        assert(daemon.queries.head.runId == notesRunId, "attaching a new table must not restart existing capture")

        // steady state: unchanged catalog attaches nothing
        assert(daemon.rescan().isEmpty)
        assert(daemon.tables == Seq("APP.NOTES", "APP.USERS"))

        // the timer path drives the same rescan: a third table appears with
        // no explicit rescan() call and is picked up by the poll cadence
        daemon.start(pollIntervalMs = 100L)
        exec(url, "CREATE TABLE user_audit (event_id BIGINT PRIMARY KEY, ts TIMESTAMP, " +
          "user_id BIGINT, event_type VARCHAR(32), props VARCHAR(500))")
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        while (!daemon.tables.contains("APP.USER_AUDIT") && System.nanoTime() < deadline)
          Thread.sleep(50)
        assert(daemon.tables.contains("APP.USER_AUDIT"), "poll cadence must attach the new table")
      } finally daemon.stop()
    }
  }

  test("daemon: failed polls are counted, and polling goes on until the catalog answers") {
    import graft.streaming.CdcDaemon
    // no `create=true`: every catalog call fails until the database exists
    val url = "jdbc:derby:memory:daemon_polls"
    val daemon = new CdcDaemon(url, "APP", "(?i)^polled", (table, spec) =>
      CdcCatalog.readAll(spark, Seq(spec))
        .writeStream.format("memory").queryName("daemon_polls_" + table.replace(".", "_").toLowerCase)
        .outputMode("append").start())
    try {
      assert(daemon.pollFailures == 0L && daemon.lastPollError.isEmpty)
      daemon.start(pollIntervalMs = 50L)
      def await(cond: => Boolean, what: String): Unit = {
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        while (!cond && System.nanoTime() < deadline) Thread.sleep(20)
        assert(cond, what)
      }
      await(daemon.pollFailures >= 1L, "a failed poll must be counted")
      val seen = daemon.pollFailures
      await(daemon.pollFailures > seen, "the daemon must keep polling after a failure")
      assert(daemon.lastPollError.exists(_.contains("SQLException")),
        s"last error not kept: ${daemon.lastPollError}")
      // the catalog comes up: the next poll attaches, and counting stops
      exec("jdbc:derby:memory:daemon_polls;create=true",
        "CREATE TABLE polled (event_id BIGINT PRIMARY KEY, ts TIMESTAMP, " +
          "user_id BIGINT, event_type VARCHAR(32), props VARCHAR(500))")
      await(daemon.tables == Seq("APP.POLLED"), "a poll after the failures must attach the table")
      val settled = daemon.pollFailures
      Thread.sleep(300)
      assert(daemon.pollFailures == settled, "successful polls must not count as failures")
    } finally daemon.stop()
  }

  test("reader close: a failing rollback is counted, the connection still closes, fatal errors propagate") {
    // a Connection whose rollback throws `failure` and whose close is recorded
    def conn(failure: Throwable, closed: java.util.concurrent.atomic.AtomicBoolean) =
      java.lang.reflect.Proxy.newProxyInstance(getClass.getClassLoader,
        Array(classOf[java.sql.Connection]),
        (_: Any, m: java.lang.reflect.Method, _: Array[AnyRef]) => m.getName match {
          case "rollback" => throw failure
          case "close" => closed.set(true); null
          case other => throw new UnsupportedOperationException(other)
        }).asInstanceOf[java.sql.Connection]
    val closed = new java.util.concurrent.atomic.AtomicBoolean()
    val before = JdbcFeed.suppressedCloseFailures
    JdbcFeed.rollbackAndClose(conn(new java.sql.SQLException("rollback refused"), closed))
    assert(closed.get, "the connection must close after a failed rollback")
    assert(JdbcFeed.suppressedCloseFailures == before + 1, "the failed rollback must be counted")
    val fatal = intercept[LinkageError] {
      JdbcFeed.rollbackAndClose(conn(new LinkageError("fatal"), new java.util.concurrent.atomic.AtomicBoolean()))
    }
    assert(fatal.getMessage == "fatal")
    assert(JdbcFeed.suppressedCloseFailures == before + 1, "a fatal error is not suppressed")
  }

  test("generic daemon: a table of ANY shape created mid-stream is captured without restart") {
    import graft.streaming.CdcDaemon
    withDb("genredisc") { url =>
      exec(url, "CREATE TABLE g_orders (seq BIGINT PRIMARY KEY, " +
        "order_ref VARCHAR(24), total DECIMAL(8,2))")
      exec(url, "INSERT INTO g_orders VALUES (1, 'ord-1', 12.50)")
      def sinkName(table: String) = "genred_" + table.replace(".", "_").toLowerCase
      val daemon = CdcDaemon.generic(url, "APP", "(?i)^g_", idColumn = "seq",
        (table, spec) => CdcCatalog.readAll(spark, Seq(spec))
          .writeStream.format("memory").queryName(sinkName(table))
          .outputMode("append").start())
      try {
        assert(daemon.rescan() == Seq("APP.G_ORDERS"))
        daemon.queries.foreach(_.processAllAvailable())
        assert(spark.table(sinkName("APP.G_ORDERS")).count() == 1)

        // the zero-config story: a producer starts writing a BRAND-NEW
        // table with a shape the engine has never seen — the next poll
        // attaches generic capture, payload folded, no restart anywhere
        exec(url, "CREATE TABLE g_sensors (seq BIGINT PRIMARY KEY, " +
          "device VARCHAR(16), reading DOUBLE, ok BOOLEAN)")
        exec(url, "INSERT INTO g_sensors VALUES (1, 'dev-a', 21.75, true)")
        assert(daemon.rescan() == Seq("APP.G_SENSORS"))
        daemon.queries.foreach(_.processAllAvailable())
        val got = spark.table(sinkName("APP.G_SENSORS"))
          .select("payload").as[String].collect()
        assert(got.length == 1)
        assert(got(0).contains("\"device\":\"dev-a\"") &&
          got(0).contains("\"reading\":21.75") && got(0).contains("\"ok\":true"),
          s"generic payload wrong: ${got(0)}")
        // and the established capture kept flowing untouched
        exec(url, "INSERT INTO g_orders VALUES (2, 'ord-2', 8.25)")
        daemon.queries.foreach(_.processAllAvailable())
        assert(spark.table(sinkName("APP.G_ORDERS")).count() == 2)
      } finally daemon.stop()
    }
  }

  test("rescanWindow closes the commit-order visibility race: late lower id delivered exactly once") {
    import graft.streaming.CdcStream
    import graft.streaming.CdcStream.RawChange
    withDb("latecommit") { url =>
      createEvents(url, "events")
      // Derby is a locking engine (readers BLOCK on uncommitted rows), so the
      // MVCC race can't be staged with a literally-open transaction here.
      // From the poller's viewpoint the race is purely a visibility order:
      // id 3 becomes visible only AFTER the offset advanced past id 4 —
      // which is exactly the database-state sequence this test drives.
      val ckpt = java.nio.file.Files.createTempDirectory("late_ckpt").toString
      def start(name: String, rescan: Long, ckptDir: String) = {
        val raw = spark.readStream.format("graft.streaming.CdcSourceProvider")
          .option("jdbcUrl", url).option("jdbcTable", "events")
          .option("numPartitions", "3")
          .option("rescanWindow", rescan.toString).load()
          .as[RawChange]
        // rescan redelivers the trailing window -> dedupeReplays restores
        // exactly-once (watermark delay >= the commit-visibility lag)
        CdcStream.dedupeReplays(raw)
          .writeStream.format("memory").queryName(name)
          .option("checkpointLocation", ckptDir).outputMode("append").start()
      }
      def ids(name: String): Seq[Long] =
        spark.table(name).orderBy("event_id").collect().map(_.getLong(0)).toSeq

      val q = start("late_out", rescan = 4L, ckpt)
      try {
        // ids 1,2,4 are visible; the transaction holding id 3 has not
        // committed yet when the poller advances the offset to 4
        insert(url, "events",
          (1L, t(0), 1L, "signup", """{"k":1}"""),
          (2L, t(1), 2L, "purchase", """{"k":2}"""),
          (4L, t(3), 4L, "view", """{"k":4}"""))
        q.processAllAvailable()
        assert(ids("late_out") == Seq(1L, 2L, 4L))
        // the straggler commits AFTER the offset polled past it; a plain
        // (lastOffset, latest] scan would never see it again
        insert(url, "events", (3L, t(2), 3L, "update", """{"k":3}"""))
        insert(url, "events", (5L, t(4), 5L, "view", """{"k":5}"""))
        q.processAllAvailable()
        assert(ids("late_out") == Seq(1L, 2L, 3L, 4L, 5L),
          s"late-committed id 3 must be rescanned, ids 1/2/4 must not duplicate; got ${ids("late_out")}")
      } finally q.stop()

      // contrast: rescanWindow=0 (the r2 behavior) silently loses the row —
      // the documented failure this feature exists to close
      exec(url, "DELETE FROM events")
      val ckpt0 = java.nio.file.Files.createTempDirectory("late_ckpt0").toString
      val q0 = start("late_out0", rescan = 0L, ckpt0)
      try {
        insert(url, "events",
          (1L, t(0), 1L, "signup", """{"k":1}"""),
          (2L, t(1), 2L, "purchase", """{"k":2}"""),
          (4L, t(3), 4L, "view", """{"k":4}"""))
        q0.processAllAvailable()
        insert(url, "events", (3L, t(2), 3L, "update", """{"k":3}"""))
        insert(url, "events", (5L, t(4), 5L, "view", """{"k":5}"""))
        q0.processAllAvailable()
        assert(ids("late_out0") == Seq(1L, 2L, 4L, 5L),
          "without rescan the late row is (by design of the race) lost")
      } finally q0.stop()
    }
  }

  test("bootstrap: partitioned snapshot + tail from the cutoff, no seam, no overlap dup") {
    withDb("bootstrap_db") { url =>
      import spark.implicits._
      createEvents(url, "events")
      insert(url, "events", (1L to 50L).map(i =>
        (i, t(i), i % 7, "click", s"""{"k":$i}""")): _*)
      val (snapshot, tail) = graft.Graft.bootstrap(spark, url, "events",
        numPartitions = 3)
      // the backfill half: all 50 historic rows, via a PARTITIONED scan
      assert(snapshot.rdd.getNumPartitions == 3, "snapshot not range-partitioned")
      assert(snapshot.select("event_id").as[Long].collect().sorted.toSeq ==
        (1L to 50L), "snapshot missed history")
      // the tail half: only rows AFTER the cutoff, streamed
      val q = tail.writeStream.format("memory").queryName("bootstrap_tail")
        .outputMode("append").start()
      try {
        insert(url, "events", (51L to 60L).map(i =>
          (i, t(i), i % 7, "view", s"""{"k":$i}""")): _*)
        q.processAllAvailable()
        val got = spark.table("bootstrap_tail").select("event_id").as[Long]
          .collect().sorted.toSeq
        assert(got == (51L to 60L), s"tail seam broken: $got")
      } finally q.stop()
      // overlap mode: the boundary window is REdelivered (at-least-once
      // there by design — the multi-writer visibility hedge)
      val (_, tailOv) = graft.Graft.bootstrap(spark, url, "events", overlap = 5L)
      val q2 = tailOv.writeStream.format("memory").queryName("bootstrap_tail_ov")
        .outputMode("append").start()
      try {
        q2.processAllAvailable()
        val got = spark.table("bootstrap_tail_ov").select("event_id").as[Long]
          .collect().sorted.toSeq
        assert(got == (56L to 60L), s"overlap window wrong: $got")
      } finally q2.stop()
    }
  }

  test("bootstrapAll: per-table cutoffs on skewed id spaces, no seam on either table") {
    withDb("bootstrap_all_db") { url =>
      import spark.implicits._
      // deliberately skewed id spaces — the shape a shared cutoff corrupts
      createEvents(url, "t_small")
      createEvents(url, "t_big")
      insert(url, "t_small", (1L to 10L).map(i =>
        (i, t(i), i % 3, "click", s"""{"k":$i}""")): _*)
      insert(url, "t_big", (1L to 400L).map(i =>
        (i, t(i), i % 7, "view", s"""{"k":$i}""")): _*)
      val specs = Seq(CdcSource.JdbcSpec(url, "t_small"), CdcSource.JdbcSpec(url, "t_big"))
      val (snapshot, tail) = CdcCatalog.bootstrapAll(spark, specs, numPartitions = 2)
      // both histories, tagged with their table
      val snapCounts = snapshot.groupBy("table").count()
        .as[(String, Long)].collect().toMap
      assert(snapCounts == Map("t_small" -> 10L, "t_big" -> 400L), s"$snapCounts")
      // the tail starts after EACH table's own cutoff
      val q = tail.writeStream.format("memory").queryName("bootstrap_all_tail")
        .outputMode("append").start()
      try {
        insert(url, "t_small", (11L to 13L).map(i =>
          (i, t(i), i % 3, "click", s"""{"k":$i}""")): _*)
        insert(url, "t_big", (401L to 405L).map(i =>
          (i, t(i), i % 7, "view", s"""{"k":$i}""")): _*)
        q.processAllAvailable()
        val got = spark.table("bootstrap_all_tail")
          .select("table", "event_id").as[(String, Long)].collect().toSet
        val want = (11L to 13L).map(("t_small", _)).toSet ++
          (401L to 405L).map(("t_big", _)).toSet
        assert(got == want,
          s"seam broken: missing ${want -- got}, phantom/redelivered ${got -- want}")
      } finally q.stop()
    }
  }

  test("unsafe table identifiers are rejected (reference Sprintf injection surface, not copied)") {
    intercept[IllegalArgumentException] { new JdbcFeed("jdbc:derby:memory:x", "events; DROP TABLE t") }
    intercept[IllegalArgumentException] { new JdbcFeed("jdbc:derby:memory:x", "ev'il") }
    assert(JdbcFeed.isSafeIdent("app.events"))
    intercept[IllegalArgumentException] {
      CdcSource.GenericJdbcSpec("jdbc:derby:memory:x", "widgets", "id; DROP TABLE t")
    }
  }

  test("schema-generic capture: arbitrary column set end to end through prev-state and the envelope") {
    // the reference's core value prop (row_to_json(NEW) serializes ANY row,
    // queries.go:17-24): a table whose shape the engine has never seen —
    // different columns, different types, a VARCHAR business key — streams
    // through the same offset machinery, payload-folded executor-side
    withDb("generic") { url =>
      exec(url, "CREATE TABLE widgets (seq BIGINT PRIMARY KEY, " +
        "sku VARCHAR(32), price DECIMAL(8,2), qty INT, flag BOOLEAN, note VARCHAR(200))")
      exec(url, "INSERT INTO widgets VALUES " +
        "(1, 'A-1', 6.50, 3, true, 'plain'), " +
        "(2, 'B-2', 19.99, 1, false, NULL), " +
        """(3, 'A-1', 7.25, 4, true, 'has "quote" and tab	end')""")
      val changes = spark.readStream.format("graft.streaming.CdcSourceProvider")
        .option("jdbcUrl", url).option("jdbcTable", "widgets")
        .option("capture", "generic").option("idColumn", "seq")
        .option("numPartitions", "2").load()
        .as[graft.streaming.CdcStream.GenericChange]
      val events = graft.streaming.CdcStream.withPrevStateByRowKey(changes, "sku")
      val q = events.writeStream.format("memory").queryName("generic_ev")
        .outputMode("append").start()
      val got = try {
        q.processAllAvailable()
        spark.table("generic_ev")
          .as[graft.streaming.CdcStream.GenericCdcEvent]
          .collect().sortBy(_.event_id)
      } finally q.stop()
      assert(got.map(_.event_id).toSeq == Seq(1L, 2L, 3L))
      // payload is the row_to_json analog: every column a key, typed —
      // numbers/booleans bare, strings escaped, SQL NULL → JSON null
      val p1 = got(0).payload
      import org.apache.spark.sql.functions.{col, get_json_object, lit, schema_of_json}
      def js(doc: String, path: String): String =
        spark.range(1).select(get_json_object(lit(doc), path)).head.getString(0)
      assert(js(p1, "$.sku") == "A-1" &&
        js(p1, "$.qty") == "3" && js(p1, "$.flag") == "true" &&
        js(p1, "$.seq") == "1", s"payload mis-serialized: $p1")
      // decimal scale is preserved verbatim (get_json_object would
      // normalize 6.50 → 6.5, so pin the raw serialization instead)
      assert(p1.contains("\"price\":6.50"), s"decimal mis-serialized: $p1")
      assert(js(got(1).payload, "$.note") == null, "SQL NULL must become JSON null")
      assert(js(got(2).payload, "$.note") == "has \"quote\" and tab\tend",
        s"escaping broke round-trip: ${got(2).payload}")
      // prev-image keyed on the VARCHAR business key from inside the payload
      assert(got(0).op == "INSERT" && got(0).previous == null)
      assert(got(1).op == "INSERT" && got(1).row_key == "B-2")
      assert(got(2).op == "UPDATE" && got(2).row_key == "A-1" &&
        got(2).previous == got(0).payload,
        s"row 3 must carry row 1's image as previous, got ${got(2).previous}")
      assert(got(2).changes ==
        graft.functions.MergePatch.createMergePatch(got(2).payload, got(2).previous),
        "changes must be the reference-direction merge patch")
      // and the jsonpb Event envelope carries the business key as `id`
      val env = graft.streaming.CdcStream
        .genericEvents(spark.table("generic_ev")
          .as[graft.streaming.CdcStream.GenericCdcEvent], table = "widgets")
        .orderBy(col("event_id"))
        .select(get_json_object(col("event"), "$.id"),
          get_json_object(col("event"), "$.op"),
          get_json_object(col("event"), "$.payload.price"))
        .collect()
      assert(env(2).getString(0) == "A-1" && env(2).getString(1) == "UPDATE" &&
        env(2).getString(2) == "7.25", s"envelope wrong: ${env.toSeq}")
    }
  }

  test("string-PK table: exactly-once capture via its sequence column, including restart") {
    // the non-integer-key contract: the natural key is a UUID-ish VARCHAR;
    // the monotone sequence column drives offsets, the natural key rides
    // inside the payload — delivery stays exactly-once across a restart
    withDb("stringpk") { url =>
      exec(url, "CREATE TABLE orders (seq BIGINT PRIMARY KEY, " +
        "order_uuid VARCHAR(36), status VARCHAR(16))")
      val ckpt = java.nio.file.Files.createTempDirectory("gen_ckpt").toString
      val out = java.nio.file.Files.createTempDirectory("gen_out").toString
      def start() = spark.readStream.format("graft.streaming.CdcSourceProvider")
        .option("jdbcUrl", url).option("jdbcTable", "orders")
        .option("capture", "generic").option("idColumn", "seq")
        .option("numPartitions", "2").load()
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      exec(url, "INSERT INTO orders VALUES (1, 'aa-11', 'open'), (2, 'bb-22', 'open')")
      val q1 = start()
      try { q1.processAllAvailable() } finally q1.stop()
      // rows landing while the query is down deliver exactly once on restart
      exec(url, "INSERT INTO orders VALUES (3, 'aa-11', 'shipped'), (4, 'cc-33', 'open')")
      val q2 = start()
      try { q2.processAllAvailable() } finally q2.stop()
      import org.apache.spark.sql.functions.{col, get_json_object}
      val rows = spark.read.parquet(out)
        .select(col("event_id"),
          get_json_object(col("payload"), "$.order_uuid").as("u"),
          get_json_object(col("payload"), "$.status").as("s"))
        .orderBy("event_id").collect()
      assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L),
        s"exactly-once across restart broken: ${rows.toSeq}")
      assert(rows(2).getString(1) == "aa-11" && rows(2).getString(2) == "shipped")
    }
  }

  test("schema evolution mid-stream: ALTER TABLE ADD/DROP COLUMN lands in the next micro-batch, no restart") {
    // the payoff of re-reading ResultSet metadata PER BATCH instead of
    // freezing a projection at install time: a producer evolving its table
    // (the most common live-schema event there is) flows through the
    // running capture — new columns appear in payloads from their first
    // row, dropped columns vanish — and the drift census downstream sees
    // the change as data, not as an engine error
    withDb("evolve") { url =>
      exec(url, "CREATE TABLE gadgets (seq BIGINT PRIMARY KEY, " +
        "sku VARCHAR(32), note VARCHAR(32))")
      exec(url, "INSERT INTO gadgets VALUES (1, 'A', 'n1'), (2, 'B', 'n2')")
      val q = spark.readStream.format("graft.streaming.CdcSourceProvider")
        .option("jdbcUrl", url).option("jdbcTable", "gadgets")
        .option("capture", "generic").option("idColumn", "seq")
        .option("numPartitions", "2").load()
        .writeStream.format("memory").queryName("evolve_ev")
        .outputMode("append").start()
      // DDL needs Derby's exclusive table lock and can deadlock against the
      // capture's concurrent read transactions — retry like a real
      // migration would (the STREAM never restarts; that's the point)
      def ddl(sql: String): Unit = {
        var attempts = 0
        var done = false
        while (!done) {
          attempts += 1
          try { exec(url, sql); done = true }
          catch { case e: java.sql.SQLException =>
            if (attempts >= 20) throw e
            Thread.sleep(100)
          }
        }
      }
      val rows = try {
        q.processAllAvailable()
        ddl("ALTER TABLE gadgets ADD COLUMN color VARCHAR(16)")
        exec(url, "INSERT INTO gadgets VALUES (3, 'C', 'n3', 'red')")
        q.processAllAvailable()
        ddl("ALTER TABLE gadgets DROP COLUMN note")
        exec(url, "INSERT INTO gadgets (seq, sku, color) VALUES (4, 'D', 'blue')")
        q.processAllAvailable()
        spark.table("evolve_ev").orderBy("event_id")
          .select("payload").as[String].collect()
      } finally q.stop()
      assert(rows.length == 4)
      assert(rows(0).contains("\"note\":\"n1\"") && !rows(0).contains("color"),
        s"pre-DDL payload wrong: ${rows(0)}")
      assert(rows(2).contains("\"color\":\"red\"") && rows(2).contains("\"note\":\"n3\""),
        s"ADD COLUMN missing from next batch: ${rows(2)}")
      assert(rows(3).contains("\"color\":\"blue\"") && !rows(3).contains("note"),
        s"DROP COLUMN still serialized: ${rows(3)}")
      // and the drift census reads the evolution straight off the captured
      // payloads: `color` first seen at event 3 — the alert a consumer
      // gets the moment the producer changes the contract
      import org.apache.spark.sql.functions.{col, lit, min}
      val census = graft.streaming.SchemaDrift.keyRows(
          spark.table("evolve_ev").select(lit("gadgets").as("group"),
            col("payload").as("doc"), col("event_id")))
        .groupBy("key").agg(min("event_id").as("first_id"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(census("color") == 3L && census("note") == 1L && census("sku") == 1L,
        s"drift census wrong: $census")
    }
  }

  test("generic capture honors maxBytesPerTrigger: RowJson-fold probe sizes the bites") {
    // the byte budget on a table the engine has never seen: the probe
    // folds the pending head through the REAL serializer, so the cap is
    // sized from the payload bytes actually shipped — no typed column
    // knowledge anywhere
    withDb("genbytes") { url =>
      exec(url, "CREATE TABLE fat (seq BIGINT PRIMARY KEY, blob_ish VARCHAR(2000))")
      val pad = "y" * 1000
      val conn = java.sql.DriverManager.getConnection(url)
      try {
        val ps = conn.prepareStatement("INSERT INTO fat VALUES (?, ?)")
        (0L until 100L).foreach { i =>
          ps.setLong(1, i); ps.setString(2, pad); ps.addBatch()
        }
        ps.executeBatch()
      } finally conn.close()
      val q = spark.readStream.format("graft.streaming.CdcSourceProvider")
        .option("jdbcUrl", url).option("jdbcTable", "fat")
        .option("capture", "generic").option("idColumn", "seq")
        .option("numPartitions", "2")
        .option("maxBytesPerTrigger", "5300").load()
        .writeStream.format("memory").queryName("gen_bytecap")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        val ids = spark.table("gen_bytecap").select("event_id").as[Long].collect()
        assert(ids.sorted.toSeq == (0L until 100L), s"delivery broken: ${ids.length} rows")
        // payload ≈ {"seq":N,"blob_ish":"y…"} ≈ 1030 B (+16 envelope)
        // against a 5300 B budget ≈ 5 ids per bite
        val progs = q.recentProgress.filter(_.numInputRows > 0)
        assert(progs.length >= 15, s"byte cap did not bite: ${progs.length} batches")
        assert(progs.forall(_.numInputRows <= 6),
          s"a batch overflowed the byte budget: ${progs.map(_.numInputRows).toSeq}")
      } finally q.stop()
    }
  }

  test("generic bootstrap: AvailableNow history drain + seamless tail, one serializer") {
    withDb("genboot") { url =>
      exec(url, "CREATE TABLE inv (seq BIGINT PRIMARY KEY, " +
        "sku VARCHAR(16), qty INT)")
      (1 to 50).foreach(i =>
        exec(url, s"INSERT INTO inv VALUES ($i, 'sku-$i', ${i * 2})"))
      val snap = java.nio.file.Files.createTempDirectory("genboot_snap").toString
      val ckpt = java.nio.file.Files.createTempDirectory("genboot_ck").toString
      val (snapshot, tail) = Graft.bootstrapGeneric(spark, url, "inv", "seq",
        snap, ckpt, numPartitions = 2, maxIdsPerTrigger = 20L)
      // history drained THROUGH the capture (admission-capped), payloads
      // carry the generic fold of a shape the engine never saw
      assert(snapshot.count() == 50)
      import org.apache.spark.sql.functions.{col, get_json_object}
      val s7 = snapshot.filter(col("event_id") === 7L)
        .select(get_json_object(col("payload"), "$.sku"),
          get_json_object(col("payload"), "$.qty")).head
      assert(s7.getString(0) == "sku-7" && s7.getString(1) == "14")
      // rows landing after the drain belong to the tail — exactly once,
      // starting exactly after the drained cutoff (no seam, no overlap)
      exec(url, "INSERT INTO inv VALUES (51, 'sku-51', 102), (52, 'sku-52', 104)")
      val q = tail.writeStream.format("memory").queryName("genboot_tail")
        .outputMode("append").start()
      val got = try {
        q.processAllAvailable()
        spark.table("genboot_tail").select("event_id").as[Long].collect().sorted.toSeq
      } finally q.stop()
      assert(got == Seq(51L, 52L), s"tail must start after the cutoff: $got")
    }
  }

  test("generic multi-table capture: differently-shaped tables union into one envelope stream") {
    withDb("genmulti") { url =>
      exec(url, "CREATE TABLE g_users (seq BIGINT PRIMARY KEY, name VARCHAR(32), age INT)")
      exec(url, "CREATE TABLE g_items (seq BIGINT PRIMARY KEY, label VARCHAR(32), " +
        "weight DOUBLE, active BOOLEAN)")
      exec(url, "INSERT INTO g_users VALUES (1, 'ann', 34), (2, 'bo', 27)")
      exec(url, "INSERT INTO g_items VALUES (1, 'bolt', 0.25, true)")
      val specs = CdcCatalog.installGeneric(url, "APP", "(?i)^g_", idColumn = "seq")
      assert(specs.map(_.table) == Seq("APP.G_ITEMS", "APP.G_USERS"), s"got ${specs.map(_.table)}")
      val q = CdcCatalog.readAll(spark, specs, numPartitions = 2)
        .writeStream.format("memory").queryName("gen_multi")
        .outputMode("append").start()
      val got = try {
        q.processAllAvailable()
        spark.table("gen_multi").collect()
          .map(r => (r.getAs[String]("table"), r.getAs[Long]("event_id"),
            r.getAs[String]("payload"))).sortBy(t => (t._1, t._2))
      } finally q.stop()
      assert(got.length == 3, s"expected 3 rows, got ${got.toSeq}")
      // each table's payload carries ITS OWN shape — the union is over the
      // envelope, not over any shared column set
      assert(got(0)._1 == "APP.G_ITEMS" && got(0)._3.contains("\"label\":\"bolt\"") &&
        got(0)._3.contains("\"weight\":0.25") && got(0)._3.contains("\"active\":true"),
        s"item payload: ${got(0)._3}")
      assert(got(1)._1 == "APP.G_USERS" && got(1)._3.contains("\"name\":\"ann\"") &&
        got(1)._3.contains("\"age\":34"), s"user payload: ${got(1)._3}")
    }
  }
  test("withRetry: class-42 SQLStates (absent table, privilege) fail FAST; transient lock states still retry") {
    // a table-absence probe must cost ONE round-trip, not attempts x
    // backoff — class 42 (syntax/access rule) is never transient
    var calls42 = 0
    val e = intercept[java.sql.SQLException] {
      JdbcFeed.withRetry(attempts = 5, backoffMs = 1L) {
        calls42 += 1
        throw new java.sql.SQLException("no such table", "42X05")
      }
    }
    assert(e.getSQLState == "42X05" && calls42 == 1,
      s"class-42 must rethrow on the first attempt, got $calls42 attempts")
    // the transient class (deadlock/serialization victims) keeps the
    // bounded retry that protects the capture from lock fights
    var calls40 = 0
    intercept[java.sql.SQLException] {
      JdbcFeed.withRetry(attempts = 3, backoffMs = 1L) {
        calls40 += 1
        throw new java.sql.SQLException("lock timeout", "40XL1")
      }
    }
    assert(calls40 == 3, s"transient states must exhaust the attempts, got $calls40")
    // and a null SQLState (driver quirk) is treated as possibly-transient
    var callsNull = 0
    intercept[java.sql.SQLException] {
      JdbcFeed.withRetry(attempts = 2, backoffMs = 1L) {
        callsNull += 1
        throw new java.sql.SQLException("opaque")
      }
    }
    assert(callsNull == 2)
  }
}
