package graft

import scala.util.control.NonFatal
import graft.streaming.{CdcSource, CdcStream}
import org.apache.spark.sql.SparkSession

/** Streaming-pipeline throughput probe: drives the `events` table through the
  * custom micro-batch CDC source + the stateful prev-image pipeline
  * (`CdcStream.withPrevState`, merge-patch included) and reports events/sec —
  * the measurable counterpart to the reference's (unpublished) throughput,
  * whose design ceiling is a single event-loop goroutine fed by Postgres
  * NOTIFY (reference `server.go:258-281`; SURVEY §6).
  *
  * Usage: runMain graft.StreamBench [sfDir]  → one JSON line.
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
    // conf A/B hook for session-conf audits (shared parser, loud on a
    // malformed entry): see Graft.confOverrides
    val spark = Graft.confOverrides(builder).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    // stage the log into the in-memory feed (bench fixture, not the operator)
    val rows = Tables.load(spark, sfDir, "events")
      .select("event_id", "ts", "user_id", "event_type", "props")
      .as[CdcStream.RawChange].collect()

    def drain(feedName: String, conf: Map[String, String] = Map.empty,
              pipe: org.apache.spark.sql.Dataset[CdcStream.RawChange] =>
                org.apache.spark.sql.Dataset[CdcStream.CdcEvent] =
                CdcStream.withPrevState(_)): Double = {
      val saved = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        CdcSource.FeedRegistry.get(feedName).append(rows: _*)
        val raw = spark.readStream.format("graft.streaming.CdcSourceProvider")
          .option("feed", feedName).option("numPartitions", cpus).load()
        val events = pipe(raw.as[CdcStream.RawChange])
        val q = events.writeStream.format("noop").outputMode("append").start()
        val t0 = System.nanoTime()
        q.processAllAvailable()
        val sec = (System.nanoTime() - t0) / 1e9
        q.stop()
        sec
      } finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    }

    val coldSec = drain("bench_cold") // includes stream init + codegen warmup
    val warmSec = drain("bench_warm")
    println(s"""{"metric":"cdc_stream_throughput","events":${rows.length},"cold_sec":$coldSec,"warm_sec":$warmSec,"events_per_sec":${(rows.length / warmSec).toLong},"sf":"$sfDir"}""")

    // state-store knob probes (r2 found the keyed state shuffle, not the
    // source, caps throughput): RocksDB provider vs the default HDFS-backed
    // in-memory map, and 4x state partitions — measured either way, a
    // recorded "no win" is a result too
    val rocksSec = drain("bench_rocks", Map(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
    println(s"""{"metric":"cdc_stream_throughput_rocksdb","events":${rows.length},"warm_sec":$rocksSec,"events_per_sec":${(rows.length / rocksSec).toLong},"sf":"$sfDir"}""")
    val partsSec = drain("bench_parts4x", Map(
      "spark.sql.shuffle.partitions" -> (cpus.toInt * 4).toString))
    println(s"""{"metric":"cdc_stream_throughput_parts4x","events":${rows.length},"warm_sec":$partsSec,"events_per_sec":${(rows.length / partsSec).toLong},"sf":"$sfDir"}""")
    // the Spark 4 transformWithState port (parity-pinned in CdcStreamSpec),
    // measured against the classic path; requires the RocksDB provider, so
    // its fair comparison line is cdc_stream_throughput_rocksdb above
    val twsSec = drain("bench_tws", Map(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"),
      ds => CdcStream.withPrevStateTws(ds))
    println(s"""{"metric":"cdc_stream_throughput_tws","events":${rows.length},"warm_sec":$twsSec,"events_per_sec":${(rows.length / twsSec).toLong},"sf":"$sfDir"}""")
    // the same processor with a REALISTIC erasure set (a GDPR backlog of
    // 100 entities): the steady-state cost over an empty set must be a Map
    // probe per key per batch — measured, its fair comparison line is
    // cdc_stream_throughput_tws above
    val erasedProbe = (1L to 100L).map(u => -u -> 0L).toMap // keys absent from the feed
    val twsEraseSec = drain("bench_tws_erasing", Map(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"),
      ds => CdcStream.withPrevStateTws(ds, erasedProbe))
    println(s"""{"metric":"cdc_stream_throughput_tws_erasing","events":${rows.length},"warm_sec":$twsEraseSec,"events_per_sec":${(rows.length / twsEraseSec).toLong},"sf":"$sfDir"}""")

    // second line: the same drain through the PRODUCTION path — Derby-backed
    // JDBC feed, streaming partition readers (JdbcRowReader), id-range
    // parallelism — quantifying the JDBC reader against the in-memory ceiling
    val url = "jdbc:derby:memory:streambench;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      conn.createStatement().execute(
        "CREATE TABLE events (event_id BIGINT PRIMARY KEY, ts TIMESTAMP, " +
          "user_id BIGINT, event_type VARCHAR(32), props VARCHAR(500))")
      val ps = conn.prepareStatement("INSERT INTO events VALUES (?, ?, ?, ?, ?)")
      rows.foreach { r =>
        ps.setLong(1, r.event_id); ps.setTimestamp(2, r.ts); ps.setLong(3, r.user_id)
        ps.setString(4, r.event_type); ps.setString(5, r.props); ps.addBatch()
      }
      ps.executeBatch()
    } finally conn.close()
    val rawJdbc = spark.readStream.format("graft.streaming.CdcSourceProvider")
      .option("jdbcUrl", url).option("jdbcTable", "events")
      .option("numPartitions", cpus).load()
    val qj = CdcStream.withPrevState(rawJdbc.as[CdcStream.RawChange])
      .writeStream.format("noop").outputMode("append").start()
    val tj = System.nanoTime()
    qj.processAllAvailable()
    val jdbcSec = (System.nanoTime() - tj) / 1e9
    qj.stop()
    println(s"""{"metric":"cdc_stream_throughput_jdbc","events":${rows.length},"warm_sec":$jdbcSec,"events_per_sec":${(rows.length / jdbcSec).toLong},"sf":"$sfDir"}""")

    // ===== capture-latency probe =====
    // The reference's one structural edge over a polling source is push
    // NOTIFY delivery (server.go:98-109): pg_notify hands the event to the
    // listener goroutine in milliseconds. A micro-batch pull source's floor
    // is its poll cadence: with no trigger, Spark replans the next batch
    // ~spark.sql.streaming.pollingDelay (10 ms) after an empty one, so the
    // floor is planning + execution overhead; with ProcessingTime(T) it is
    // ~T/2 mean + batch cost. Measured here end-to-end THROUGH the stateful
    // prev-image pipeline against the live Derby JDBC feed: single-row
    // commits spaced gapMs apart, commit timestamp → foreachBatch arrival.
    def latencyProbe(label: String, triggerMs: Int, nEvents: Int, gapMs: Long,
                     conf: Map[String, String] = Map.empty,
                     writerOpts: Map[String, String] = Map.empty,
                     pipe: org.apache.spark.sql.Dataset[CdcStream.RawChange] =>
                       org.apache.spark.sql.DataFrame =
                       CdcStream.withPrevState(_).toDF()): Unit = {
      val saved = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      // one misconfigured probe must never silence the rest of the bench:
      // record the failure as its own artifact line and keep going
      try latencyProbeRun(label, triggerMs, nEvents, gapMs, writerOpts, pipe)
      catch { case NonFatal(e) =>
        println(s"""{"metric":"cdc_capture_latency","config":"$label","error":"${e.getClass.getSimpleName}"}""")
        System.err.println(s"[latencyProbe] $label failed: $e")
      }
      finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    }
    def latencyProbeRun(label: String, triggerMs: Int, nEvents: Int, gapMs: Long,
                        writerOpts: Map[String, String],
                        pipe: org.apache.spark.sql.Dataset[CdcStream.RawChange] =>
                          org.apache.spark.sql.DataFrame): Unit = {
      val arrivals = new java.util.concurrent.ConcurrentHashMap[java.lang.Long, java.lang.Long]()
      val raw2 = spark.readStream.format("graft.streaming.CdcSourceProvider")
        .option("jdbcUrl", url).option("jdbcTable", "events")
        // single-row batches: 32 id-range splits per poll would be overhead
        .option("numPartitions", "4").load()
      val writer = pipe(raw2.as[CdcStream.RawChange])
        .writeStream.outputMode("append").options(writerOpts)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          val ids = df.select("event_id").as[Long].collect()
          val t = System.nanoTime()
          ids.foreach(id => arrivals.put(id, t))
          ()
        }
      val q2 = (if (triggerMs > 0)
        writer.trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(s"$triggerMs milliseconds"))
      else writer).start()
      q2.processAllAvailable() // drain the table backlog before timing
      val conn2 = java.sql.DriverManager.getConnection(url)
      val commits = new scala.collection.mutable.HashMap[Long, Long]()
      try {
        val rs = conn2.createStatement().executeQuery("SELECT MAX(event_id) FROM events")
        rs.next(); val maxId = rs.getLong(1)
        val ps2 = conn2.prepareStatement("INSERT INTO events VALUES (?, ?, ?, ?, ?)")
        (1 to nEvents).foreach { i =>
          val id = maxId + i
          ps2.setLong(1, id)
          ps2.setTimestamp(2, new java.sql.Timestamp(System.currentTimeMillis()))
          ps2.setLong(3, id % 97); ps2.setString(4, "purchase")
          ps2.setString(5, s"""{"k": ${i % 997}}""")
          ps2.execute() // autocommit: visible to the next poll immediately
          commits(id) = System.nanoTime()
          Thread.sleep(gapMs)
        }
        val deadline = System.nanoTime() + 60L * 1000000000L
        while (commits.keys.exists(id => !arrivals.containsKey(id)) &&
               System.nanoTime() < deadline)
          Thread.sleep(20)
      } finally conn2.close()
      q2.stop()
      val lat = commits.toSeq.collect {
        case (id, t0) if arrivals.containsKey(id) =>
          (arrivals.get(id) - t0) / 1e6
      }.sorted
      def pct(p: Double) = lat((p * (lat.size - 1)).round.toInt)
      println(s"""{"metric":"cdc_capture_latency","config":"$label","trigger_ms":$triggerMs,"events":${lat.size},"p50_ms":${pct(0.5).round},"p99_ms":${pct(0.99).round},"max_ms":${lat.last.round},"gap_ms":$gapMs}""")
    }
    // default config: the throughput-tuned 32 state partitions make every
    // micro-batch pay ~32 state-store commits — batch duration, not poll
    // cadence, is the latency floor
    latencyProbe("default32", triggerMs = 0, nEvents = 120, gapMs = 30)
    // low-latency config: a single state partition per subscriber (the
    // reference's subscriber is single-threaded anyway, server.go:291) cuts
    // the per-batch floor to task-launch + one state commit
    latencyProbe("tuned1", triggerMs = 0, nEvents = 120, gapMs = 30,
      conf = Map("spark.sql.shuffle.partitions" -> "1"))
    latencyProbe("tuned1_t500", triggerMs = 500, nEvents = 40, gapMs = 120,
      conf = Map("spark.sql.shuffle.partitions" -> "1"))
    // stateless fan-out-only subscriber (no prev-image state): one narrow
    // projection per batch — no shuffle, no state commit — measuring how
    // much of the stateful floor is the state machinery itself
    latencyProbe("stateless1", triggerMs = 0, nEvents = 120, gapMs = 30,
      conf = Map("spark.sql.shuffle.partitions" -> "1"),
      pipe = ds => CdcStream.statelessEvents(ds))
    // ... plus async progress tracking (legal only WITHOUT stateful ops):
    // offset-log fsync leaves the batch critical path; delivery weakens to
    // at-least-once — still stronger than the reference push path's
    // at-most-once
    // foreachBatch is not on the async-tracking allow-list (noop/Kafka/
    // memory are) — the probe's collect-side IS idempotent, so the
    // documented override flag is the honest way to measure the floor
    // interval 0 = offset-log writes still leave the critical path but are
    // issued per batch; the DEFAULT 1000 ms interval GATES batch cadence
    // (measured p50 1.4 s — worse than synchronous) because an un-logged
    // batch can't be followed until the interval elapses
    latencyProbe("stateless1_async", triggerMs = 0, nEvents = 120, gapMs = 30,
      conf = Map("spark.sql.shuffle.partitions" -> "1"),
      writerOpts = Map("asyncProgressTrackingEnabled" -> "true",
        "asyncProgressTrackingCheckpointIntervalMs" -> "0",
        "_asyncProgressTrackingOverrideSinkSupportCheck" -> "true"),
      pipe = ds => CdcStream.statelessEvents(ds))

    // ===== continuous-processing floor (Trigger.Continuous) =====
    // The stateless subscriber again, but through the source's continuous
    // reader: ONE long-lived task tail-polling the Derby log, epoch
    // bookkeeping off the record path — the engine's structural counterpart
    // of the reference's push loop. Expected to collapse the floor from the
    // micro-batch quantum (~0.1 s) to poll + pipeline cost (ms-class).
    def latencyProbeContinuous(label: String, nEvents: Int, gapMs: Long,
                               pollMs: Int, epochInterval: String,
                               partitions: Int = 1): Unit =
      try {
        val arrivals = ContinuousArrivals.map(label)
        val raw = spark.readStream.format("graft.streaming.CdcSourceProvider")
          .option("jdbcUrl", url).option("jdbcTable", "events")
          .option("continuousPartitions", partitions.toString)
          .option("continuousPollMs", pollMs.toString).load()
        val q = CdcStream.statelessEvents(raw.as[CdcStream.RawChange])
          .writeStream.outputMode("append")
          .foreach(new ContinuousArrivalWriter(label))
          .option("checkpointLocation",
            java.nio.file.Files.createTempDirectory("cont_probe").toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.Continuous(epochInterval))
          .start()
        val conn2 = java.sql.DriverManager.getConnection(url)
        val commits = new scala.collection.mutable.HashMap[Long, Long]()
        try {
          val rs = conn2.createStatement().executeQuery("SELECT MAX(event_id) FROM events")
          rs.next(); val maxId = rs.getLong(1)
          val ps2 = conn2.prepareStatement("INSERT INTO events VALUES (?, ?, ?, ?, ?)")
          def insert(id: Long): Unit = {
            ps2.setLong(1, id)
            ps2.setTimestamp(2, new java.sql.Timestamp(System.currentTimeMillis()))
            ps2.setLong(3, id % 97); ps2.setString(4, "purchase")
            ps2.setString(5, s"""{"k": ${id % 997}}""")
            ps2.execute() // autocommit: visible to the next poll immediately
          }
          // sentinel row: wait until the reader has streamed the whole table
          // backlog and is tail-polling — only then is timing meaningful
          // (processAllAvailable has no meaning under a continuous trigger)
          insert(maxId + 1)
          val warmup = System.nanoTime() + 120L * 1000000000L
          while (!arrivals.containsKey(maxId + 1) && System.nanoTime() < warmup)
            Thread.sleep(20)
          require(arrivals.containsKey(maxId + 1), "backlog drain timed out")
          (2 to nEvents + 1).foreach { i =>
            val id = maxId + i
            insert(id)
            commits(id) = System.nanoTime()
            Thread.sleep(gapMs)
          }
          val deadline = System.nanoTime() + 60L * 1000000000L
          while (commits.keys.exists(id => !arrivals.containsKey(id)) &&
                 System.nanoTime() < deadline)
            Thread.sleep(20)
        } finally conn2.close()
        q.stop()
        val lat = commits.toSeq.collect {
          case (id, t0) if arrivals.containsKey(id) =>
            (arrivals.get(id) - t0) / 1e6
        }.sorted
        def pct(p: Double) = lat((p * (lat.size - 1)).round.toInt)
        println(s"""{"metric":"cdc_capture_latency","config":"$label","trigger_ms":-1,"events":${lat.size},"p50_ms":${pct(0.5).round},"p99_ms":${pct(0.99).round},"max_ms":${lat.last.round},"gap_ms":$gapMs}""")
      } catch { case NonFatal(e) =>
        println(s"""{"metric":"cdc_capture_latency","config":"$label","error":"${e.getClass.getSimpleName}"}""")
        System.err.println(s"[latencyProbeContinuous] $label failed: $e")
      }
    latencyProbeContinuous("continuous_poll2", nEvents = 120, gapMs = 30,
      pollMs = 2, epochInterval = "1 second")
    // mod-4 readers: the scale-out shape must not tax the latency floor
    // (four independent pollers, no coordination on the record path)
    latencyProbeContinuous("continuous4_poll2", nEvents = 120, gapMs = 30,
      pollMs = 2, epochInterval = "1 second", partitions = 4)

    // ... and the WHOLE reference architecture at continuous grain:
    // commit → tail-poll capture → jsonpb envelope → per-record-flush
    // executor ingest socket → hub fan-out → subscribed pqs client.
    // Measures commit→client-socket — the number a pqstream user feels.
    def e2eProbeContinuous(label: String, nEvents: Int, gapMs: Long): Unit =
      try {
        val server = new graft.streaming.ListenServer()
        val arrivals = new java.util.concurrent.ConcurrentHashMap[java.lang.Long, java.lang.Long]()
        val idRe = java.util.regex.Pattern.compile("\"id\":\"(\\d+)\"")
        val client = new Thread(() =>
          try graft.streaming.PqsClient.run("127.0.0.1", server.boundPort, ".*", { l =>
            val m = idRe.matcher(l)
            if (m.find()) arrivals.put(java.lang.Long.valueOf(m.group(1)), System.nanoTime())
            ()
          }) catch { case NonFatal(_) => () })
        client.setDaemon(true); client.start()
        val subDeadline = System.nanoTime() + 10L * 1000000000L
        while (server.subscriberCount < 1 && System.nanoTime() < subDeadline)
          Thread.sleep(10)
        val raw = spark.readStream.format("graft.streaming.CdcSourceProvider")
          .option("jdbcUrl", url).option("jdbcTable", "events")
          .option("continuousPollMs", "2").load()
        val events = CdcStream.statelessEvents(raw.as[CdcStream.RawChange])
          .select(org.apache.spark.sql.functions.lit("events").as("table"),
            org.apache.spark.sql.functions.col("event"))
        val q = events.writeStream.outputMode("append")
          .foreach(graft.streaming.ListenSink.continuousWriter("127.0.0.1", server.boundPort))
          .option("checkpointLocation",
            java.nio.file.Files.createTempDirectory("cont_e2e").toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.Continuous("5 seconds"))
          .start()
        val conn2 = java.sql.DriverManager.getConnection(url)
        val commits = new scala.collection.mutable.HashMap[Long, Long]()
        try {
          val rs = conn2.createStatement().executeQuery("SELECT MAX(event_id) FROM events")
          rs.next(); val maxId = rs.getLong(1)
          val ps2 = conn2.prepareStatement("INSERT INTO events VALUES (?, ?, ?, ?, ?)")
          def insert(id: Long): Unit = {
            ps2.setLong(1, id)
            ps2.setTimestamp(2, new java.sql.Timestamp(System.currentTimeMillis()))
            ps2.setLong(3, id % 97); ps2.setString(4, "purchase")
            ps2.setString(5, s"""{"k": ${id % 997}}""")
            ps2.execute()
          }
          insert(maxId + 1) // sentinel: backlog drained through hub AND client
          val warmup = System.nanoTime() + 120L * 1000000000L
          while (!arrivals.containsKey(maxId + 1) && System.nanoTime() < warmup)
            Thread.sleep(20)
          require(arrivals.containsKey(maxId + 1), "backlog drain timed out")
          (2 to nEvents + 1).foreach { i =>
            val id = maxId + i
            insert(id)
            commits(id) = System.nanoTime()
            Thread.sleep(gapMs)
          }
          val deadline = System.nanoTime() + 60L * 1000000000L
          while (commits.keys.exists(id => !arrivals.containsKey(id)) &&
                 System.nanoTime() < deadline)
            Thread.sleep(20)
        } finally conn2.close()
        q.stop(); server.close()
        val lat = commits.toSeq.collect {
          case (id, t0) if arrivals.containsKey(id) =>
            (arrivals.get(id) - t0) / 1e6
        }.sorted
        def pct(p: Double) = lat((p * (lat.size - 1)).round.toInt)
        println(s"""{"metric":"cdc_e2e_latency","config":"$label","events":${lat.size},"p50_ms":${pct(0.5).round},"p99_ms":${pct(0.99).round},"max_ms":${lat.last.round},"gap_ms":$gapMs}""")
      } catch { case NonFatal(e) =>
        println(s"""{"metric":"cdc_e2e_latency","config":"$label","error":"${e.getClass.getSimpleName}"}""")
        System.err.println(s"[e2eProbeContinuous] $label failed: $e")
      }
    e2eProbeContinuous("continuous_listen_e2e", nEvents = 120, gapMs = 30)

    // ===== online near-dup dedup throughput =====
    // The document corpus replicated with disjoint ids (copies share TEXT,
    // so near-dup candidate volume is realistic — every copy collides with
    // the original's buckets) driven through the in-row banding + bucket
    // state pipeline; warm run reported (cold pays codegen).
    {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val docRows = Tables.load(spark, sfDir, "documents")
        .select($"doc_id", $"text").as[(Long, String)].collect()
      val copies = 4
      val docs = (0 until copies).flatMap(c =>
        docRows.map { case (id, t) => graft.streaming.DedupStream.Doc(id + c * 10000000L, t) })
      def run(): Double = {
        implicit val sqlCtx = spark.sqlContext
        val input = MemoryStream[graft.streaming.DedupStream.Doc]
        val q = graft.Graft.dedupStream(input.toDS().toDF())
          .writeStream.format("noop").outputMode("append")
          .option("checkpointLocation",
            java.nio.file.Files.createTempDirectory("dedup_stream_bench").toString)
          .start()
        input.addData(docs: _*)
        val t0 = System.nanoTime()
        q.processAllAvailable()
        val sec = (System.nanoTime() - t0) / 1e9
        q.stop()
        sec
      }
      run() // cold: codegen + state-store setup
      val warmSec = run()
      println(s"""{"metric":"dedup_stream_throughput","docs":${docs.size},"warm_sec":$warmSec,"docs_per_sec":${(docs.size / warmSec).toLong},"sf":"$sfDir"}""")
      // the composed candidate→verify stage (exemplar hash-set state +
      // in-handler exact Jaccard) against the candidates-only line above:
      // the price of edges leaving the stream already verified
      def runVerified(): Double = {
        implicit val sqlCtx = spark.sqlContext
        val input = MemoryStream[graft.streaming.DedupStream.Doc]
        val q = graft.streaming.DedupStream.verifiedCandidates(
            graft.streaming.DedupStream.bandRowsWithSets(input.toDS().toDF())
              .as[graft.streaming.DedupStream.BandRowV])
          .writeStream.format("noop").outputMode("append")
          .option("checkpointLocation",
            java.nio.file.Files.createTempDirectory("dedup_stream_verified").toString)
          .start()
        input.addData(docs: _*)
        val t0 = System.nanoTime()
        q.processAllAvailable()
        val sec = (System.nanoTime() - t0) / 1e9
        q.stop()
        sec
      }
      runVerified()
      val warmVSec = runVerified()
      println(s"""{"metric":"dedup_stream_verified_throughput","docs":${docs.size},"warm_sec":$warmVSec,"docs_per_sec":${(docs.size / warmVSec).toLong},"sf":"$sfDir"}""")
    }

    // ===== online MEDIA near-dup throughput (the r8 modality) =====
    // Real PNG blobs replicated with disjoint ids (copies share PIXELS, so
    // every copy collides with the original's fingerprint class — the
    // dominant dup mode) through codec fingerprint → Hamming banding →
    // class-grain bucket state; the per-row PNG decode is INCLUDED — the
    // honest cost of fingerprinting the crawl as it lands.
    {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val pngRows = graft.ops.Multimodal.pngTable(spark, sfDir).collect()
      val copies = 4
      val media = (0 until copies).flatMap(c => pngRows.map(r =>
        graft.ops.Multimodal.MediaRow(r.doc_id + c * 10000000L, r.media, r.media_type)))
      def runMedia(): Double = {
        implicit val sqlCtx = spark.sqlContext
        val input = MemoryStream[graft.ops.Multimodal.MediaRow]
        val q = graft.Graft.mediaDedupStream(input.toDS())
          .writeStream.format("noop").outputMode("append")
          .option("checkpointLocation",
            java.nio.file.Files.createTempDirectory("media_dedup_bench").toString)
          .start()
        input.addData(media: _*)
        val t0 = System.nanoTime()
        q.processAllAvailable()
        val sec = (System.nanoTime() - t0) / 1e9
        q.stop()
        sec
      }
      runMedia()
      val warmMSec = runMedia()
      println(s"""{"metric":"media_dedup_stream_throughput","docs":${media.size},"warm_sec":$warmMSec,"docs_per_sec":${(media.size / warmMSec).toLong},"sf":"$sfDir"}""")
    }

    // ===== DEGENERATE single-bucket media corpus =====
    // Worst case for the bucket handler: thousands of distinct fingerprint
    // CLASSES whose band keys all collide (identical low band bits), then a
    // flood of exact copies probing that fully-loaded bucket. The exact-dup
    // probe is a hash-map hit (r9), so throughput must hold at O(batch)
    // here — a linear membership scan would pay O(batch × classes) in
    // exactly this shape. Codec bypassed deliberately: the datapoint
    // isolates the state handler, not the decode.
    {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import graft.streaming.DedupStream
      val classes = 3000
      val copies = 32
      // fp_i = (i << 14) | C: band 0 (low 14 bits) identical across every
      // class — one bucket holding all `classes` exemplars (bands 2-3
      // degenerate too for i < 2^14; harsher, same point)
      val fps = (0 until classes).flatMap { i =>
        val fp = (i.toLong << 14) | 0x2AAAL
        (0 until copies).map(k =>
          DedupStream.FpRow(i.toLong + k.toLong * 10000000L, fp))
      }
      def runDegenerate(): Double = {
        implicit val sqlCtx = spark.sqlContext
        val input = MemoryStream[DedupStream.FpRow]
        val q = DedupStream.fpVerifiedPairs(
            DedupStream.fpBandRows(input.toDS(), DedupStream.ImageBanding))
          .writeStream.format("noop").outputMode("append")
          .option("checkpointLocation",
            java.nio.file.Files.createTempDirectory("media_dedup_degen").toString)
          .start()
        input.addData(fps: _*)
        val t0 = System.nanoTime()
        q.processAllAvailable()
        val sec = (System.nanoTime() - t0) / 1e9
        q.stop()
        sec
      }
      runDegenerate()
      val warmDSec = runDegenerate()
      println(s"""{"metric":"media_dedup_degenerate_throughput","docs":${fps.size},"classes":$classes,"warm_sec":$warmDSec,"docs_per_sec":${(fps.size / warmDSec).toLong},"sf":"$sfDir"}""")
      // the transformWithState MapState layout on the SAME exact-dup-heavy
      // corpus (RocksDB required): this is the layout's WIN case — an
      // exact dup reads one map key instead of deserializing the loaded
      // bucket blob (StateScaleBench carries its LOSS case: all-novel
      // corpora pay entry-by-entry iteration for the Hamming sweep)
      val RocksKey = "spark.sql.streaming.stateStore.providerClass"
      val priorProv = spark.conf.getOption(RocksKey)
      spark.conf.set(RocksKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        def runDegenerateTws(): Double = {
          implicit val sqlCtx = spark.sqlContext
          val input = MemoryStream[DedupStream.FpRow]
          val q = DedupStream.fpVerifiedPairsTws(
              DedupStream.fpBandRows(input.toDS(), DedupStream.ImageBanding))
            .writeStream.format("noop").outputMode("append")
            .option("checkpointLocation",
              java.nio.file.Files.createTempDirectory("media_degen_tws").toString)
            .start()
          input.addData(fps: _*)
          val t0 = System.nanoTime()
          q.processAllAvailable()
          val sec = (System.nanoTime() - t0) / 1e9
          q.stop()
          sec
        }
        runDegenerateTws()
        val warmT = runDegenerateTws()
        println(s"""{"metric":"media_dedup_degenerate_tws_throughput","docs":${fps.size},"classes":$classes,"warm_sec":$warmT,"docs_per_sec":${(fps.size / warmT).toLong},"sf":"$sfDir"}""")
      } finally priorProv match {
        case Some(v) => spark.conf.set(RocksKey, v)
        case None    => spark.conf.unset(RocksKey)
      }
    }

    // ===== schema-drift alert throughput (r9) =====
    // The full events fixture through json_object_keys explode + the
    // (group, key)-keyed first-sight state — the state is a handful of
    // rows (payload vocabulary), so this measures the explode + keyed
    // shuffle cost class of running drift detection permanently inline.
    {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val drift = Tables.load(spark, sfDir, "events")
        .selectExpr("event_type as group", "event_id", "props as doc")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      def runDrift(): Double = {
        implicit val sqlCtx = spark.sqlContext
        val input = MemoryStream[(String, Long, String)]
        val q = graft.streaming.SchemaDrift.alerts(
            graft.streaming.SchemaDrift.keyRows(
              input.toDS().toDF("group", "event_id", "doc")))
          .writeStream.format("noop").outputMode("append")
          .option("checkpointLocation",
            java.nio.file.Files.createTempDirectory("drift_bench").toString)
          .start()
        input.addData(drift.toIndexedSeq)
        val t0 = System.nanoTime()
        q.processAllAvailable()
        val sec = (System.nanoTime() - t0) / 1e9
        q.stop()
        sec
      }
      runDrift()
      val warmDr = runDrift()
      println(s"""{"metric":"schema_drift_throughput","events":${drift.length},"warm_sec":$warmDr,"events_per_sec":${(drift.length / warmDr).toLong},"sf":"$sfDir"}""")
      // TYPE-drift variant: same state machinery but the per-doc Variant
      // walk (parse_json + lateral variant_explode + schema_of_variant)
      // replaces the key explode — the cost of typing every value inline
      def runTypeDrift(): Double = {
        implicit val sqlCtx = spark.sqlContext
        val input = MemoryStream[(String, Long, String)]
        val q = graft.streaming.SchemaDrift.alerts(
            graft.streaming.SchemaDrift.typeRows(
              input.toDS().toDF("group", "event_id", "doc")))
          .writeStream.format("noop").outputMode("append")
          .option("checkpointLocation",
            java.nio.file.Files.createTempDirectory("tdrift_bench").toString)
          .start()
        input.addData(drift.toIndexedSeq)
        val t0 = System.nanoTime()
        q.processAllAvailable()
        val sec = (System.nanoTime() - t0) / 1e9
        q.stop()
        sec
      }
      runTypeDrift()
      val warmTd = runTypeDrift()
      println(s"""{"metric":"type_drift_throughput","events":${drift.length},"warm_sec":$warmTd,"events_per_sec":${(drift.length / warmTd).toLong},"sf":"$sfDir"}""")
    }

    // ===== windowed sketch profile throughput (r9) =====
    // count + HLL + GK per hour window over the events fixture — the cost
    // class of permanently profiling the data inline (constant-size state
    // per window).
    {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val evs = Tables.load(spark, sfDir, "events")
        .select("event_id", "ts", "user_id", "event_type", "props")
        .as[CdcStream.RawChange].collect()
      def runProfile(): Double = {
        implicit val sqlCtx = spark.sqlContext
        val input = MemoryStream[CdcStream.RawChange]
        val q = graft.streaming.WindowSketches.windowedProfile(
            input.toDS().toDF().withColumn(
              "v", org.apache.spark.sql.functions.col("user_id").cast("double")),
            tsCol = "ts", idCol = "user_id", valCol = "v",
            windowDur = "1 hour", watermark = "0 seconds")
          .writeStream.format("noop").outputMode("append")
          .option("checkpointLocation",
            java.nio.file.Files.createTempDirectory("profile_bench").toString)
          .start()
        input.addData(evs.toIndexedSeq)
        val t0 = System.nanoTime()
        q.processAllAvailable()
        val sec = (System.nanoTime() - t0) / 1e9
        q.stop()
        sec
      }
      runProfile()
      val warmPr = runProfile()
      println(s"""{"metric":"window_profile_throughput","events":${evs.length},"warm_sec":$warmPr,"events_per_sec":${(evs.length / warmPr).toLong},"sf":"$sfDir"}""")
    }

    // ===== kmv novelty monitor throughput (r10) =====
    // documents' content hashes through the per-group all-time KMV state —
    // the cost class of running the novelty monitor permanently inline
    // (state = k longs per group, FOREVER; replayed 5x so later reps hit
    // the saturated-sketch O(1) reject fast path like a long-lived stream).
    {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val hs = Tables.load(spark, sfDir, "documents")
        .select(org.apache.spark.sql.functions.col("source").as("group"),
          org.apache.spark.sql.functions.xxhash64(
            org.apache.spark.sql.functions.col("text")).as("h"))
        .as[graft.streaming.WindowSketches.HashRow].collect()
      val replayed = (0 until 5).flatMap(rep =>
        hs.map(r => r.copy(h = r.h + rep % 2))) // a re-sent/novel mix
      def runNovelty(): Double = {
        implicit val sqlCtx = spark.sqlContext
        val input = MemoryStream[graft.streaming.WindowSketches.HashRow]
        val q = graft.streaming.WindowSketches.kmvNovelty(input.toDS())
          .writeStream.format("noop").outputMode("append")
          .option("checkpointLocation",
            java.nio.file.Files.createTempDirectory("novelty_bench").toString)
          .start()
        input.addData(replayed)
        val t0 = System.nanoTime()
        q.processAllAvailable()
        val sec = (System.nanoTime() - t0) / 1e9
        q.stop()
        sec
      }
      runNovelty()
      val warmNv = runNovelty()
      println(s"""{"metric":"novelty_monitor_throughput","docs":${replayed.length},"warm_sec":$warmNv,"docs_per_sec":${(replayed.length / warmNv).toLong},"sf":"$sfDir"}""")
    }

    // Bloom novelty gate: the full corpus replayed 5x through the
    // constant-state prefilter (rep 0 mostly definitely_new, reps 1-4 all
    // maybe_seen — the steady-state mix of a long-lived crawl); state =
    // 2^shardBits fixed filters regardless of reps
    {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val base = graft.streaming.BloomNovelty
        .keyed(Tables.load(spark, sfDir, "documents"), shardBits = 5)
        .collect()
      val replayed = (0 until 5).flatMap(rep =>
        base.map(r => r.copy(doc_id = r.doc_id + rep * 10000000L)))
        .sortBy(_.doc_id)
      val p = graft.functions.Bloom.forExpected(base.length.toLong.max(1024L) >> 5, 0.01)
      def runGate(): Double = {
        implicit val sqlCtx = spark.sqlContext
        val input = MemoryStream[graft.streaming.BloomNovelty.Keyed]
        val q = graft.streaming.BloomNovelty.tagged(input.toDS(), p)
          .writeStream.format("noop").outputMode("append")
          .option("checkpointLocation",
            java.nio.file.Files.createTempDirectory("bloom_novelty_bench").toString)
          .start()
        input.addData(replayed)
        val t0 = System.nanoTime()
        q.processAllAvailable()
        val sec = (System.nanoTime() - t0) / 1e9
        q.stop()
        sec
      }
      runGate()
      val warmBn = runGate()
      println(s"""{"metric":"bloom_novelty_throughput","docs":${replayed.length},"warm_sec":$warmBn,"docs_per_sec":${(replayed.length / warmBn).toLong},"sf":"$sfDir"}""")
    }

    // Semantic-dedup exemplar state: raw vectors vs PQ codes. Same corpus
    // replay through judgedTws (ListState entry = cap x dim doubles worth
    // of vector per exemplar) and judgedPqTws (entry = 8 codeword ids +
    // an error radius; exact cosine decides only for ADC-screen
    // survivors, paying a point fetch). Judgments are parity-pinned in
    // SemDedupStreamSpec; what this measures is the DEPLOYMENT trade:
    // state bytes on disk and warm throughput.
    {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import org.apache.spark.sql.functions._
      val RocksKey = "spark.sql.streaming.stateStore.providerClass"
      val priorProv = spark.conf.getOption(RocksKey)
      spark.conf.set(RocksKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val corpus = Tables.load(spark, sfDir, "embeddings")
          .select(col("vec_id"), graft.ops.Similarity.toDouble(col("embedding")).as("v"))
        val cents = graft.streaming.SemDedupStream.centroids(corpus)
        import spark.implicits._
        val rows = corpus.as[(Long, Seq[Double])].collect().sortBy(_._1)
        val byId = rows.toMap
        val fetch: Long => Seq[Double] = byId(_)
        def dirBytes(d: String): Long = {
          val s = java.nio.file.Files.walk(java.nio.file.Paths.get(d))
          try s.filter(java.nio.file.Files.isRegularFile(_))
            .mapToLong(java.nio.file.Files.size(_)).sum()
          finally s.close()
        }
        def runSem(pq: Boolean): (Double, Long) = {
          implicit val sqlCtx = spark.sqlContext
          val input = MemoryStream[(Long, Seq[Double])]
          val assigned = graft.streaming.SemDedupStream.assign(
            input.toDS().toDF("vec_id", "v"), cents)
            .as[graft.streaming.SemDedupStream.VecRow]
          val chk = java.nio.file.Files.createTempDirectory(
            s"sem_state_${if (pq) "pq" else "raw"}").toString
          val judged =
            if (pq) graft.streaming.SemDedupStream.judgedPqTws(assigned, fetch)
            else graft.streaming.SemDedupStream.judgedTws(assigned)
          val q = judged.writeStream.format("noop").outputMode("append")
            .option("checkpointLocation", chk).start()
          val t0 = System.nanoTime()
          input.addData(rows: _*)
          q.processAllAvailable()
          val sec = (System.nanoTime() - t0) / 1e9
          q.stop()
          (sec, dirBytes(s"$chk/state"))
        }
        runSem(pq = false) // codegen/session warmup
        val (rawSec, rawBytes) = runSem(pq = false)
        val (pqSec, pqBytes) = runSem(pq = true)
        println(s"""{"metric":"semdedup_pq_state","vectors":${rows.length},"raw_warm_sec":$rawSec,"raw_state_bytes":$rawBytes,"pq_warm_sec":$pqSec,"pq_state_bytes":$pqBytes,"state_ratio":${if (pqBytes > 0) f"${rawBytes.toDouble / pqBytes}%.1f" else "-1"},"sf":"$sfDir"}""")
      } finally priorProv match {
        case Some(v) => spark.conf.set(RocksKey, v)
        case None    => spark.conf.unset(RocksKey)
      }
    }
    spark.stop()
  }
}

/** JVM-wide arrival registry for the continuous-mode latency probe: a
  * `ForeachWriter` is serialized to the (local-mode) task, so arrival
  * nanotimes land here keyed by probe label, read back driver-side.
  */
object ContinuousArrivals {
  private val all = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.ConcurrentHashMap[java.lang.Long, java.lang.Long]]()
  def map(label: String): java.util.concurrent.ConcurrentHashMap[java.lang.Long, java.lang.Long] =
    all.computeIfAbsent(label,
      _ => new java.util.concurrent.ConcurrentHashMap[java.lang.Long, java.lang.Long]())
}

/** Named top-level class so serialization never drags an enclosing scope.
  * Stamps arrival time the instant the record reaches the sink — the
  * continuous-mode analog of the foreachBatch collect in the micro-batch
  * probe (per-record here; continuous mode has no batches).
  */
final class ContinuousArrivalWriter(label: String)
    extends org.apache.spark.sql.ForeachWriter[org.apache.spark.sql.Row] {
  override def open(partitionId: Long, epochId: Long): Boolean = true
  override def process(row: org.apache.spark.sql.Row): Unit = {
    ContinuousArrivals.map(label).put(row.getLong(0), System.nanoTime()); ()
  }
  override def close(errorOrNull: Throwable): Unit = ()
}
