package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport

import graft.Graft
import graft.streaming.{CdcStream, Listen, ListenServer, ListenSink, PqsClient}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** `cdc_tail`: an open-loop generator commits single-row changes into an
  * embedded Derby `events` table at a fixed rate; two subscriber paths
  * share one `ListenServer` hub, each with one `PqsClient` subscriber:
  *
  *  - `diff`: `cdcStream` → `withPrevImages` → `Listen.eventJson` →
  *    `ListenSink.writer`, micro-batch, one state partition;
  *  - `tail`: `liveTail` → `ListenSink.continuousWriter`, continuous trigger.
  *
  * Latency is measured from each change's scheduled commit time to its
  * arrival at the subscriber socket.
  */
object CdcTail {
  val Host = "127.0.0.1"
  /** The run is invalid, not fast, if the generator's p99 lateness against
    * its own schedule exceeds this.
    */
  val MaxLateMs = 50.0
  val WarmupS = 5
  /** p95, not p99: the continuous writer reopens its hub connection at
    * every epoch, and the few changes caught at an epoch boundary make
    * p99 jump from run to run.
    */
  val TailPct = 0.95

  /** Open-loop committer: change i is due at start + i / rate, whatever
    * happened to change i - 1.
    */
  final class Generator(url: String, seed: Long, traffic: Gen.Traffic) {
    private val conn = java.sql.DriverManager.getConnection(url)
    private val ins = conn.prepareStatement("INSERT INTO events VALUES (?, ?, ?, ?, ?)")
    private val changes = new Gen.Changes(seed, traffic, 0L, 1704067200000000L)
    val due = scala.collection.mutable.HashMap.empty[Long, Long]
    val committed = scala.collection.mutable.HashMap.empty[Long, Long]
    val lateNs = scala.collection.mutable.ArrayBuffer.empty[Long]
    val commitNs = scala.collection.mutable.ArrayBuffer.empty[Long]
    val lastId = new AtomicLong(-1L)

    /** Commits changes on schedule from now until `untilNano`. */
    def runUntil(untilNano: Long): Unit = {
      val period = (1e9 / traffic.rate).toLong
      val origin = System.nanoTime()
      var i = 0L
      while (origin + i * period < untilNano) {
        val dueAt = origin + i * period
        var now = System.nanoTime()
        while (now < dueAt) { LockSupport.parkNanos(dueAt - now); now = System.nanoTime() }
        val c = changes.next()
        ins.setLong(1, c.eventId); ins.setTimestamp(2, Gen.timestamp(c.tsMicros))
        ins.setLong(3, c.userId); ins.setString(4, c.eventType); ins.setString(5, c.props)
        val s = System.nanoTime()
        ins.execute() // autocommit: visible to the next poll
        val e = System.nanoTime()
        due(c.eventId) = dueAt; committed(c.eventId) = e
        lateNs += s - dueAt; commitNs += e - s
        lastId.set(c.eventId)
        i += 1
      }
    }
    def close(): Unit = conn.close()
  }

  def run(spark: SparkSession, w: Workload.Ctx, progress: ProgressLog): Workload.Result = {
    import spark.implicits._
    val traffic = Gen.TailTraffic
    Gen.selfCheck(w.seed, traffic)
    val url = s"jdbc:derby:memory:tail_${w.seed};create=true"
    val setupConn = java.sql.DriverManager.getConnection(url)
    setupConn.createStatement().execute(
      "CREATE TABLE events (event_id BIGINT PRIMARY KEY, ts TIMESTAMP, user_id BIGINT, " +
        "event_type VARCHAR(32), props VARCHAR(8000))")
    setupConn.close()

    val hub = new ListenServer()
    val arrivals = Seq("diff", "tail").map(k => k -> new ConcurrentHashMap[java.lang.Long, java.lang.Long]()).toMap
    val clients = arrivals.map { case (kind, arr) =>
      val t = new Thread(() =>
        try PqsClient.run(Host, hub.boundPort, s"^$kind$$", { line =>
          arr.put(PqsClient.eventId(line), System.nanoTime()); ()
        }) catch { case _: java.io.IOException => () }, s"pqs-$kind")
      t.setDaemon(true); t.start(); t
    }
    val subDeadline = System.nanoTime() + 30000000000L
    while (hub.subscriberCount < 2 && System.nanoTime() < subDeadline) Thread.sleep(5)
    require(hub.subscriberCount == 2, "subscribers did not register with the hub")

    // diff: the README's low-latency operating point, one state partition
    val prior = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    val diff: StreamingQuery = Graft.withPrevImages(Graft.cdcStream(spark, url, "events").as[CdcStream.RawChange])
      .select(lit("diff").as("table"),
        Listen.eventJson(lit("public"), lit("events"), col("op"), col("event_id"),
          col("payload"), col("changes")).as("event"))
      .writeStream.queryName("diff")
      .foreach(new StampedWriter(ListenSink.writer(Host, hub.boundPort), "diff"))
      .option("checkpointLocation", s"${w.work}/chk/diff")
      .start()
    spark.conf.set("spark.sql.shuffle.partitions", prior)
    val tail: StreamingQuery = Graft.liveTail(spark, url, "events")
      .select(lit("tail").as("table"), col("event"))
      .writeStream.queryName("tail")
      .foreach(new StampedWriter(ListenSink.continuousWriter(Host, hub.boundPort), "tail"))
      .option("checkpointLocation", s"${w.work}/chk/tail")
      .trigger(Trigger.Continuous("5 seconds"))
      .start()

    val gen = new Generator(url, w.seed, traffic)
    progress.lagOf = () => gen.lastId.get
    def allArrived(ids: Iterable[Long]): Boolean =
      ids.forall(id => arrivals.values.forall(_.containsKey(id)))
    // warm-up: the same traffic, untimed, until both paths deliver
    val warmEnd = System.nanoTime() + WarmupS * 1000000000L
    gen.runUntil(warmEnd)
    val warmIds = (0L to gen.lastId.get).toSeq
    val warmDeadline = System.nanoTime() + 30000000000L
    while (!allArrived(warmIds) && System.nanoTime() < warmDeadline) Thread.sleep(10)
    val firstTimed = gen.lastId.get + 1
    gen.lateNs.clear(); gen.commitNs.clear()
    val setupDone = Trace.now()
    w.timed(true)
    gen.runUntil(System.nanoTime() + w.seconds * 1000000000L)
    val lastTimed = gen.lastId.get
    val drainDeadline = System.nanoTime() + 20000000000L
    val allIds = (0L to lastTimed).toSeq
    while (!allArrived(allIds) && System.nanoTime() < drainDeadline) Thread.sleep(10)
    w.timed(false)
    diff.stop(); tail.stop()
    hub.close(); gen.close()
    clients.foreach(_.join(5000))

    val timed = (firstTimed to lastTimed).toSeq
    val lat = arrivals.map { case (kind, arr) =>
      kind -> timed.flatMap(id => Option(arr.get(id)).map(a => (a - gen.due(id)) / 1e6))
    }
    // deliveries per second, from the first timed change's due time to the
    // last timed arrival
    val lastArrival = timed.flatMap(id => arrivals.values.flatMap(a => Option(a.get(id)).map(_.longValue)))
    val window = if (lastArrival.isEmpty) w.seconds.toDouble
      else (lastArrival.max - gen.due(firstTimed)) / 1e9
    val lost = allIds.map(id => arrivals.values.count(!_.containsKey(id))).sum
    val late = gen.lateNs.map(_ / 1e6).toSeq
    val lateP99 = Stats.pct(late, 0.99)
    val valid = lateP99 <= MaxLateMs

    // per-layer: writer stamps (traced only) split each delivery in two;
    // one span tree per event, rooted at its due time
    val roots = if (!Trace.enabled) Map.empty[Long, Long] else timed.map { id =>
      val d = gen.due(id)
      val end = (arrivals.values.flatMap(a => Option(a.get(id)).map(_.longValue)) ++ Seq(d)).max
      val root = Trace.record("cdc.event", s"e:$id", Trace.fromNano(d), Trace.fromNano(end))
      Trace.record("gen.commit", s"e:$id", Trace.fromNano(d), Trace.fromNano(gen.committed(id)), root)
      id -> root
    }.toMap
    def split(kind: String): (Seq[Double], Seq[Double]) = {
      val stamps = Stamps.of(kind)
      val parts = timed.flatMap { id =>
        for (p <- Option(stamps.get(id)); a <- Option(arrivals(kind).get(id))) yield {
          val c = gen.committed(id)
          val root = roots.getOrElse(id, 0L)
          Trace.record(s"listen.$kind.capture", s"e:$id", Trace.fromNano(c), Trace.fromNano(p), root)
          Trace.record(s"listen.$kind.deliver", s"e:$id", Trace.fromNano(p), Trace.fromNano(a), root)
          ((p - c) / 1e6, (a - p) / 1e6)
        }
      }
      (parts.map(_._1), parts.map(_._2))
    }
    val (dCap, dDel) = split("diff")
    val (tCap, tDel) = split("tail")
    Workload.Result(
      setupNs = setupDone - w.sessionReady,
      attempted = 2L * allIds.size,
      failed = lost,
      e2e = Seq(
        ("op_p50_ms", Stats.median(lat("diff")), "ms"),
        ("op_tail_ms", Stats.pct(lat("diff"), TailPct), "ms"),
        ("aux_p50_ms", Stats.median(lat("tail")), "ms"),
        ("aux_tail_ms", Stats.pct(lat("tail"), TailPct), "ms"),
        ("ops_per_s", (lat("diff").size + lat("tail").size) / window, "1/s")),
      perLayer = Streams.layers(progress, Seq("diff"), Seq("diff")) ++ Seq(
        ("listen.diff.capture_ms", Stats.median(dCap), "ms"),
        ("listen.diff.deliver_ms", Stats.median(dDel), "ms"),
        ("listen.tail.capture_ms", Stats.median(tCap), "ms"),
        ("listen.tail.deliver_ms", Stats.median(tDel), "ms"),
        ("listen.dropped", hub.droppedCount.toDouble, "count"),
        ("gen.late_ms_p99", lateP99, "ms"),
        ("gen.late_ms_max", if (late.isEmpty) 0.0 else late.max, "ms"),
        ("gen.commit_ms", Stats.median(gen.commitNs.map(_ / 1e6).toSeq), "ms")),
      info = Seq(
        "valid" -> valid.toString,
        "rate_per_s" -> Json.num(traffic.rate),
        "timed_events" -> timed.size.toString,
        "samples_diff" -> lat("diff").size.toString,
        "samples_tail" -> lat("tail").size.toString,
        "tail" -> Json.str(s"p${(TailPct * 100).round}"),
        "events_lost" -> lost.toString,
        "listen_dropped" -> hub.droppedCount.toString,
        "gen_late_ms_p99" -> Json.num(lateP99),
        "traffic_digest" -> Json.str(Gen.digest(w.seed, traffic, 2000))))
  }
}
