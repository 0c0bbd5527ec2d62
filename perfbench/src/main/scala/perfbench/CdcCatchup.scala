package perfbench

import graft.Graft
import graft.cdc.EventLog
import graft.functions.MergePatch
import graft.sources.Layout
import graft.streaming.{CdcSink, CdcStream}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum, when, xxhash64}
import org.apache.spark.sql.streaming.StreamingQuery

/** `cdc_catchup`: a seeded backlog (Zipf keys, nested payloads of mixed
  * size) committed to Derby during set-up is drained by two independent
  * exactly-once queries running concurrently, with the default one state
  * partition per core:
  *
  *  - archive: `cdcStream` → `withPrevImages` → `Layout.appendArchiveBatch`
  *    (the `Layout.archiveStream` sink);
  *  - mirror: raw `cdcStream` → `CdcSink.upsertBatch` (the `CdcSink.deliver`
  *    sink) into a Derby mirror table.
  *
  * One round loads a fresh backlog, then drains it; an untimed round warms
  * up, then rounds repeat until the run's drain time is used up.
  * Each round's outputs are checked after its drain, outside the timed
  * region.
  */
object CdcCatchup {
  val BacklogRows = 20000
  val WarmupRows = 10000

  private val Ddl = "(event_id BIGINT PRIMARY KEY, ts TIMESTAMP, user_id BIGINT, " +
    "event_type VARCHAR(32), props VARCHAR(32000))"

  /** Per-row visibility: milliseconds from drain start until the sink call
    * of the row's batch returned.
    */
  final case class Round(name: String, rows: Int, setupNs: Long, drainNs: Long,
                         archiveVisibleMs: Seq[Double], mirrorVisibleMs: Seq[Double],
                         archiveBatches: Seq[(Long, Long, Long)],
                         mirrorBatches: Seq[(Long, Long, Long)], mismatches: Long)

  def run(spark: SparkSession, w: Workload.Ctx, progress: ProgressLog): Workload.Result = {
    import spark.implicits._
    val traffic = Gen.CatchupTraffic
    Gen.selfCheck(w.seed, traffic)

    def round(name: String, rows: Int, counted: Boolean): Round = {
      val s0 = System.nanoTime()
      val url = s"jdbc:derby:memory:catchup_${w.seed}_$name;create=true"
      val backlog = new Gen.Changes(w.seed * 1000 + name.hashCode, traffic, 0L, 1704067200000000L)
      val cs = Vector.fill(rows)(backlog.next())
      val conn = java.sql.DriverManager.getConnection(url)
      try {
        conn.createStatement().execute(s"CREATE TABLE events $Ddl")
        conn.createStatement().execute(s"CREATE TABLE mirror $Ddl")
        conn.setAutoCommit(false)
        val ins = conn.prepareStatement("INSERT INTO events VALUES (?, ?, ?, ?, ?)")
        cs.grouped(1000).foreach { chunk =>
          chunk.foreach { c =>
            ins.setLong(1, c.eventId); ins.setTimestamp(2, Gen.timestamp(c.tsMicros))
            ins.setLong(3, c.userId); ins.setString(4, c.eventType); ins.setString(5, c.props)
            ins.addBatch()
          }
          ins.executeBatch(); conn.commit()
        }
      } finally { conn.rollback(); conn.close() }
      progress.lagOf = () => rows - 1L
      val archivePath = s"${w.work}/archive/$name"
      val archiveSink = new TimedBatches("archive.append", s"archive_$name",
        (df, id) => { Layout.appendArchiveBatch(df, archivePath, id); () })
      val mirrorSink = new TimedBatches("sink.upsert", s"mirror_$name",
        CdcSink.upsertBatch(url, "mirror") _)
      val s1 = System.nanoTime()

      w.timed(counted)
      val archiveQ = Graft.withPrevImages(Graft.cdcStream(spark, url, "events", w.cores)
          .as[CdcStream.RawChange]).toDF()
        .writeStream.queryName(s"archive_$name")
        .foreachBatch(archiveSink.apply _)
        .option("checkpointLocation", s"${w.work}/chk/archive_$name").start()
      val mirrorQ = Graft.cdcStream(spark, url, "events", w.cores)
        .writeStream.queryName(s"mirror_$name")
        .foreachBatch(mirrorSink.apply _)
        .option("checkpointLocation", s"${w.work}/chk/mirror_$name").start()
      archiveQ.processAllAvailable(); mirrorQ.processAllAvailable()
      val s2 = System.nanoTime()
      archiveQ.stop(); mirrorQ.stop()
      w.timed(false)

      def batches(t: TimedBatches) = t.batches.toArray(Array.empty[(Long, Long, Long)]).toSeq
      def visible(q: StreamingQuery, bs: Seq[(Long, Long, Long)]): Seq[Double] = {
        val rowsOf = q.recentProgress.map(p => p.batchId -> p.numInputRows).toMap
        bs.flatMap { case (b, _, end) => Seq.fill(rowsOf.getOrElse(b, 0L).toInt)((end - s1) / 1e6) }
      }
      Round(name, rows, s1 - s0, s2 - s1,
        visible(archiveQ, batches(archiveSink)), visible(mirrorQ, batches(mirrorSink)),
        batches(archiveSink), batches(mirrorSink), check(spark, url, archivePath, cs))
    }

    // one untimed round first: codegen, JIT, state store and Derby warm up
    val warm = round("warmup", WarmupRows, counted = false)
    val warmEnd = Trace.now()
    val rounds = Vector.newBuilder[Round]
    var drained = 0L
    var i = 0
    while (drained < w.seconds * 1000000000L) {
      val r = round(s"r$i", BacklogRows, counted = true)
      drained += r.drainNs
      rounds += r
      i += 1
    }
    val rs = rounds.result()
    val arch = rs.flatMap(_.archiveVisibleMs)
    val mirr = rs.flatMap(_.mirrorVisibleMs)
    val names = rs.map(_.name)
    def busy(bs: Seq[(Long, Long, Long)]) = bs.map(b => (b._3 - b._2) / 1e9).sum
    Workload.Result(
      // warm-up round plus one (median) round's load: set-up repeated per round
      setupNs = warmEnd - w.sessionReady + Stats.median(rs.map(_.setupNs.toDouble)).toLong,
      attempted = 2L * (warm.rows + rs.map(_.rows).sum),
      failed = warm.mismatches + rs.map(_.mismatches).sum,
      e2e = Seq(
        ("op_p50_ms", Stats.median(arch), "ms"),
        ("op_tail_ms", Stats.pct(arch, 0.99), "ms"),
        ("aux_p50_ms", Stats.median(mirr), "ms"),
        ("aux_tail_ms", Stats.pct(mirr, 0.99), "ms"),
        ("ops_per_s", Stats.median(rs.map(r => r.rows / (r.drainNs / 1e9))), "1/s")),
      perLayer = Streams.layers(progress, names.flatMap(n => Seq(s"archive_$n", s"mirror_$n")),
          names.map(n => s"archive_$n")) ++ Seq(
        ("sink.upsert_s", busy(rs.flatMap(_.mirrorBatches)), "s"),
        ("sink.rows", rs.map(_.rows).sum.toDouble, "rows"),
        ("sink.batches", rs.map(_.mirrorBatches.size).sum.toDouble, "count"),
        ("archive.append_s", busy(rs.flatMap(_.archiveBatches)), "s"),
        ("archive.files", names.map(n => countParquet(new java.io.File(s"${w.work}/archive/$n"))).sum.toDouble,
          "count")),
      info = Seq(
        "rounds" -> rs.size.toString,
        "rows_per_round" -> BacklogRows.toString,
        "drain_s" -> rs.map(r => Json.num(r.drainNs / 1e9)).mkString("[", ",", "]"),
        "round_setup_s" -> rs.map(r => Json.num(r.setupNs / 1e9)).mkString("[", ",", "]"),
        "tail" -> Json.str("p99"),
        "catchup_errors" -> (warm.mismatches + rs.map(_.mismatches).sum).toString,
        "traffic_digest" -> Json.str(Gen.digest(w.seed, traffic, 2000))))
  }

  private def countParquet(f: java.io.File): Int =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(countParquet).sum
    else if (f.getName.endsWith(".parquet")) 1 else 0

  /** Whether the archive equals a batch recomputation of the same backlog
    * (`EventLog.normalize` + merge patch) and the mirror equals the source
    * table, each compared as a multiset of rows (count and a sum of 64-bit
    * row hashes); the count of rows in any side that fails to match.
    */
  def check(spark: SparkSession, url: String, archive: String, backlog: Seq[Gen.Change]): Long = {
    import spark.implicits._
    val src = backlog.map(c => (c.eventId, Gen.timestamp(c.tsMicros), c.userId, c.eventType, c.props))
      .toDF("event_id", "ts", "user_id", "event_type", "props")
    val expected = EventLog.normalize(src)
      .select(col("event_id"), col("user_id"), col("op"), col("props").as("payload"),
        col("prev_props").as("previous"),
        when(col("op") === "UPDATE" && col("prev_props").isNotNull,
          MergePatch.json_merge_patch(col("props"), col("prev_props"))).as("changes"))
    val got = spark.read.parquet(archive)
      .select("event_id", "user_id", "op", "payload", "previous", "changes")
    def table(t: String) = spark.read.format("jdbc").option("url", url).option("dbtable", t).load()
      .select("event_id", "ts", "user_id", "event_type", "props")
    def digest(df: DataFrame): (Long, Long) = {
      val r = df.select(count(lit(1)), sum(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)")))
        .head()
      (r.getLong(0), Option(r.getDecimal(1)).map(_.longValue).getOrElse(0L))
    }
    def mismatch(a: DataFrame, b: DataFrame): Long = {
      val (da, db) = (digest(a), digest(b))
      if (da == db) 0L else math.max(da._1, db._1)
    }
    mismatch(expected, got) + mismatch(table("events"), table("mirror"))
  }
}
