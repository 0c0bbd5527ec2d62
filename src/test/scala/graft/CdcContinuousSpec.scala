package graft

import graft.streaming.{CdcSource, CdcStream}
import graft.streaming.CdcStream.RawChange
import java.sql.Timestamp
import org.apache.spark.sql.Row
import org.apache.spark.sql.ForeachWriter
import org.apache.spark.sql.streaming.Trigger

/** Static arrival collector for continuous-mode specs: `ForeachWriter`
  * instances are serialized to the task, so arrivals land in a JVM-wide
  * registry keyed by probe name (local mode — one JVM).
  */
object ContinuousCollector {
  val arrived = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.ConcurrentLinkedQueue[String]]()
  def queue(name: String): java.util.concurrent.ConcurrentLinkedQueue[String] =
    arrived.computeIfAbsent(name, _ => new java.util.concurrent.ConcurrentLinkedQueue[String]())
}

final class CollectingWriter(name: String) extends ForeachWriter[Row] {
  override def open(partitionId: Long, epochId: Long): Boolean = true
  override def process(row: Row): Unit = {
    ContinuousCollector.queue(name).add(row.mkString("|")); ()
  }
  override def close(errorOrNull: Throwable): Unit = ()
}

/** Continuous-processing path of the DSv2 CDC source (`Trigger.Continuous`):
  * one long-lived tail-polling reader, epoch-grain offsets — the engine's
  * counterpart of the reference's push loop (`server.go:98-109`). These
  * specs pin delivery, the statelessEvents composition (the only legal
  * stage shape — map-like), and offset resume across a restart.
  */
class CdcContinuousSpec extends SparkSuite {

  private def t(s: Long) = new Timestamp(1700000000000L + s * 1000)

  private def await(cond: => Boolean, ms: Long = 30000): Unit = {
    val deadline = System.nanoTime() + ms * 1000000L
    while (!cond && System.nanoTime() < deadline) Thread.sleep(20)
    assert(cond, s"condition not met within ${ms}ms")
  }

  test("continuous trigger delivers rows off the epoch path; values match the batch row shape") {
    val feed = CdcSource.FeedRegistry.get("cont1")
    val df = spark.readStream.format("graft.streaming.CdcSourceProvider")
      .option("feed", "cont1").option("continuousPollMs", "1").load()
    val q = df.writeStream.foreach(new CollectingWriter("cont1"))
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("cont_ckpt").toString)
      // LONG epoch (10 s) on purpose: rows must still arrive promptly,
      // proving record delivery is NOT gated on epoch commits (the whole
      // point of continuous mode vs micro-batch)
      .trigger(Trigger.Continuous("10 seconds"))
      .start()
    try {
      feed.append(
        RawChange(1, t(0), 1, "signup", """{"k":1}"""),
        RawChange(2, t(1), 2, "purchase", """{"k":2}"""))
      val t0 = System.nanoTime()
      await(ContinuousCollector.queue("cont1").size >= 2)
      val deliverMs = (System.nanoTime() - t0) / 1e6
      assert(deliverMs < 9000, s"arrival took ${deliverMs}ms — epoch-gated, not continuous")
      feed.append(RawChange(3, t(2), 1, "view", """{"k":3}"""))
      await(ContinuousCollector.queue("cont1").size >= 3)
      import scala.jdk.CollectionConverters._
      val rows = ContinuousCollector.queue("cont1").asScala.toSeq.sorted
      assert(rows.size == 3, s"duplicate or lost rows: $rows")
      assert(rows.head.startsWith("1|"), rows.head)
      assert(rows.head.contains("signup") && rows.head.contains("""{"k":1}"""), rows.head)
    } finally q.stop()
  }

  test("statelessEvents composes under Trigger.Continuous (projection-only plan)") {
    import spark.implicits._
    val feed = CdcSource.FeedRegistry.get("cont2")
    val raw = spark.readStream.format("graft.streaming.CdcSourceProvider")
      .option("feed", "cont2").option("continuousPollMs", "1").load()
    val events = CdcStream.statelessEvents(raw.as[RawChange],
      redactions = Map("public" -> Map("events" -> Seq("secret"))))
    val q = events.writeStream.foreach(new CollectingWriter("cont2"))
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("cont_ckpt2").toString)
      .trigger(Trigger.Continuous("1 second"))
      .start()
    try {
      // id 12 is an erasure sentinel (StateErasure.eraseSentinels' shape):
      // a command for the stateful handlers, never a subscriber event; id
      // 13 follows it on the same reader, so its arrival means 12 was read
      feed.append(
        RawChange(10, t(0), 1, "purchase", """{"k": 1, "secret": "x"}"""),
        RawChange(11, t(1), 2, "error", """{"k": 2}"""),
        RawChange(12, null, 3, "erase", null),
        RawChange(13, t(3), 4, "view", """{"k": 4}"""))
      import scala.jdk.CollectionConverters._
      def ids = ContinuousCollector.queue("cont2").asScala.toSeq.map(_.takeWhile(_ != '|'))
      await(ids.contains("13"))
      assert(ids.sorted == Seq("10", "11", "13"), s"sentinel delivered as an event: $ids")
      val byId = ContinuousCollector.queue("cont2").asScala.toSeq.sortBy(_.takeWhile(_ != '|'))
      // UPDATE row: envelope present, redaction applied inside the payload
      assert(byId.head.contains(""""op":"UPDATE""""), byId.head)
      assert(!byId.head.contains("secret"), s"redaction must strip the field: ${byId.head}")
      // DELETE row (error event): payload omitted, jsonpb omit-absent shape
      assert(byId(1).contains(""""op":"DELETE""""), byId(1))
      assert(!byId(1).contains("payload"), byId(1))
    } finally q.stop()
  }

  test("mod-3 partitioned continuous readers: full coverage, no duplicates, per-partition offsets") {
    val feed = CdcSource.FeedRegistry.get("cont4")
    val ckpt = java.nio.file.Files.createTempDirectory("cont_ckpt4").toString
    def start() = spark.readStream.format("graft.streaming.CdcSourceProvider")
      .option("feed", "cont4").option("continuousPollMs", "1")
      .option("continuousPartitions", "3").load()
      .writeStream.foreach(new CollectingWriter("cont4"))
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.Continuous("200 milliseconds"))
      .start()

    import scala.jdk.CollectionConverters._
    def ids = ContinuousCollector.queue("cont4").asScala.toSeq
      .map(_.takeWhile(_ != '|').toLong)

    val q1 = start()
    try {
      // ids spanning every mod-3 class, delivered across three readers
      feed.append((1L to 9L).map(i =>
        RawChange(i, t(i), i % 4, "view", s"""{"k":$i}""")): _*)
      await(ids.toSet == (1L to 9L).toSet)
      assert(ids.size == 9, s"duplicate delivery: $ids")
      Thread.sleep(800) // epochs commit -> per-partition offset map persisted
    } finally q1.stop()

    // per-partition resume: new rows in every class, nothing re-emitted
    // from committed epochs, nothing lost
    feed.append((10L to 15L).map(i =>
      RawChange(i, t(i), i % 4, "view", s"""{"k":$i}""")): _*)
    val q2 = start()
    try {
      await((10L to 15L).forall(i => ids.contains(i)))
      assert(ids.toSet == (1L to 15L).toSet, s"lost or phantom rows: ${ids.sorted}")
    } finally q2.stop()
  }

  test("restart from checkpoint resumes from a committed epoch: no loss, dups only at epoch grain") {
    val feed = CdcSource.FeedRegistry.get("cont3")
    val ckpt = java.nio.file.Files.createTempDirectory("cont_ckpt3").toString
    def start() = spark.readStream.format("graft.streaming.CdcSourceProvider")
      .option("feed", "cont3").option("continuousPollMs", "1").load()
      .writeStream.foreach(new CollectingWriter("cont3"))
      .option("checkpointLocation", ckpt)
      // short epoch so the first run's rows land in a COMMITTED epoch
      .trigger(Trigger.Continuous("200 milliseconds"))
      .start()

    import scala.jdk.CollectionConverters._
    def ids = ContinuousCollector.queue("cont3").asScala.toSeq
      .map(_.takeWhile(_ != '|').toLong)

    val q1 = start()
    try {
      feed.append(RawChange(1, t(0), 1, "signup", """{"k":1}"""))
      await(ids.contains(1L))
      Thread.sleep(1000) // let epochs commit past the delivered row
    } finally q1.stop()

    // a row arriving while the query is DOWN must be delivered on restart
    feed.append(RawChange(2, t(1), 1, "view", """{"k":2}"""))
    val q2 = start()
    try {
      await(ids.contains(2L))
      // at-least-once: no loss ever; duplicates only from open-epoch replay
      assert(ids.toSet == Set(1L, 2L), s"lost or phantom rows: $ids")
    } finally q2.stop()
  }
}
