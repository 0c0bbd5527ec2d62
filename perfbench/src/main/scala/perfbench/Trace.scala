package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** In-memory span recorder. A span has a name, a start and an end (epoch
  * nanoseconds), a parent span id (0 for a root) and a trace id shared by
  * every span of one query, event or micro-batch. Spans are kept in memory
  * and written once, when the run ends. With tracing off nothing is
  * recorded: `span` runs its body and returns.
  *
  * One JVM-wide instance, because sink wrappers run inside Spark tasks
  * (the same JVM under `local[n]`) and must reach it without capturing
  * the submitting thread's state in their closures.
  */
object Trace {
  final case class Span(id: Long, parent: Long, trace: String, name: String,
                        start: Long, end: Long)

  @volatile var enabled: Boolean = false
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val t0Wall = System.currentTimeMillis() * 1000000L
  private val t0Nano = System.nanoTime()

  /** Epoch nanoseconds from the monotonic clock. */
  def now(): Long = t0Wall + (System.nanoTime() - t0Nano)
  /** Epoch nanoseconds for a `System.nanoTime` reading. */
  def fromNano(nano: Long): Long = t0Wall + (nano - t0Nano)

  def record(name: String, trace: String, start: Long, end: Long, parent: Long = 0L): Long =
    if (!enabled) 0L
    else {
      val id = ids.incrementAndGet()
      spans.add(Span(id, parent, trace, name, start, end))
      id
    }

  /** Runs `body` inside a span; the body receives the span's own id so it
    * can parent child spans on it.
    */
  def span[T](name: String, trace: String, parent: Long = 0L)(body: Long => T): T =
    if (!enabled) body(0L)
    else {
      val id = ids.incrementAndGet()
      val s = now()
      try body(id)
      finally spans.add(Span(id, parent, trace, name, s, now()))
    }

  /** Every span, with each root that lies inside another span of its trace
    * re-parented on the innermost such span: spans recorded by different
    * threads (a trigger's engine phases, the sink call inside them) are
    * only linked once all of them exist. Engine phase times have
    * millisecond resolution, hence the slack.
    */
  def all: Seq[Span] = {
    val ss = spans.asScala.toSeq
    val slack = 5000000L
    val byTrace = ss.filter(_.trace.nonEmpty).groupBy(_.trace)
    ss.map { s =>
      if (s.parent != 0L || s.trace.isEmpty) s
      else byTrace(s.trace)
        .filter(o => o.id != s.id && o.start <= s.start + slack && o.end + slack >= s.end &&
          o.end - o.start > s.end - s.start)
        .minByOption(o => o.end - o.start)
        .fold(s)(o => s.copy(parent = o.id))
    }
  }

  /** Per span name: (count, total seconds, self seconds). Self time is a
    * span's duration minus the part of its interval its children cover.
    */
  def selfTimes(ss: Seq[Span]): Map[String, (Int, Double, Double)] = {
    val kids = ss.filter(_.parent != 0L).groupBy(_.parent)
    ss.groupBy(_.name).map { case (name, group) =>
      val total = group.map(s => (s.end - s.start).toDouble).sum
      val self = group.map { s =>
        val cs = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L; var cur = Long.MinValue
        cs.foreach { case (a, b) =>
          val from = math.max(a, cur)
          if (b > from) { covered += b - from; cur = b }
        }
        (s.end - s.start - covered).toDouble
      }.sum
      name -> ((group.size, total / 1e9, self / 1e9))
    }
  }

  def write(path: String): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try all.sortBy(_.start).foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"trace":${Json.str(s.trace)},""" +
        s""""name":${Json.str(s.name)},"start_ns":${s.start},"end_ns":${s.end}}""")
    } finally w.close()
  }
}

/** Spark execution counters for everything run while it is registered:
  * jobs, stages, tasks, task and GC time, shuffle and spill bytes, and per
  * stage the ratio of its slowest task to its median task. Records a span
  * per job and per stage (a job is parented on the span id the submitting
  * thread put in the `perfbench.span` local property) when tracing is on.
  */
final class ExecCounters extends SparkListener {
  @volatile var counting = false
  val jobs = new AtomicLong(); val stages = new AtomicLong(); val tasks = new AtomicLong()
  val taskNs = new AtomicLong(); val gcMs = new AtomicLong()
  val shuffleWrite = new AtomicLong(); val shuffleRead = new AtomicLong()
  val spill = new AtomicLong()
  private val taskTimes = new ConcurrentHashMap[Int, ConcurrentLinkedQueue[java.lang.Long]]()
  private val skews = new ConcurrentLinkedQueue[java.lang.Double]()
  private val jobParent = new ConcurrentHashMap[Int, (String, Long)]()
  private val stageJob = new ConcurrentHashMap[Int, Integer]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = if (counting) {
    jobs.incrementAndGet()
    val p = Option(e.properties)
    val trace = p.flatMap(x => Option(x.getProperty("perfbench.trace"))).getOrElse("")
    val parent = p.flatMap(x => Option(x.getProperty("perfbench.span"))).map(_.toLong).getOrElse(0L)
    jobParent.put(e.jobId, (trace, parent))
    e.stageIds.foreach(s => stageJob.put(s, Integer.valueOf(e.jobId)))
    jobStart.put(e.jobId, e.time * 1000000L)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { start =>
      val (trace, parent) = jobParent.getOrDefault(e.jobId, ("", 0L))
      Trace.record("spark.job", trace, start, e.time * 1000000L, parent)
      jobParent.remove(e.jobId)
    }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (counting) {
    stages.incrementAndGet()
    val info = e.stageInfo
    val ts = Option(taskTimes.remove(info.stageId)).map(_.asScala.map(_.longValue).toSeq.sorted)
      .getOrElse(Seq.empty)
    if (ts.nonEmpty) {
      val med = ts(ts.size / 2).max(1L)
      skews.add(ts.last.toDouble / med)
    }
    // no parent: `Trace.all` links the stage to its job's span by interval
    val trace = Option(stageJob.remove(info.stageId))
      .map(j => jobParent.getOrDefault(j.intValue, ("", 0L))._1).getOrElse("")
    for (s <- info.submissionTime; c <- info.completionTime)
      Trace.record("spark.stage", trace, s * 1000000L, c * 1000000L)
    ()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (counting) {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskNs.addAndGet(m.executorRunTime * 1000000L)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
    taskTimes.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[java.lang.Long]())
      .add(e.taskInfo.duration)
    ()
  }

  def metrics: Seq[(String, Double, String)] = {
    val sk = skews.asScala.map(_.doubleValue).toSeq
    Seq(
      ("spark.jobs", jobs.get.toDouble, "count"),
      ("spark.stages", stages.get.toDouble, "count"),
      ("spark.tasks", tasks.get.toDouble, "count"),
      ("spark.task_s", taskNs.get / 1e9, "s"),
      ("spark.gc_s", gcMs.get / 1e3, "s"),
      ("spark.shuffle_write_bytes", shuffleWrite.get.toDouble, "bytes"),
      ("spark.shuffle_read_bytes", shuffleRead.get.toDouble, "bytes"),
      ("spark.spill_bytes", spill.get.toDouble, "bytes"),
      ("spark.stage_skew", Stats.pct(sk, 0.95), "ratio"))
  }
}

/** Per-trigger progress of the micro-batch queries, by query name: the
  * engine's own phase durations, rows, state size and source lag.
  */
final class ProgressLog extends StreamingQueryListener {
  import ProgressLog.P
  val all = new ConcurrentLinkedQueue[P]()
  /** The generator's last committed id, read when each progress event
    * arrives; source lag is measured against it.
    */
  @volatile var lagOf: () => Long = () => -1L
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val end = p.sources.headOption.flatMap(s => Option(s.endOffset))
      .flatMap(o => """-?\d+""".r.findFirstIn(o)).map(_.toLong).getOrElse(-1L)
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    all.add(P(Option(p.name).getOrElse(""), p.numInputRows, d,
      p.stateOperators.map(_.numRowsTotal).sum, p.stateOperators.map(_.memoryUsedBytes).sum,
      math.max(0L, lagOf() - end)))
    if (Trace.enabled && p.numInputRows > 0) {
      // phase spans laid end to end from the trigger's start: Spark reports
      // durations only, in this execution order
      val start = java.time.Instant.parse(p.timestamp)
      var t = start.getEpochSecond * 1000000000L + start.getNano
      val trace = s"b:${p.name}:${p.batchId}"
      val root = Trace.record("stream.trigger", trace, t, t + d.getOrElse("triggerExecution", 0L) * 1000000L)
      Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
        .foreach { k =>
          d.get(k).foreach { ms =>
            Trace.record(s"stream.$k", trace, t, t + ms * 1000000L, root)
            t += ms * 1000000L
          }
        }
    }
  }
  def of(query: String): Seq[P] = all.asScala.filter(_.query == query).toSeq
}

object ProgressLog {
  final case class P(query: String, rows: Long, durations: Map[String, Long],
                     stateRows: Long, stateBytes: Long, lag: Long)
}

/** Capture-source and state-layer metrics from the progress of the named
  * micro-batch queries: per trigger with input rows, the median of each
  * engine phase; state size at the last trigger.
  */
object Streams {
  def layers(progress: ProgressLog, sourceQueries: Seq[String], stateQueries: Seq[String]): Seq[(String, Double, String)] = {
    val src = sourceQueries.flatMap(progress.of).filter(_.rows > 0)
    val st = stateQueries.flatMap(progress.of).filter(_.rows > 0)
    def d(ps: Seq[ProgressLog.P], k: String) = ps.map(_.durations.getOrElse(k, 0L).toDouble)
    val last = stateQueries.lastOption.flatMap(q => progress.of(q).lastOption)
    Seq(
      ("source.triggers", src.size.toDouble, "count"),
      ("source.rows_per_trigger", if (src.isEmpty) 0.0 else src.map(_.rows).sum.toDouble / src.size, "rows"),
      ("source.latest_offset_ms", Stats.median(d(src, "latestOffset")), "ms"),
      ("source.get_batch_ms", Stats.median(d(src, "getBatch")), "ms"),
      ("source.lag_rows", Stats.median(src.map(_.lag.toDouble)), "rows"),
      ("state.plan_ms", Stats.median(d(st, "queryPlanning")), "ms"),
      ("state.add_batch_ms", Stats.median(d(st, "addBatch")), "ms"),
      ("state.commit_ms", Stats.median(d(st, "commitOffsets")), "ms"),
      ("state.wal_ms", Stats.median(d(st, "walCommit")), "ms"),
      ("state.trigger_ms_p50", Stats.median(d(st, "triggerExecution")), "ms"),
      ("state.trigger_ms_p99", Stats.pct(d(st, "triggerExecution"), 0.99), "ms"),
      ("state.rows", last.map(_.stateRows.toDouble).getOrElse(0.0), "rows"),
      ("state.bytes", last.map(_.stateBytes.toDouble).getOrElse(0.0), "bytes"))
  }
}
