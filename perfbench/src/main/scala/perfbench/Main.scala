package perfbench

import java.lang.management.ManagementFactory

object Workload {
  /** `sessionReady`: epoch ns when the Spark session was up. `timed`
    * marks where the timed region starts and ends; Spark execution counters
    * count only inside it.
    */
  final case class Ctx(seed: Long, seconds: Int, work: String, cores: Int, sessionReady: Long,
                       timed: Boolean => Unit)

  /** `setupNs`: the workload's own set-up, from session ready to its first
    * timed operation. Metrics are (name, value, unit).
    */
  final case class Result(setupNs: Long, attempted: Long, failed: Long,
                          e2e: Seq[(String, Double, String)],
                          perLayer: Seq[(String, Double, String)],
                          info: Seq[(String, String)])
}

object Files {
  def write(path: String, s: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, s)
  }
}

/** Every per-layer metric, in report order, with its unit and which way is
  * better. A traced run reports all of them; a layer the workload does not
  * exercise reads 0.
  */
object PerLayer {
  val all: Seq[(String, String, String)] = Seq(
    ("entry.build_s", "s", "lower"), ("entry.analysis_s", "s", "lower"),
    ("entry.optimization_s", "s", "lower"), ("entry.planning_s", "s", "lower"),
    ("entry.exec_s", "s", "lower"), ("catalog.pass_s", "s", "lower"),
    ("cdc.batch_s", "s", "lower"), ("ops.Relational_s", "s", "lower"),
    ("ops.Dedup_s", "s", "lower"), ("ops.Similarity_s", "s", "lower"),
    ("ops.TextStats_s", "s", "lower"), ("ops.Curation_s", "s", "lower"),
    ("ops.Multimodal_s", "s", "lower"), ("sources_s", "s", "lower"),
    ("ops.BloomMembership_s", "s", "lower"),
    ("spark.jobs", "count", "lower"), ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"), ("spark.task_s", "s", "lower"),
    ("spark.gc_s", "s", "lower"), ("spark.shuffle_write_bytes", "bytes", "lower"),
    ("spark.shuffle_read_bytes", "bytes", "lower"), ("spark.spill_bytes", "bytes", "lower"),
    ("spark.stage_skew", "ratio", "lower"),
    ("source.triggers", "count", "lower"), ("source.rows_per_trigger", "rows", "higher"),
    ("source.latest_offset_ms", "ms", "lower"), ("source.get_batch_ms", "ms", "lower"),
    ("source.lag_rows", "rows", "lower"),
    ("state.plan_ms", "ms", "lower"), ("state.add_batch_ms", "ms", "lower"),
    ("state.commit_ms", "ms", "lower"), ("state.wal_ms", "ms", "lower"),
    ("state.trigger_ms_p50", "ms", "lower"), ("state.trigger_ms_p99", "ms", "lower"),
    ("state.rows", "rows", "lower"), ("state.bytes", "bytes", "lower"),
    ("listen.diff.capture_ms", "ms", "lower"), ("listen.diff.deliver_ms", "ms", "lower"),
    ("listen.tail.capture_ms", "ms", "lower"), ("listen.tail.deliver_ms", "ms", "lower"),
    ("listen.dropped", "count", "lower"),
    ("sink.upsert_s", "s", "lower"), ("sink.rows", "rows", "higher"),
    ("sink.batches", "count", "lower"),
    ("archive.append_s", "s", "lower"), ("archive.files", "count", "lower"),
    ("gen.late_ms_p99", "ms", "lower"), ("gen.late_ms_max", "ms", "lower"),
    ("gen.commit_ms", "ms", "lower"))

  /** The workload's own values over the full list; a name the list lacks
    * is a programming error.
    */
  def complete(got: Seq[(String, Double, String)]): Seq[(String, Double, String)] = {
    val known = all.map(_._1).toSet
    val extra = got.map(_._1).filterNot(known)
    require(extra.isEmpty, s"per-layer metrics missing from PerLayer.all: ${extra.mkString(", ")}")
    val byName = got.map(m => m._1 -> m).toMap
    all.map { case (n, u, _) => byName.getOrElse(n, (n, 0.0, u)) }
  }
}

/** Benchmark JVM: `--workload W --seed N --seconds S --trace 0|1 --work DIR`.
  * Writes its result as one JSON object to `DIR/result.json` (and the spans
  * of a traced run to `DIR/spans.jsonl`); `run.py` checks outputs and prints
  * the final line.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val trace = a("trace") == "1"
    val work = a("work")
    val cores = Runtime.getRuntime.availableProcessors()
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime * 1000000L
    Trace.enabled = trace

    val spark = graft.Graft.sessionBuilder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val exec = if (trace) {
      val l = new ExecCounters
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None
    // first Spark job of the JVM pays executor and codegen start-up
    spark.range(1000).selectExpr("sum(id)").collect()
    val ctx = Workload.Ctx(seed, seconds, work, cores, Trace.now(),
      on => exec.foreach(_.counting = on))

    val r = workload match {
      case "catalog"     => Catalog.run(spark, ctx)
      case "cdc_tail"    => CdcTail.run(spark, ctx, progress)
      case "cdc_catchup" => CdcCatchup.run(spark, ctx, progress)
      case other         => sys.error(s"unknown workload: $other")
    }
    val setupS = (ctx.sessionReady - jvmStart + r.setupNs) / 1e9
    def metrics(ms: Seq[(String, Double, String)]): String =
      Json.obj(ms.map { case (k, v, u) => k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })
    val perLayer = PerLayer.complete(r.perLayer ++ exec.map(_.metrics).getOrElse(Nil))
    if (trace) {
      Trace.write(s"$work/spans.jsonl")
      val self = Trace.selfTimes(Trace.all).toSeq.sortBy(-_._2._3)
      Files.write(s"$work/self_times.json", Json.obj(self.map { case (n, (c, tot, sf)) =>
        n -> Json.obj(Seq("count" -> c.toString, "total_s" -> Json.num(tot), "self_s" -> Json.num(sf)))
      }))
    }
    val rt = Runtime.getRuntime
    val stamp = Seq(
      "workload" -> Json.str(workload), "seed" -> seed.toString, "seconds" -> seconds.toString,
      "trace" -> (if (trace) "1" else "0"), "nproc" -> cores.toString,
      "heap_max_bytes" -> rt.maxMemory.toString,
      "jvm" -> Json.str(s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}"),
      "spark" -> Json.str(spark.version))
    Files.write(s"$work/result.json", Json.obj(Seq(
      "stamp" -> Json.obj(stamp),
      "attempted" -> r.attempted.toString,
      "failed" -> r.failed.toString,
      "e2e" -> metrics(("setup_s", setupS, "s") +: r.e2e),
      "per_layer" -> metrics(perLayer),
      "info" -> Json.obj(r.info))))
    spark.stop()
  }
}
