package perfbench

import java.util.concurrent.atomic.AtomicLong

import graft.SparkEntry
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** `catalog`: one closed-loop client runs `SparkEntry.queries` entries back
  * to back over seeded tables, each result materialized through the `noop`
  * sink. An untimed warm-up pass writes every result once for the oracle
  * check; timed passes follow, each in a fresh seed-shuffled order, until
  * the run's time is up.
  */
object Catalog {

  /** Scale of the generated tables (TPC-H rows × `Sf`). Small on purpose:
    * at this size a query's time is mostly its fixed per-query cost —
    * plan building, analysis, planning, job scheduling — which dominates
    * the full catalog at every scale the project measures, while the heavy
    * families below still do real work.
    */
  val Sf = 0.001

  /** At least three timed passes: ~50 query executions. The tail metric is
    * the mean of the slowest quarter of them (twelve or more samples):
    * with a fixed query set, a single high percentile sits on whichever
    * query happens to rank there and jumps between queries from run to run.
    */
  val MinPasses = 3
  val TailShare = 0.25

  /** The timed query set: light (overhead-bound) queries from every
    * family next to the heavy shapes (pair-explosion dedup, connected
    * components, PQ search). The whole catalog does not fit one run; the
    * set is fixed so that seeds change the data and the order, not the
    * work.
    */
  val Timed: Seq[String] = Seq(
    "cdc_changes", "cdc_prev_image", "cdc_snapshot",
    "q1_pricing", "ops_sessionize", "ops_rank_suite", "ops_dau_wau", "ops_q9_profit",
    "ops_simhash_pairs", "ops_dedup_cc", "ops_sim_pq", "ops_text_stats",
    "ops_pii_scan", "ops_png_decode", "ops_gz_source", "ops_bloom_prune")

  final case class Exec(name: String, buildNs: Long, execNs: Long, analysisNs: Long) {
    def totalNs: Long = buildNs + execNs
  }

  /** Optimization and planning time of every query execution Spark reports
    * (the noop writes and any eager actions inside a query's build).
    */
  final class Phases extends QueryExecutionListener {
    val optimizationNs = new AtomicLong(); val planningNs = new AtomicLong()
    val writes = new AtomicLong()
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      ph.get("optimization").foreach(p => optimizationNs.addAndGet(p.durationMs * 1000000L))
      ph.get("planning").foreach(p => planningNs.addAndGet(p.durationMs * 1000000L))
      if (funcName == "overwrite") writes.incrementAndGet()
      ()
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def run(spark: SparkSession, w: Workload.Ctx): Workload.Result = {
    val data = s"${w.work}/data"
    val checkDir = s"${w.work}/check"
    val catalog = SparkEntry.queries
    Families.check(catalog.keySet)
    val oracle = SparkEntry.oracleSql
    val missing = Timed.filterNot(q => catalog.contains(q) && oracle.contains(q))
    require(missing.isEmpty,
      s"timed queries missing from the catalog or its oracles: ${missing.mkString(", ")}")

    val g0 = System.nanoTime()
    Gen.writeCatalogTables(spark, data, w.seed, Sf)
    val g1 = System.nanoTime()
    val shuffler = new scala.util.Random(Gen.rng(w.seed, "order").nextLong())

    // warm-up pass: untimed; its outputs are what the oracle check reads
    val failedWarm = shuffler.shuffle(Timed).filterNot { q =>
      try {
        catalog(q)(spark, data).coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$q")
        true
      } catch { case e: Exception =>
        System.err.println(s"[perfbench] $q failed in warm-up: $e"); false }
    }
    Files.write(s"$checkDir/oracle_sql.json", Json.obj(Timed.map(q => q -> Json.str(oracle(q)))))
    Files.write(s"$checkDir/tables.json",
      Json.obj(graft.Tables.names.map(t => t -> Json.str(s"$data/$t.parquet"))))
    val g2 = System.nanoTime()
    val phases = new Phases
    if (Trace.enabled) spark.listenerManager.register(phases)
    val setupDone = Trace.now()
    w.timed(true)

    // whole passes only, so every seed times the same multiset of queries
    val execs = Vector.newBuilder[Exec]
    val failedTimed = scala.collection.mutable.ArrayBuffer.empty[String]
    var passes = 0
    val deadline = setupDone + w.seconds * 1000000000L
    while (passes < MinPasses || Trace.now() < deadline) {
      shuffler.shuffle(Timed).foreach { q =>
        val trace = s"q:$q:$passes"
        Trace.span("catalog.query", trace) { root =>
          spark.sparkContext.setLocalProperty("perfbench.trace", trace)
          spark.sparkContext.setLocalProperty("perfbench.span", root.toString)
          try {
            val t0 = System.nanoTime()
            val df = Trace.span("entry.build", trace, root)(_ => catalog(q)(spark, data))
            val t1 = System.nanoTime()
            Trace.span("entry.exec", trace, root) { _ =>
              df.write.format("noop").mode("overwrite").save()
            }
            val t2 = System.nanoTime()
            val analysis = df.queryExecution.tracker.phases.get("analysis").map { s =>
              Trace.record("entry.analysis", trace, s.startTimeMs * 1000000L, s.endTimeMs * 1000000L, root)
              s.durationMs * 1000000L
            }.getOrElse(0L)
            execs += Exec(q, t1 - t0, t2 - t1, analysis)
          } catch { case e: Exception =>
            System.err.println(s"[perfbench] $q failed: $e"); failedTimed += q }
        }
      }
      passes += 1
    }
    val window = (Trace.now() - setupDone) / 1e9
    w.timed(false)
    spark.sparkContext.setLocalProperty("perfbench.trace", null)
    spark.sparkContext.setLocalProperty("perfbench.span", null)
    val es = execs.result()
    if (Trace.enabled) {
      val until = System.nanoTime() + 10000000000L
      while (phases.writes.get < es.size && System.nanoTime() < until) Thread.sleep(10)
      spark.listenerManager.unregister(phases)
    }
    def ms(f: Exec => Long) = es.map(e => f(e) / 1e6)
    def perPass(ns: Double): Double = ns / 1e9 / passes
    def sum(f: Exec => Long): Double = es.map(f).sum.toDouble

    val famTimes = Families.byFamily.map(_._1).map { f =>
      val key = if (f == "cdc") "cdc.batch_s" else s"${f}_s"
      (key, perPass(sum(e => if (Families.of(e.name) == f) e.totalNs else 0L)), "s")
    }
    Workload.Result(
      setupNs = setupDone - w.sessionReady,
      attempted = Timed.size + es.size + failedTimed.size,
      failed = failedWarm.size + failedTimed.size,
      e2e = Seq(
        ("op_p50_ms", Stats.median(ms(_.totalNs)), "ms"),
        ("op_tail_ms", Stats.tailMean(ms(_.totalNs), TailShare), "ms"),
        ("aux_p50_ms", Stats.median(ms(_.buildNs)), "ms"),
        ("aux_tail_ms", Stats.tailMean(ms(_.buildNs), TailShare), "ms"),
        ("ops_per_s", es.size / window, "1/s")),
      perLayer = Seq(
        ("entry.build_s", perPass(sum(_.buildNs)), "s"),
        ("entry.analysis_s", perPass(sum(_.analysisNs)), "s"),
        ("entry.optimization_s", perPass(phases.optimizationNs.get.toDouble), "s"),
        ("entry.planning_s", perPass(phases.planningNs.get.toDouble), "s"),
        ("entry.exec_s", perPass(sum(_.execNs)), "s"),
        ("catalog.pass_s", perPass(sum(_.totalNs)), "s")) ++ famTimes,
      info = Seq(
        "queries" -> Timed.size.toString,
        "executions" -> es.size.toString,
        "passes" -> passes.toString,
        "tail" -> Json.str(s"mean of the slowest ${(TailShare * 100).round} %"),
        "failed_queries" -> Json.str((failedWarm ++ failedTimed).distinct.mkString(",")),
        "datagen_s" -> Json.num((g1 - g0) / 1e9),
        "warmup_pass_s" -> Json.num((g2 - g1) / 1e9),
        "query_ms" -> Json.obj(es.groupBy(_.name).toSeq.sortBy(_._1).map { case (q, xs) =>
          q -> Json.num(Stats.median(xs.map(_.totalNs / 1e6))) })))
  }
}
