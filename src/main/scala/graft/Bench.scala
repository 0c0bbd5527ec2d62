package graft
import scala.util.control.NonFatal
import scala.collection.immutable.SeqMap
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()
    // warm up executor/codegen machinery so the first timed query doesn't
    // absorb one-time session init (~6 s); the region read goes through
    // Tables like every query's does
    spark.range(1000000).selectExpr("sum(id)").collect()
    Tables.load(spark, sfDir, "region").count()
    // optional args = query-name filter (single-query timing while iterating);
    // the driver invokes with no args -> full set, unchanged
    val wanted =
      if (args.nonEmpty) SparkEntry.queries.view.filterKeys(args.toSet).toMap
      else SparkEntry.queries
    // Each query is timed REPS times and the min reported: a single timed
    // pass is hostage to whatever else the box is doing (BENCH_r04 recorded
    // 26.3 s for a query two clean runs measure at 1.15 s — one contended
    // driver run distorted the round's headline artifact by >2×).
    // PASS-MAJOR interleaving (the r10 verdict's fix): the full query sweep
    // runs REPS times and the min is taken ACROSS passes. Query-major
    // back-to-back reps put both samples of one query inside the same
    // minutes-long host-contention window, so min-of-N couldn't filter it
    // (r10's artifact: ops_term_drift [0.96, 1.96] — both reps inside the
    // window, 3.3× apparent regression on untouched code). With a full
    // sweep (~minutes) between a query's samples, a drift window inflates
    // each query in at most ONE pass, and the min recovers the quiet
    // number by construction. Default raised to 3 passes per the same
    // verdict. A real regression slows EVERY pass, so nothing hides.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val order = wanted.keys.toSeq.sorted
    val samples = scala.collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)
    for (_ <- 1 to reps; name <- order) {
      val fn = wanted(name)
      // noop sink forces FULL materialization of every output column;
      // count() would let Spark prune projection work (an aggregation-only
      // count is not the query) — honest timing for projection-heavy ops
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case NonFatal(e) =>
          System.err.println(s"[bench] $name failed: $e"); false }
      // a failed query records -1, NOT its (near-zero) elapsed time — a
      // breakage must never improve the headline number
      samples(name) = samples(name) :+ (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
    }
    val results = order.map { name =>
      val times = samples(name)
      name -> ((if (times.exists(_ < 0)) -1.0 else times.min, times))
    }.toMap
    // ms-grain rounding keeps the artifact line short enough that the
    // driver's 2000-char stdout tail reaches past dozens of per-rep arrays
    // into the scalar summary; sub-ms digits are noise at these runtimes
    def f3(v: Double): Any =
      if (v < 0) -1 else BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP)
    val sorted = results.toSeq.sortBy(_._1)
    // per-rep raw times alongside the min: a contended run (one rep far
    // slower than the other) is identifiable from the artifact alone. The
    // top-level contract (metric/value/unit/queries/sf) is unchanged;
    // "times" is a sibling key that existing consumers ignore.
    val total = results.values.map(_._1).filter(_ >= 0).sum
    // key order is deliberate: "queries" first, per-rep "times" second, the
    // scalar summary (metric/value/unit/sf) LAST — the driver archives only
    // the final 2000 chars of output, so the tail carries the headline
    // value AND the last stretch of per-rep arrays (keys sorted, so WHICH
    // queries land in the tail is stable across rounds). JSON object key
    // order is semantically free, so consumers are unmoved.
    val line = Harness.line(
      "queries" -> SeqMap.from(sorted.map { case (k, (v, _)) => k -> f3(v) }),
      "times" -> SeqMap.from(sorted.map { case (k, (_, times)) => k -> times.map(f3) }),
      "metric" -> "total", "value" -> f3(total), "unit" -> "sec", "sf" -> sfDir)
    println(line)
    // a FILTERED run (query-name args — the iterate-on-one-query mode) must
    // not clobber the committed full-inventory artifact: it lands in /tmp
    // unless SPARK_GRAFT_BENCH_OUT says otherwise
    val defaultOut = if (args.isEmpty) "BENCH_FULL.json" else "/tmp/bench_partial.json"
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", defaultOut)
    // SECOND, SHORT, FINAL summary line (r16 verdict fix #1): the driver
    // archives only the last 2000 chars of stdout, and the full contract
    // line above is ~20 KB — two rounds of driver PERF comparisons came
    // back `parsed: null` because the tail started mid-line. This line is
    // ~150 chars, always lands in the tail WHOLE, and is valid JSON on its
    // own: scalar summary + pointer to the full per-query artifact. The
    // full contract line is unchanged (printed first, written to the
    // artifact file verbatim); consumers that captured complete stdout are
    // unmoved, consumers that keep a tail now get a parseable record.
    val nOk = results.values.count(_._1 >= 0)
    Harness.emit("total", "value" -> f3(total), "unit" -> "sec", "sf" -> sfDir,
      "n" -> results.size, "n_ok" -> nOk, "cpus" -> Harness.cpus, "reps" -> reps,
      "out" -> outPath)
    // the full untruncated line also lands next to the build (cwd, override
    // via SPARK_GRAFT_BENCH_OUT), so per-rep evidence for EVERY query (not
    // just the tail) is readable after the driver's stdout truncation —
    // overwritten per run
    try {
      val w = new java.io.PrintWriter(outPath)
      try w.println(line) finally w.close()
    } catch { // the artifact is best-effort; only IO-class failures are benign
      case e @ (_: java.io.IOException | _: SecurityException) =>
        System.err.println(s"[bench] artifact write failed: $e")
    }
    spark.stop()
  }
}
