package graft

import graft.streaming.{CdcSource, CdcStream}

/** Streaming state at scale: drives N synthetic events (generator-backed
  * source, zero materialized backlog — [[CdcSource.SyntheticSpec]]) through
  * the stateful prev-image pipeline in waves, with ~N/2 distinct user keys,
  * against BOTH state-store providers — the in-heap HDFS-backed map and
  * RocksDB. The r4 knob probe predicted "RocksDB wins only when state
  * outgrows memory"; this measures where that crossover actually sits, and
  * records per-run state rows + state memory from the query's own progress
  * metrics so the curve is self-describing.
  *
  * Usage: runMain graft.StateScaleBench [sizesCsv] [waves]
  *   default sizes 500000,1000000,2000000,4000000; 5 waves each.
  * One JSON line per (size, provider).
  */
object StateScaleBench {
  def main(args: Array[String]): Unit = {
    val sizes = args.headOption.getOrElse("500000,1000000,2000000,4000000")
      .split(",").map(_.trim.toLong).toSeq
    val waves = args.lift(1).map(_.toInt).getOrElse(5)
    val spark = Harness.session()
    import spark.implicits._

    val providers = Seq(
      "heap" -> None,
      "rocksdb" -> Some(
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
    val confKey = "spark.sql.streaming.stateStore.providerClass"
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt

    /** One full run: fresh feed + fresh checkpoint, N events in `waves`
      * micro-batch waves so state accumulates like a live capture (a single
      * giant batch would only measure one bulk state write). Returns
      * (sec, stateRows, stateMemBytes).
      */
    def run(provName: String, n: Long, rep: Int): (Double, Long, Long) = {
      val users = math.max(1L, n / 2)
      val feedName = s"scale_${provName}_${n}_$rep"
      val feed = CdcSource.SyntheticRegistry.get(feedName, users)
      val raw = spark.readStream.format("graft.streaming.CdcSourceProvider")
        .option("synthetic", feedName).option("syntheticUsers", users.toString)
        .option("numPartitions", Harness.cpus.toString).load()
      val q = CdcStream.withPrevState(raw.as[CdcStream.RawChange])
        .writeStream.format("noop").outputMode("append").start()
      val t0 = System.nanoTime()
      (1 to waves).foreach { w =>
        feed.advanceTo(n / waves * w - 1)
        q.processAllAvailable()
      }
      val sec = (System.nanoTime() - t0) / 1e9
      val st = Option(q.lastProgress).toSeq.flatMap(_.stateOperators.toSeq)
      val out = (sec, st.map(_.numRowsTotal).sum, st.map(_.memoryUsedBytes).sum)
      q.stop()
      out
    }

    for ((provName, provClass) <- providers) {
      val saved = spark.conf.getOption(confKey)
      provClass.foreach(spark.conf.set(confKey, _))
      try {
        // unrecorded warmup: session init, codegen, state-store provider
        // class load — the first streaming query pays all of it
        run(provName, 100000L, rep = -1)
        for (n <- sizes) {
          // min-of-reps absorbs GC/contention spikes (same rationale and
          // env knob as Bench.scala); per-rep times printed alongside
          val runs = (1 to reps).map(r => run(provName, n, r))
          val best = runs.minBy(_._1)
          val times = runs.map(_._1)
          Harness.emit("state_scale", "provider" -> provName, "events" -> n,
            "users" -> math.max(1L, n / 2), "waves" -> waves, "sec" -> best._1,
            "times" -> times, "events_per_sec" -> (n / best._1).toLong,
            "state_rows" -> best._2, "state_mem_bytes" -> best._3)
        }
      } finally saved match {
        case Some(v) => spark.conf.set(confKey, v)
        case None    => spark.conf.unset(confKey)
      }
    }

    // ===== verified-dedup exemplar state at scale =====
    // The prev-image probe above holds ~100 B per key; the streaming dedup
    // VERIFY stage holds the exemplar's whole shingle-hash set (~40 longs
    // here — KB-class with overheads), and each doc arms ~numBands bucket
    // keys. This measures how the two providers behave when VALUES, not key
    // count, carry the state mass — the retention trade the verifiedCandidates
    // scaladoc names. Synthetic docs: 40 tokens drawn from a 200k-type
    // space by a splitmix-style NON-LINEAR mix of (id, position). Both
    // linear formulas tried first were corpus-degenerate in instructive
    // ways: `(id*37+i*13) mod 5000` makes all ids congruent mod 5000 share
    // one text (flat 4k-bucket state curve), and an LCG over a large space
    // still shares WHOLE TOKEN RUNS between docs whenever
    // (Δid·a + Δi·step) ≡ 0 mod V — the constant difference survives the
    // final mod, so one token collision implies a full shingle-run
    // collision and the corpus is secretly full of near-dups (measured:
    // 800k band rows → 161k buckets, max bucket 22). The multiply-shift
    // mix breaks the lattice; signatures are then unique per doc ⇒ bucket
    // count ~ docs × bands — the adversarial, state-heaviest shape; real
    // corpora collide buckets and hold LESS.
    def docText(id: Long): String =
      (0 until 40).map { i =>
        val h = (id * 40 + i) * -7046029254386353131L
        "tok" + ((h >>> 33) % 200000L)
      }.mkString(" ")
    def runDedup(n: Long): (Double, Long, Long) = {
      implicit val sqlCtx = spark.sqlContext
      val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[
        graft.streaming.DedupStream.Doc]
      val q = graft.streaming.DedupStream.verifiedCandidates(
          graft.streaming.DedupStream.bandRowsWithSets(input.toDS().toDF())
            .as[graft.streaming.DedupStream.BandRowV])
        .writeStream.format("noop").outputMode("append")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("dedup_state_scale").toString)
        .start()
      val t0 = System.nanoTime()
      (1 to waves).foreach { w =>
        val lo = n / waves * (w - 1); val hi = n / waves * w
        input.addData((lo until hi).map(id =>
          graft.streaming.DedupStream.Doc(id, docText(id))): _*)
        q.processAllAvailable()
      }
      val sec = (System.nanoTime() - t0) / 1e9
      val st = Option(q.lastProgress).toSeq.flatMap(_.stateOperators.toSeq)
      val out = (sec, st.map(_.numRowsTotal).sum, st.map(_.memoryUsedBytes).sum)
      q.stop()
      out
    }
    val dedupSizes = sys.env.getOrElse("SPARK_GRAFT_DEDUP_SIZES", "25000,50000,100000")
      .split(",").map(_.trim.toLong).toSeq
    for ((provName, provClass) <- providers) {
      val saved = spark.conf.getOption(confKey)
      provClass.foreach(spark.conf.set(confKey, _))
      try {
        runDedup(5000L) // unrecorded warmup
        for (n <- dedupSizes) {
          val runs = (1 to reps).map(_ => runDedup(n))
          val best = runs.minBy(_._1)
          val times = runs.map(_._1)
          Harness.emit("dedup_state_scale", "provider" -> provName, "docs" -> n,
            "waves" -> waves, "sec" -> best._1, "times" -> times,
            "docs_per_sec" -> (n / best._1).toLong, "state_rows" -> best._2,
            "state_mem_bytes" -> best._3)
        }
      } finally saved match {
        case Some(v) => spark.conf.set(confKey, v)
        case None    => spark.conf.unset(confKey)
      }
    }
    // ===== media class-grain exemplar state at scale (r9) =====
    // FpBucketState holds one 16-byte (doc_id, fp) entry per DISTINCT
    // fingerprint class per band bucket — the "viral image costs one
    // entry" design rule. This probes the claim at >= 1M distinct classes:
    // uniform 56-bit fingerprints (splitmix mix — adversarial: nothing
    // collides, every class enrolls in all 4 bands, so exemplar entries =
    // classes x numBands, the state-heaviest shape; real corpora collide
    // classes and hold LESS). Codec deliberately bypassed: the probe
    // measures the STATE STORE, not the decode (StreamBench carries the
    // codec-in-loop number).
    def fp56(id: Long): Long = {
      val h = (id + 1L) * -7046029254386353131L
      (h >>> 8) & ((1L << 56) - 1)
    }
    def runMedia(n: Long): (Double, Long, Long) = {
      implicit val sqlCtx = spark.sqlContext
      val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[
        graft.streaming.DedupStream.FpRow]
      val q = graft.streaming.DedupStream.fpVerifiedPairs(
          graft.streaming.DedupStream.fpBandRows(input.toDS(),
            graft.streaming.DedupStream.ImageBanding))
        .writeStream.format("noop").outputMode("append")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("media_state_scale").toString)
        .start()
      val t0 = System.nanoTime()
      (1 to waves).foreach { w =>
        val lo = n / waves * (w - 1); val hi = n / waves * w
        input.addData((lo until hi).map(id =>
          graft.streaming.DedupStream.FpRow(id, fp56(id))): _*)
        q.processAllAvailable()
      }
      val sec = (System.nanoTime() - t0) / 1e9
      val st = Option(q.lastProgress).toSeq.flatMap(_.stateOperators.toSeq)
      val out = (sec, st.map(_.numRowsTotal).sum, st.map(_.memoryUsedBytes).sum)
      q.stop()
      out
    }
    val mediaSizes = sys.env.getOrElse("SPARK_GRAFT_MEDIA_SIZES", "250000,500000,1000000")
      .split(",").map(_.trim.toLong).toSeq
    val nBands = graft.streaming.DedupStream.ImageBanding.numBands
    for ((provName, provClass) <- providers) {
      val saved = spark.conf.getOption(confKey)
      provClass.foreach(spark.conf.set(confKey, _))
      try {
        runMedia(20000L) // unrecorded warmup
        for (n <- mediaSizes) {
          val runs = (1 to reps).map(_ => runMedia(n))
          val best = runs.minBy(_._1)
          val times = runs.map(_._1)
          val entries = n * nBands
          Harness.emit("media_state_scale", "provider" -> provName, "classes" -> n,
            "waves" -> waves, "sec" -> best._1, "times" -> times,
            "docs_per_sec" -> (n / best._1).toLong, "state_rows" -> best._2,
            "state_mem_bytes" -> best._3, "exemplar_entries" -> entries,
            "bytes_per_entry" -> (if (best._3 > 0) best._3 / entries else -1L))
        }
      } finally saved match {
        case Some(v) => spark.conf.set(confKey, v)
        case None    => spark.conf.unset(confKey)
      }
    }

    // ===== semantic cluster-exemplar state at scale (r9) =====
    // ClusterState holds up to clusterCap (vec_id, vector) exemplars per
    // cluster — VALUES carry dim x 8 bytes each. The batch shape keeps
    // cluster count at nlist (small); the STREAMING store has no such
    // bound when assignment keys are external, so this probes >= 1M
    // distinct clusters directly: 2 vectors per cluster (the second pays
    // the judgment scan against the first), dim 16, deterministic
    // pseudo-random components. State mass = clusters x 2 x dim doubles.
    val semDim = 16
    def semVec(id: Long): Seq[Double] =
      (0 until semDim).map { i =>
        val h = (id * semDim + i + 17L) * -7046029254386353131L
        ((h >>> 11).toDouble / (1L << 53).toDouble) * 2.0 - 1.0
      }
    def runSem(n: Long): (Double, Long, Long) = {
      implicit val sqlCtx = spark.sqlContext
      val clusters = math.max(1L, n / 2)
      val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[
        graft.streaming.SemDedupStream.VecRow]
      val q = graft.streaming.SemDedupStream.judged(input.toDS())
        .writeStream.format("noop").outputMode("append")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("sem_state_scale").toString)
        .start()
      val t0 = System.nanoTime()
      (1 to waves).foreach { w =>
        val lo = n / waves * (w - 1); val hi = n / waves * w
        input.addData((lo until hi).map(id =>
          graft.streaming.SemDedupStream.VecRow(id % clusters, id, semVec(id))): _*)
        q.processAllAvailable()
      }
      val sec = (System.nanoTime() - t0) / 1e9
      val st = Option(q.lastProgress).toSeq.flatMap(_.stateOperators.toSeq)
      val out = (sec, st.map(_.numRowsTotal).sum, st.map(_.memoryUsedBytes).sum)
      q.stop()
      out
    }
    val semSizes = sys.env.getOrElse("SPARK_GRAFT_SEM_SIZES", "500000,1000000,2000000")
      .split(",").map(_.trim.toLong).toSeq
    for ((provName, provClass) <- providers) {
      val saved = spark.conf.getOption(confKey)
      provClass.foreach(spark.conf.set(confKey, _))
      try {
        runSem(20000L) // unrecorded warmup
        for (n <- semSizes) {
          val runs = (1 to reps).map(_ => runSem(n))
          val best = runs.minBy(_._1)
          val times = runs.map(_._1)
          Harness.emit("sem_state_scale", "provider" -> provName, "vecs" -> n,
            "clusters" -> math.max(1L, n / 2), "dim" -> semDim, "waves" -> waves,
            "sec" -> best._1, "times" -> times, "vecs_per_sec" -> (n / best._1).toLong,
            "state_rows" -> best._2, "state_mem_bytes" -> best._3)
        }
      } finally saved match {
        case Some(v) => spark.conf.set(confKey, v)
        case None    => spark.conf.unset(confKey)
      }
    }
    spark.stop()
  }
}
