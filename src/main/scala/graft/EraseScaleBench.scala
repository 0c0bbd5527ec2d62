package graft

import graft.streaming.{CdcSource, CdcStream, StateErasure, StateMigration}

/** GDPR erasure of DURABLE STREAMING STATE at scale — the r11 operator's
  * cost curve: build a transformWithState prev-image checkpoint holding
  * ~N/2 keys (synthetic feed, RocksDB, accumulated in waves like a live
  * capture), then erase a 10k-entity backlog and measure BOTH deployment
  * shapes:
  *
  *  - '''in-place''' (`CdcStream.withPrevStateTws(ds, erased)` on the SAME
  *    checkpoint): the erased keys here are exactly the users of the next
  *    wave (recurring keys — the sentinel-free case), so the measured
  *    micro-batch carries one event per erased key; an identically-sized
  *    NO-ERASURE control wave runs first, and the difference is the
  *    in-place erasure cost itself — which must be ~zero, because only
  *    the touched keys' entries change and the non-erased millions sleep;
  *  - '''offline rewrite''' ([[StateErasure.erasePrevImageState]] over
  *    [[StateMigration.readPrevImageStateTws]] →
  *    fresh checkpoint via the erasing initial-state resume): read every
  *    state row, anti-join, re-seed — scales with TOTAL key count, the
  *    price of the layout rewrite and the reason in-place is the default
  *    recommendation for the tws path.
  *
  * Usage: runMain graft.EraseScaleBench [nEvents] [nErased] [waves]
  * (defaults 2,000,000 events / ~1M keys / 10,000 erased / 4 waves).
  * One JSON line per phase; erasure is VERIFIED, not assumed (state-reader
  * spot check in-place, exact count offline).
  */
object EraseScaleBench {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(2000000L)
    val nErased = args.lift(1).map(_.toInt).getOrElse(10000)
    val waves = args.lift(2).map(_.toInt).getOrElse(4)
    val spark = Harness.session()
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import spark.implicits._

    val users = math.max(1L, n / 2)
    val feedName = "erase_scale_feed"
    val feed = CdcSource.SyntheticRegistry.get(feedName, users)
    def src(startAfter: Long = -1L) = {
      val r = spark.readStream.format("graft.streaming.CdcSourceProvider")
        .option("synthetic", feedName).option("syntheticUsers", users.toString)
        .option("numPartitions", Harness.cpus.toString)
      (if (startAfter >= 0) r.option("startAfterId", startAfter.toString) else r)
        .load().as[CdcStream.RawChange]
    }

    // ===== stage: the checkpoint every shape erases from =====
    val chk = java.nio.file.Files.createTempDirectory("erase_scale_chk").toString
    locally {
      val q = CdcStream.withPrevStateTws(src())
        .writeStream.format("noop")
        .option("checkpointLocation", chk).outputMode("append").start()
      val t0 = System.nanoTime()
      (1 to waves).foreach { w => feed.advanceTo(n / waves * w - 1); q.processAllAvailable() }
      val sec = (System.nanoTime() - t0) / 1e9
      q.stop()
      val rows = StateMigration.readPrevImageStateTws(spark, chk).count()
      Harness.emit("erase_scale_stage", "events" -> n, "state_rows" -> rows, "sec" -> sec)
      require(rows == users, s"staging built $rows of $users keys")
    }

    // ===== control: one nErased-event wave, NO erasure =====
    locally {
      val q = CdcStream.withPrevStateTws(src())
        .writeStream.format("noop")
        .option("checkpointLocation", chk).outputMode("append").start()
      val t0 = System.nanoTime()
      feed.advanceTo(n + nErased - 1); q.processAllAvailable()
      val sec = (System.nanoTime() - t0) / 1e9
      q.stop()
      Harness.emit("erase_scale_control_wave", "events" -> nErased, "sec" -> sec)
    }

    // ===== shape 1: in-place on the existing checkpoint =====
    // erased = exactly the users of the NEXT wave's ids (recurring keys);
    // cutoff below the wave so the new rows flow first-sight
    locally {
      val waveIds = (n + nErased) until (n + 2L * nErased)
      val erased: Map[Long, Long] =
        waveIds.map(id => (id % users) -> (n + nErased - 1)).toMap
      val q = CdcStream.withPrevStateTws(src(), erased)
        .writeStream.format("noop")
        .option("checkpointLocation", chk).outputMode("append").start()
      val t0 = System.nanoTime()
      feed.advanceTo(n + 2L * nErased - 1); q.processAllAvailable()
      val sec = (System.nanoTime() - t0) / 1e9
      q.stop()
      // verify on a sample: each erased key's durable state must be the
      // NEW payload (k = waveId % 997), never the pre-erasure one
      val sample = waveIds.take(50).map(id => (id % users, s"""{"k": ${id % 997}}""")).toMap
      val got = StateMigration.readPrevImageStateTws(spark, chk)
        .filter(r => sample.contains(r._1)).collect().toMap
      require(got == sample, s"in-place erasure left stale payloads: ${got.size} checked")
      Harness.emit("erase_scale_inplace", "state_rows" -> users, "erased" -> erased.size, "sec" -> sec)
    }

    // ===== shape 2: offline rewrite to a fresh checkpoint =====
    val stride = math.max(1L, users / nErased)
    val driverId = n + 2L * nErased
    val chkB = {
      // distinct keys, none of them the single driver row's user
      val erased2: Map[Long, Long] = (0 until nErased)
        .map(i => (i * stride) -> driverId)
        .filterNot(_._1 == driverId % users).toMap
      val dir = java.nio.file.Files.createTempDirectory("erase_scale_chk_b").toString
      val t0 = System.nanoTime()
      val stE = StateErasure.erasePrevImageState(
        StateMigration.readPrevImageStateTws(spark, chk), erased2.keySet)
      // fresh checkpoint: the source must resume AFTER everything the old
      // query consumed (the migration offset-handoff discipline), or batch
      // 0 would re-ingest the whole history instead of seeding state
      val q = CdcStream.withPrevStateTws(
          src(startAfter = n + 2L * nErased - 1), erased2, Some(stE))
        .writeStream.format("noop")
        .option("checkpointLocation", dir).outputMode("append").start()
      feed.advanceTo(driverId); q.processAllAvailable() // batch 0 persists the seed
      val sec = (System.nanoTime() - t0) / 1e9
      q.stop()
      val after = StateMigration.readPrevImageStateTws(spark, dir).count()
      val want = users - erased2.size
      require(after == want, s"offline rewrite left $after rows, want $want")
      Harness.emit("erase_scale_offline", "state_rows_before" -> users, "erased" -> erased2.size,
        "state_rows_after" -> after, "sec" -> sec)
      dir
    }

    // ===== shape 3: the ONE-CALL orchestrator at the same scale =====
    // Graft.eraseEverywhere over a REAL day-partitioned archive of the
    // full history plus the (users − 10k)-key store shape 2 produced:
    // before/after censuses, archive locate + affected-partition rewrite,
    // tombstone + receipt publication, and the offline store recipe, all
    // in one timed call with the report verified all-zero. The archive
    // staging is fixture cost, reported separately.
    locally {
      import org.apache.spark.sql.functions._
      val adir = java.nio.file.Files.createTempDirectory("erase_scale_archive").toString
      val tStage = System.nanoTime()
      // the synthetic generator's rows, reconstructed declaratively:
      // event_id 0..n-1, user = id % users, payload k = id % 997; 30
      // distinct day partitions
      spark.range(n).select(
        col("id").as("event_id"),
        timestamp_seconds(lit(1767225600L) + (col("id") % 30) * 86400L).as("ts"),
        (col("id") % users).as("user_id"),
        lit("INSERT").as("op"),
        concat(lit("""{"k": """), col("id") % 997, lit("}")).as("props"))
        .transform(df => { graft.sources.Layout.writeEventArchive(df, adir); df })
      val stageSec = (System.nanoTime() - tStage) / 1e9
      Harness.emit("erase_everywhere_archive_stage", "rows" -> n, "sec" -> stageSec)

      // a fresh 10k backlog: offset by 1 from shape 2's keys so every one
      // is still present in chkB; exclude the commit-driver row's user so
      // the after-census cannot be polluted by its legitimate new payload
      val driver2 = driverId + 1
      val backlog = (0 until nErased).map(i => i * stride + 1L)
        .filter(u => u < users && u != driver2 % users).distinct
      val chkC = java.nio.file.Files.createTempDirectory("erase_scale_chk_c").toString
      val store = graft.streaming.EraseEverywhere.TwsOffline("tws", chkB, { filtered =>
        val q = CdcStream.withPrevStateTws(src(startAfter = driverId), initial = Some(filtered))
          .writeStream.format("noop")
          .option("checkpointLocation", chkC).outputMode("append").start()
        feed.advanceTo(driver2); q.processAllAvailable() // batch 0 commits the seed
        q.stop()
        chkC
      })
      val t0 = System.nanoTime()
      val (reportDf, moved) =
        graft.streaming.EraseEverywhere.runDetailed(spark, adir, backlog, Seq(store))
      val report = reportDf.collect()
      val sec = (System.nanoTime() - t0) / 1e9
      val bad = report.filter(_.getLong(2) != 0L)
      require(bad.isEmpty, s"one-call erasure left artifacts: ${bad.mkString(",")}")
      val found = report.map(r => r.getString(0) -> r.getLong(1)).toMap
      require(found("archive") > 0 && found("tws") > 0,
        s"backlog must be present before the call: $found")
      Harness.emit("erase_everywhere_total", "archive_rows" -> n, "state_rows" -> (users - nErased),
        "erased" -> backlog.size, "archive_found" -> found("archive"),
        "state_found" -> found("tws"), "sec" -> sec)

      // ===== shape 4: the receipt ledger at LIFETIME scale =====
      // receipts are all-time compliance evidence (never dropped), so a
      // long-lived deployment's ledger holds years of requests. The re-call
      // keying must consume it as one distributed semi-join against the
      // broadcast request set — never a driver-side collect of the whole
      // ledger — so a structural-no-op re-call must cost the SAME over a
      // 10^6-receipt ledger as over the fresh one (flat, ledger-independent
      // driver state). Measured: re-call before vs after appending 10^6
      // synthetic receipts for OTHER users under the same store names.
      def recall(): Double = {
        val t = System.nanoTime()
        val (df2, _) =
          graft.streaming.EraseEverywhere.runDetailed(spark, adir, backlog, moved)
        val rep2 = df2.collect()
        require(rep2.forall(r => r.getLong(1) == 0L && r.getLong(2) == 0L),
          s"receipted re-call must be a structural no-op: ${rep2.mkString(",")}")
        (System.nanoTime() - t) / 1e9
      }
      val secSmall = recall()
      val nReceipts = 1000000L
      spark.range(nReceipts).select(
        lit("tws").as("store"), (col("id") + users).as("user_id"))
        .write.mode("append")
        .parquet(new org.apache.hadoop.fs.Path(adir, "_erasure_receipts").toString)
      val secBig = recall()
      Harness.emit("erase_everywhere_recall_ledger", "receipts_small" -> backlog.size,
        "sec_small" -> secSmall, "receipts_big" -> (nReceipts + backlog.size), "sec_big" -> secBig)
    }
    spark.stop()
  }
}
