package graft

import graft.sources.Layout
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FileSourceScanExec

/** Proves the archive layout's pruning claims from the physical plan: a
  * (day, op) filter over the partitioned event archive must become directory
  * pruning (PartitionFilters selecting a fraction of the files), and the
  * partition columns must never appear as post-scan data filters.
  */
class LayoutSpec extends SparkSuite {

  private lazy val archive: String = {
    val dir = java.nio.file.Files.createTempDirectory("event_archive").toString
    val ev = graft.cdc.EventLog.normalize(Tables.load(spark, sf, "events"))
      .select(col("event_id"), col("ts"), col("user_id"), col("op"), col("props"))
    Layout.writeEventArchive(ev, dir)
    dir
  }

  test("day+op filter prunes partitions at the file index, not post-scan") {
    val slice = Layout.readDayOp(spark, archive, "2024-01-02", "INSERT")
    val scan = slice.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }.head
    // both predicates are partition filters...
    val pf = scan.partitionFilters.mkString(";")
    assert(pf.contains("day") && pf.contains("op"), s"partition filters missing: $pf")
    // ...and neither survives as a data filter on row contents
    val df = scan.dataFilters.mkString(";")
    assert(!df.contains("day") && !df.contains("op"), s"partition cols leaked into data filters: $df")

    // the file index actually selected a strict subset of the archive
    val selected = scan.relation.location.listFiles(scan.partitionFilters, Nil)
      .map(_.files.length).sum
    val total = scan.relation.location.listFiles(Nil, Nil).map(_.files.length).sum
    assert(selected < total, s"no files pruned: $selected of $total")
    assert(selected >= 1, "slice selected no files at all")

    // and the slice still returns the right rows
    val rows = slice.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[String]("op") == "INSERT"))
  }

  test("compactDay rewrites one day to single sorted files, leaving other days untouched") {
    val dir = java.nio.file.Files.createTempDirectory("compact_archive").toString
    val ev = graft.cdc.EventLog.normalize(Tables.load(spark, sf, "events"))
      .select(col("event_id"), col("ts"), col("user_id"), col("op"), col("props"))
      .withColumn("day", to_date(col("ts")))
    // fragmented write: hash-repartitioned, so every (day, op) dir gets
    // multiple small files — the shape a micro-batch appender produces
    ev.repartition(5)
      .write.partitionBy("day", "op").mode("overwrite").parquet(dir)

    def files(day: String): Map[String, Int] = {
      val d = new java.io.File(dir, s"day=$day")
      d.listFiles().filter(_.isDirectory).map(op =>
        op.getName -> op.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    }
    val target = "2024-01-02"
    val other = "2024-01-05"
    val rowsBefore = spark.read.parquet(dir).count()
    val otherBefore = files(other)
    assert(files(target).values.exists(_ > 1), "fixture not fragmented — test is vacuous")

    Layout.compactDay(spark, dir, target)

    assert(files(target).values.forall(_ == 1),
      s"target day not compacted: ${files(target)}")
    assert(files(other) == otherBefore, "untouched day was rewritten")
    assert(spark.read.parquet(dir).count() == rowsBefore, "compaction changed row count")
    // in-file ordering restored: rows in one compacted file arrive sorted
    val oneFile = new java.io.File(s"$dir/day=$target/op=INSERT")
      .listFiles().filter(_.getName.endsWith(".parquet")).head
    val seq = spark.read.parquet(oneFile.toString)
      .select(col("user_id"), col("ts")).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime))
    assert(seq.zip(seq.tail).forall { case (a, b) =>
      a._1 < b._1 || (a._1 == b._1 && a._2 <= b._2) }, "in-file sort not restored")
  }

  test("retentionSweep drops only expired partitions, metadata-only, answers intact") {
    val dir = java.nio.file.Files.createTempDirectory("retention_archive").toString
    val ev = graft.cdc.EventLog.normalize(Tables.load(spark, sf, "events"))
      .select(col("event_id"), col("ts"), col("user_id"), col("op"), col("props"))
    Layout.writeEventArchive(ev, dir)
    val days = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("day="))
      .map(_.getName.stripPrefix("day=")).sorted
    assert(days.length >= 3, s"fixture spans too few days: ${days.toSeq}")
    val cutoff = days(days.length / 2)
    // ground truth of the RETAINED range, read before the sweep
    val retainedBefore = spark.read.parquet(dir)
      .filter(col("day") >= lit(cutoff).cast("date"))
      .agg(count(lit(1)), sum(col("event_id"))).collect().head
    val report = Layout.retentionSweep(spark, dir, cutoff).collect()
    // exactly the expired days reported, each with real file/byte counts
    assert(report.map(_.getString(0)).sorted.toSeq == days.filter(_ < cutoff).toSeq,
      s"report days: ${report.map(_.getString(0)).toSeq}")
    assert(report.forall(r => r.getLong(1) > 0 && r.getLong(2) > 0L))
    val left = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("day="))
      .map(_.getName.stripPrefix("day=")).sorted
    assert(left.toSeq == days.filter(_ >= cutoff).toSeq, s"left: ${left.toSeq}")
    // the retained range answers exactly as before the sweep
    val after = spark.read.parquet(dir)
      .agg(count(lit(1)), sum(col("event_id"))).collect().head
    assert(after == retainedBefore, s"retained answers changed: $after vs $retainedBefore")
    // idempotent: a second sweep with the same cutoff drops nothing
    assert(Layout.retentionSweep(spark, dir, cutoff).count() == 0L)
  }

  test("eraseEntity: one user vanishes everywhere, only affected days rewritten, emptied dirs dropped") {
    val dir = java.nio.file.Files.createTempDirectory("erase_archive").toString
    val base = graft.cdc.EventLog.normalize(Tables.load(spark, sf, "events"))
      .select(col("event_id"), col("ts"), col("user_id"), col("op"), col("props"))
    // the erased user: someone active on >= 2 fixture days
    val target = base.withColumn("day", to_date(col("ts")))
      .groupBy(col("user_id")).agg(countDistinct(col("day")).as("d"))
      .filter(col("d") >= 2).orderBy(col("user_id")).head.getLong(0)
    // plus a planted day the user owns EXCLUSIVELY — the dynamic-overwrite
    // blind spot: no survivors means nothing rewrites that partition, so
    // erasure must delete the directory outright
    import spark.implicits._
    val planted = Seq(
      (9000001L, java.sql.Timestamp.valueOf("2030-01-01 10:00:00"), target, "INSERT", "{}"),
      (9000002L, java.sql.Timestamp.valueOf("2030-01-01 11:00:00"), target, "UPDATE", "{}"))
      .toDF("event_id", "ts", "user_id", "op", "props")
    Layout.writeEventArchive(base.unionByName(planted), dir)

    val before = spark.read.parquet(dir)
    val userRows = before.filter(col("user_id") === target).count()
    assert(userRows > 2, "fixture user too quiet — test is vacuous")
    val affectedDays = before.filter(col("user_id") === target)
      .select(col("day").cast("string")).distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    val allDays = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("day="))
      .map(_.getName.stripPrefix("day=")).sorted.toSeq
    val untouchedDays = allDays.filterNot(affectedDays.contains)
    assert(untouchedDays.nonEmpty, "every day affected — untouched check is vacuous")
    // byte-level fingerprint of the untouched days, taken before the erase
    def fingerprint(day: String): Set[(String, Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(dir, s"day=$day"))
        .map(f => (f.getPath, f.length, f.lastModified)).toSet
    }
    val untouchedBefore = untouchedDays.map(d => d -> fingerprint(d)).toMap
    val expect = before.filter(!(col("user_id") <=> target))
      .agg(count(lit(1)), sum(col("event_id"))).collect().head

    val report = Layout.eraseEntity(spark, dir, target).collect()

    assert(report.map(_.getDate(0).toString).sorted.toSeq == affectedDays,
      s"report days ${report.map(_.getDate(0)).toSeq} vs $affectedDays")
    assert(report.map(_.getLong(1)).sum == userRows, "audit row count wrong")
    val after = spark.read.parquet(dir)
    assert(after.filter(col("user_id") === target).count() == 0L, "user survived erasure")
    assert(after.agg(count(lit(1)), sum(col("event_id"))).collect().head == expect,
      "erasure changed other users' answers")
    untouchedDays.foreach(d => assert(fingerprint(d) == untouchedBefore(d),
      s"untouched day $d was rewritten"))
    // the exclusively-owned day is GONE, directory and all
    assert(!new java.io.File(dir, "day=2030-01-01").exists(),
      "fully-emptied partition left on disk")
    // a rewritten day keeps the in-file (user_id, ts) sort contract
    val someDay = affectedDays.filterNot(_ == "2030-01-01").head
    val opDir = new java.io.File(dir, s"day=$someDay").listFiles()
      .filter(_.isDirectory).head
    val oneFile = opDir.listFiles().filter(_.getName.endsWith(".parquet")).head
    val seq = spark.read.parquet(oneFile.toString)
      .select(col("user_id"), col("ts")).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime))
    assert(seq.zip(seq.tail).forall { case (a, b) =>
      a._1 < b._1 || (a._1 == b._1 && a._2 <= b._2) },
      "in-file sort not restored on rewritten day")
    // idempotent: erasing an absent user touches nothing
    assert(Layout.eraseEntity(spark, dir, target).count() == 0L)
  }

  test("z-order write clusters BOTH dimensions per file; a time sort clusters only time") {
    val dir = java.nio.file.Files.createTempDirectory("zorder_archive").toString
    val ev = Tables.load(spark, sf, "events")
      .select(col("event_id"), col("ts"), col("user_id"))
    Layout.zorderWrite(ev, dir, numFiles = 16)

    // per-file width of each dimension, as a fraction of its global width
    val stats = spark.read.parquet(dir)
      .select(col("user_id"), unix_timestamp(col("ts")).as("sec"),
        input_file_name().as("f"))
    val global = stats.agg(
      (max(col("user_id")) - min(col("user_id"))).as("uw"),
      (max(col("sec")) - min(col("sec"))).as("tw")).collect()(0)
    val perFile = stats.groupBy(col("f")).agg(
      (max(col("user_id")) - min(col("user_id"))).as("uw"),
      (max(col("sec")) - min(col("sec"))).as("tw"))
      .agg(avg(col("uw")).as("uw"), avg(col("tw")).as("tw")).collect()(0)
    // 16 files = 4 z-bits = 2 bits per dimension -> each file should span
    // roughly 1/4 of each dimension; assert the loose half-width bound that a
    // single-dimension sort provably fails (its secondary dim spans ~100%)
    assert(perFile.getDouble(0) < global.getLong(0) / 2.0,
      s"user width not clustered: ${perFile.getDouble(0)} of ${global.getLong(0)}")
    assert(perFile.getDouble(1) < global.getLong(1) / 2.0,
      s"time width not clustered: ${perFile.getDouble(1)} of ${global.getLong(1)}")

    // contrast: the same data sorted by time alone leaves the user dimension
    // unclustered (each file spans ~the full user range)
    val tDir = java.nio.file.Files.createTempDirectory("tsort_archive").toString
    ev.repartitionByRange(16, col("ts")).sortWithinPartitions(col("ts"))
      .write.mode("overwrite").parquet(tDir)
    val tAvg = spark.read.parquet(tDir)
      .select(col("user_id"), input_file_name().as("f"))
      .groupBy(col("f"))
      .agg((max(col("user_id")) - min(col("user_id"))).as("uw"))
      .agg(avg(col("uw"))).collect()(0).getDouble(0)
    assert(tAvg > global.getLong(0) * 0.9,
      s"time-sort contrast broken: user width $tAvg of ${global.getLong(0)}")
  }

  test("archive writes one file per (day, op) directory — no small-file explosion") {
    val leafDirs = new java.io.File(archive).listFiles().filter(_.isDirectory)
      .flatMap(_.listFiles().filter(_.isDirectory))
    assert(leafDirs.nonEmpty)
    leafDirs.foreach { d =>
      val parts = d.listFiles().count(_.getName.endsWith(".parquet"))
      assert(parts == 1, s"${d.getName} has $parts files; repartition should yield 1")
    }
    // the claimed in-file (user_id, ts) order actually holds — the file
    // writer's partition-column sort requirement would silently destroy it
    // if the task sort didn't lead with the partition columns
    val aFile = leafDirs.head.listFiles().filter(_.getName.endsWith(".parquet")).head
    val seq = spark.read.parquet(aFile.toString)
      .select(col("user_id"), col("ts")).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime))
    assert(seq.zip(seq.tail).forall { case (a, b) =>
      a._1 < b._1 || (a._1 == b._1 && a._2 <= b._2) }, "in-file sort violated")
  }

  test("ensureBucketed survives a stale warehouse location left by a dead catalog") {
    // the in-memory catalog forgets tables when a JVM exits while the
    // managed-table files persist in spark-warehouse/ — simulate the next
    // session by planting junk at the location BEFORE the catalog knows the
    // table; CTAS would throw LOCATION_ALREADY_EXISTS without the guard
    val short = s"region_bk_${Integer.toHexString(sf.hashCode).takeRight(8)}"
    val loc = new org.apache.hadoop.fs.Path(
      s"${spark.conf.get("spark.sql.warehouse.dir")}/graft_buckets.db/$short")
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(loc)
    val junk = fs.create(new org.apache.hadoop.fs.Path(loc, "stale.parquet"))
    junk.write("not a parquet file".getBytes); junk.close()
    assert(!spark.catalog.tableExists(s"graft_buckets.$short"))
    val t = Layout.ensureBucketed(spark, sf, "region", "r_regionkey")
    assert(spark.table(t).count() == Tables.load(spark, sf, "region").count())
    // and the second call is the no-op amortized path: same table, no rewrite
    val modTime = fs.listStatus(loc).map(_.getModificationTime).max
    assert(Layout.ensureBucketed(spark, sf, "region", "r_regionkey") == t)
    assert(fs.listStatus(loc).map(_.getModificationTime).max == modTime,
      "second call must not rewrite the layout")
  }

  test("compaction loop: streaming appends accrue debt, advisor flags it, one call clears it") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("compact_loop").toString
    val ckpt = java.nio.file.Files.createTempDirectory("compact_loop_ck").toString
    val ev = graft.cdc.EventLog.normalize(Tables.load(spark, sf, "events"))
      .select(col("event_id"), col("ts"), col("user_id"), col("op"), col("props"))
      .as[(Long, java.sql.Timestamp, Long, String, String)]
      .collect().sortBy(_._1).toSeq
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp, Long, String, String)]
    val q = Layout.archiveStream(
      in.toDS().toDF("event_id", "ts", "user_id", "op", "props"), dir, ckpt)
    try {
      // six interleaved micro-batches (each spans every day) -> up to six
      // files per (day, op): real debt
      (0 until 6).foreach { r =>
        in.addData(ev.zipWithIndex.collect { case (e, i) if i % 6 == r => e }: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val answerBefore = spark.read.parquet(dir)
      .agg(count(lit(1)), sum(col("event_id"))).head
    val flagged = Layout.compactionAdvisor(spark, dir, maxFiles = 2).collect()
    assert(flagged.nonEmpty, "streaming appends must accrue small-file debt")
    assert(flagged.forall(_.getLong(2) > 2), s"advisor flagged below threshold: ${flagged.toSeq}")
    val residual = Layout.compactWhereNeeded(spark, dir, maxFiles = 2)
    assert(residual.isEmpty, "one call must clear the debt")
    // compaction is layout: answers byte-identical
    assert(spark.read.parquet(dir)
      .agg(count(lit(1)), sum(col("event_id"))).head == answerBefore)
  }

  test("storage-debt paging: the compaction census series pages through cusumAlerts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.WindowSketches
    // the self-operation loop pointed at storage: nightly censuses of
    // total indebted files form a per-archive series; a writer that stops
    // getting compacted shows as a level shift and pages
    val dir = java.nio.file.Files.createTempDirectory("debt_page").toString
    val ckpt = java.nio.file.Files.createTempDirectory("debt_page_ck").toString
    val ev = graft.cdc.EventLog.normalize(Tables.load(spark, sf, "events"))
      .select(col("event_id"), col("ts"), col("user_id"), col("op"), col("props"))
      .as[(Long, java.sql.Timestamp, Long, String, String)]
      .collect().toSeq
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp, Long, String, String)]
    val q = Layout.archiveStream(
      in.toDS().toDF("event_id", "ts", "user_id", "op", "props"), dir, ckpt)
    // 12 "nights": batches land continuously; compaction runs the first 6
    // nights, then the maintenance job silently stops
    val series = try {
      (0 until 12).map { night =>
        in.addData(ev.zipWithIndex.collect { case (e, i) if i % 12 == night => e }: _*)
        q.processAllAvailable()
        if (night < 6) Layout.compactWhereNeeded(spark, dir, maxFiles = 1)
        val debt = Layout.compactionAdvisor(spark, dir, maxFiles = 1)
          .agg(coalesce(sum(col("files")), lit(0L))).head.getLong(0)
        WindowSketches.SeriesPoint("archive", night.toLong, debt)
      }
    } finally q.stop()
    assert(series.take(6).forall(_.x == 0L), s"compacted nights must be debt-free: $series")
    assert(series.drop(6).map(_.x).max > 0L, "uncompacted nights must accrue debt")
    val sIn = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[WindowSketches.SeriesPoint]
    val alertQ = WindowSketches.cusumAlerts(sIn.toDS(), mu0 = 0L, k = 5L, h = 60L)
      .writeStream.format("memory").queryName("debt_alerts")
      .outputMode("append").start()
    val alarms = try {
      sIn.addData(series: _*); alertQ.processAllAvailable()
      spark.table("debt_alerts").as[WindowSketches.CusumAlert].collect().toSeq
    } finally alertQ.stop()
    assert(alarms.nonEmpty && alarms.head.side == 1 && alarms.head.seq >= 6,
      s"storage-debt growth must page upward after night 6: $alarms")
  }

  test("eraseEntities: three users, one locate pass, one rewrite cycle, per-user audit") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("multi_erase").toString
    val ev = graft.cdc.EventLog.normalize(Tables.load(spark, sf, "events"))
      .select(col("event_id"), col("ts"), col("user_id"), col("op"), col("props"))
    Layout.writeEventArchive(ev, dir)
    val targets = ev.select("user_id").distinct().orderBy("user_id")
      .limit(3).as[Long].collect().toSeq
    val wantPerUser = ev.filter(col("user_id").isin(targets: _*))
      .groupBy("user_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val before = spark.read.parquet(dir).count()
    // capture directory mtimes of UNAFFECTED days to pin the rewrite bound
    val affectedDays = ev.filter(col("user_id").isin(targets: _*))
      .select(to_date(col("ts")).cast("string")).distinct().as[String].collect().toSet
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dayDirs = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("day="))
    val untouchedBefore = dayDirs
      .filterNot(s => affectedDays.contains(s.getPath.getName.stripPrefix("day=")))
      .map(s => s.getPath.getName -> fs.getContentSummary(s.getPath).getLength).toMap

    val report = Layout.eraseEntities(spark, dir, targets).collect()
    // per-user audit sums to each user's true row count
    val gotPerUser = report.groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getLong(2)).sum).toMap
    assert(gotPerUser == wantPerUser, s"audit: $gotPerUser vs $wantPerUser")
    // all three gone, everyone else intact
    val after = spark.read.parquet(dir)
    assert(after.filter(col("user_id").isin(targets: _*)).count() == 0)
    assert(after.count() == before - wantPerUser.values.sum)
    // rewrite bound: unaffected days byte-untouched
    val untouchedAfter = dayDirs
      .filterNot(s => affectedDays.contains(s.getPath.getName.stripPrefix("day=")))
      .map(s => s.getPath.getName -> fs.getContentSummary(s.getPath).getLength).toMap
    assert(untouchedAfter == untouchedBefore, "unaffected days were rewritten")
  }

  test("live archive: streaming writer, quiesced erasure mid-stream, replay idempotency") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("live_archive").toString
    val ckpt = java.nio.file.Files.createTempDirectory("live_archive_ck").toString
    val ev = graft.cdc.EventLog.normalize(Tables.load(spark, sf, "events"))
      .select(col("event_id"), col("ts"), col("user_id"), col("op"), col("props"))
      .as[(Long, java.sql.Timestamp, Long, String, String)]
      .collect().sortBy(_._1).toSeq
    val (w1, w2) = ev.splitAt(ev.length / 2)
    // target with history in BOTH waves: erasure is point-in-time, so the
    // wave-2 rows must survive it
    val target = w1.map(_._3).toSet.intersect(w2.map(_._3).toSet).min
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp, Long, String, String)]
    val q = Layout.archiveStream(
      in.toDS().toDF("event_id", "ts", "user_id", "op", "props"), dir, ckpt)
    try {
      in.addData(w1: _*); q.processAllAvailable()
      // QUIESCED erasure: the writer is idle between triggers — the
      // documented maintenance recipe for a live archive
      val removed = Layout.eraseEntity(spark, dir, target)
        .agg(sum(col("rows_removed"))).head.getLong(0)
      assert(removed == w1.count(_._3 == target), "erasure audit wrong")
      in.addData(w2: _*); q.processAllAvailable()
    } finally q.stop()
    // final content: wave-1 minus the target's history, plus ALL of wave 2
    val want = (w1.filterNot(_._3 == target) ++ w2).map(_._1).sorted
    val got = spark.read.parquet(dir).select("event_id")
      .as[Long].collect().sorted.toSeq
    assert(got == want, s"live archive diverged: ${got.length} vs ${want.length}")
    assert(spark.read.parquet(dir).filter(col("user_id") === target).count() ==
      w2.count(_._3 == target), "point-in-time: wave-2 rows of the target survive")
    // replay idempotency at the batch grain: a committed batch id is a no-op
    val n0 = spark.read.parquet(dir).count()
    val other = w1.find(_._3 != target).get
    val replay = Seq(other).toDF("event_id", "ts", "user_id", "op", "props")
    assert(!Layout.appendArchiveBatch(replay, dir, 0L), "batch 0 must be marker-gated")
    assert(spark.read.parquet(dir).count() == n0, "replayed batch appended twice")
    // and a genuinely new batch id commits exactly once
    assert(Layout.appendArchiveBatch(replay, dir, 99L))
    assert(!Layout.appendArchiveBatch(replay, dir, 99L))
    assert(spark.read.parquet(dir).count() == n0 + 1)
    // the resurrection hole is CLOSED: a marker-gap replay carrying the
    // erased user's pre-erasure rows appends everything EXCEPT them...
    val erased = w1.find(_._3 == target).get
    val ghost = Seq(erased, other.copy(_1 = other._1 + 1000000L))
      .toDF("event_id", "ts", "user_id", "op", "props")
    assert(Layout.appendArchiveBatch(ghost, dir, 100L))
    assert(spark.read.parquet(dir)
      .filter(col("user_id") === target && col("event_id") === erased._1).count() == 0,
      "tombstone must drop the erased user's replayed rows")
    // ...while rows ABOVE the erasure cutoff still flow (point-in-time:
    // the entity returning later is new data, not resurrection)
    val future = Seq(erased.copy(_1 = erased._1 + 5000000L))
      .toDF("event_id", "ts", "user_id", "op", "props")
    assert(Layout.appendArchiveBatch(future, dir, 101L))
    assert(spark.read.parquet(dir)
      .filter(col("user_id") === target && col("event_id") === erased._1 + 5000000L)
      .count() == 1, "post-cutoff rows of the entity must still flow")
  }

  test("tombstone cutoff is pre-rewrite: erased user holding the max event_id stays erased under replay") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val dir = java.nio.file.Files.createTempDirectory("erase_maxid").toString
    // target (user 7) OWNS the archive's highest event_id — a survivors-only
    // cutoff would sit below id 5 and let a replay resurrect it
    val rows = Seq(
      (1L, ts("2030-01-01 10:00:00"), 7L, "INSERT", "{}"),
      (2L, ts("2030-01-01 11:00:00"), 8L, "INSERT", "{}"),
      (3L, ts("2030-01-02 10:00:00"), 8L, "UPDATE", "{}"),
      (5L, ts("2030-01-02 11:00:00"), 7L, "UPDATE", "{}"))
      .toDF("event_id", "ts", "user_id", "op", "props")
    Layout.writeEventArchive(rows, dir)
    Layout.eraseEntity(spark, dir, 7L)
    val cutoff = spark.read.parquet(s"$dir/_tombstones")
      .agg(max(col("cutoff_id"))).head.getLong(0)
    assert(cutoff == 5L, s"cutoff must be the PRE-rewrite max (5), got $cutoff")
    // marker-gap replay carrying the target's own max-id row: must be dropped
    val ghost = Seq((5L, ts("2030-01-02 11:00:00"), 7L, "UPDATE", "{}"))
      .toDF("event_id", "ts", "user_id", "op", "props")
    assert(Layout.appendArchiveBatch(ghost, dir, 42L))
    assert(spark.read.parquet(dir).filter(col("user_id") === 7L).count() == 0,
      "replayed max-id row resurrected the erased user")
  }

  test("erasure that empties the archive entirely neither NPEs nor loses the tombstone") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val dir = java.nio.file.Files.createTempDirectory("erase_all").toString
    val rows = Seq(
      (1L, ts("2030-01-01 10:00:00"), 7L, "INSERT", "{}"),
      (2L, ts("2030-01-02 11:00:00"), 7L, "UPDATE", "{}"))
      .toDF("event_id", "ts", "user_id", "op", "props")
    Layout.writeEventArchive(rows, dir)
    val audit = Layout.eraseEntity(spark, dir, 7L).collect()
    assert(audit.map(_.getLong(1)).sum == 2L)
    val cutoff = spark.read.parquet(s"$dir/_tombstones")
      .agg(max(col("cutoff_id"))).head.getLong(0)
    assert(cutoff == 2L, s"empty-archive erasure must still record pre-rewrite max, got $cutoff")
    // replay into the now-empty archive: tombstone still guards it (the
    // extra user-8 row keeps the post-replay archive readable — an
    // all-dropped append writes no data files)
    val ghost = Seq(
      (1L, ts("2030-01-01 10:00:00"), 7L, "INSERT", "{}"),
      (10L, ts("2030-01-03 10:00:00"), 8L, "INSERT", "{}"))
      .toDF("event_id", "ts", "user_id", "op", "props")
    assert(Layout.appendArchiveBatch(ghost, dir, 43L))
    val back = spark.read.parquet(dir)
    assert(back.filter(col("user_id") === 7L && col("event_id") <= 2L).count() == 0,
      "tombstone must survive an erase-all and guard the empty archive")
    assert(back.count() == 1L, "the non-erased replay row must land")
  }

  test("COW staging: erasing a hardlink clone never mutates the master archive") {
    val ev = graft.cdc.EventLog.normalize(Tables.load(spark, sf, "events"))
      .select(col("event_id"), col("ts"), col("user_id"), col("op"), col("props"))
    // two clones of the SAME session master — the bench-rep shape
    val clone1 = Layout.stagedArchiveClone(spark, sf, ev, "erase_cow_spec")
    val clone2 = Layout.stagedArchiveClone(spark, sf, ev, "erase_cow_spec")
    assert(clone1 != clone2, "clones must be distinct directories")
    val target = ev.filter(col("user_id").isNotNull)
      .agg(min(col("user_id"))).first().getLong(0)
    val total = spark.read.parquet(clone2).count()
    val targetRows = spark.read.parquet(clone2)
      .filter(col("user_id") === target).count()
    assert(targetRows > 0, "fixture must contain the erasure target")
    Layout.eraseEntity(spark, clone1, target)
    // the mutated clone lost exactly the target's rows...
    val after1 = spark.read.parquet(clone1)
    assert(after1.filter(col("user_id") === target).count() == 0)
    assert(after1.count() == total - targetRows)
    // ...while the sibling clone (hardlinks to the same master inodes) still
    // serves every row — the mutation-isolation property the per-invocation
    // fresh-staging discipline existed for, now held by COW instead of a
    // full re-write per invocation
    val after2 = spark.read.parquet(clone2)
    assert(after2.filter(col("user_id") === target).count() == targetRows,
      "erasing one clone must not reach through the hardlinks into the master")
    assert(after2.count() == total)
  }

  test("COW staging: one master per frame shape, shared across fresh loads of the same frame") {
    import java.nio.file.{Files, Path, Paths}
    // the erase audits' shape: each call loads and normalizes events afresh
    def ev() = graft.cdc.EventLog.normalize(Tables.load(spark, sf, "events"))
      .select(col("event_id"), col("ts"), col("user_id"), col("op"), col("props"))
    def dataFiles(dir: String): Seq[Path] = {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(Paths.get(dir))
      try walk.iterator().asScala.filter(_.toString.endsWith(".parquet"))
        .map(Paths.get(dir).relativize(_)).toSeq.sortBy(_.toString)
      finally walk.close()
    }
    // two clones share a master iff their data files are the same inodes
    def sameMaster(a: String, b: String): Boolean = {
      val fa = dataFiles(a)
      fa.nonEmpty && fa == dataFiles(b) &&
        fa.forall(f => Files.isSameFile(Paths.get(a).resolve(f), Paths.get(b).resolve(f)))
    }
    val a = Layout.stagedArchiveClone(spark, sf, ev(), "erase_key_spec")
    val b = Layout.stagedArchiveClone(spark, sf, ev(), "erase_key_spec")
    assert(sameMaster(a, b), "two fresh loads of the same frame must share one master")
    // same tag, differently filtered frame: its own master, its own rows
    val filtered = ev().filter(col("user_id") % 2 === 0)
    val c = Layout.stagedArchiveClone(spark, sf, filtered, "erase_key_spec")
    assert(!sameMaster(a, c), "a differently filtered frame must not reuse the master")
    assert(spark.read.parquet(c).count() == filtered.count())
    assert(spark.read.parquet(a).count() == ev().count())
  }
}
