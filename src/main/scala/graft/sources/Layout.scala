package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.util.control.NonFatal

/** Storage layout for the captured event log — the write side of the 100 TB
  * story. The reference streams events onward and keeps nothing
  * (`README.md:3` "populating other systems"); the system being populated
  * has to choose a layout, and at scale the layout IS the query plan:
  *
  *  - **Hive-style partition columns** (`day=.../ op=...`) turn time- and
  *    op-bounded scans into directory pruning — the storage-layer analog of
  *    the reference's install-time table pruning (F1, `server.go:160-162`):
  *    filtered data is never read, the strongest pushdown there is.
  *  - **In-file ordering** (`sortWithinPartitions` on the entity key) gives
  *    every parquet row group tight min/max key stats, so point lookups
  *    (the E1 fallback shape) skip row groups inside the files a partition
  *    scan selects.
  *  - Partition columns must be LOW cardinality (a day × a 5-value op enum =
  *    bounded directories); the entity key goes into the in-file sort, never
  *    the directory tree — a `user_id=` layout would mean millions of tiny
  *    files and a dead file index at 100 TB.
  *
  * `LayoutSpec` proves the pruning from the physical plan (PartitionFilters +
  * selected file count) rather than trusting the prose.
  */
object Layout {

  /** Write the event log partitioned by (day, op) with per-file ordering on
    * (user_id, ts). One shuffle to coalesce each partition's data into few
    * files (`repartition` on the partition columns), then a task-local sort —
    * the standard compaction-friendly CDC archive layout.
    */
  def writeEventArchive(events: DataFrame, path: String,
                        filesPerPartition: Int = 1): Unit =
    events
      .withColumn("day", to_date(col("ts")))
      .repartition(col("day"), col("op"))
      // the partition columns LEAD the sort: the file writer requires rows
      // ordered by partition columns and inserts its own (unstable) sort if
      // the incoming order doesn't satisfy that requirement — which would
      // silently destroy the secondary (user_id, ts) order the row-group
      // stats depend on. With the prefix in place the writer reuses this
      // sort and the in-file order survives.
      .sortWithinPartitions(col("day"), col("op"), col("user_id"), col("ts"))
      .write
      .partitionBy("day", "op")
      .mode("overwrite")
      .parquet(path)

  /** One micro-batch's append into the (day, op) layout, gated by a
    * batch-id marker so a REPLAYED batch commits exactly once — the
    * shared core of [[archiveStream]], exposed because the idempotency
    * claim is only testable at this grain (a real foreachBatch replay
    * happens on crash recovery, not on demand). Plain `mode(append)`
    * parquet — deliberately NOT the file-streaming sink: its
    * `_spark_metadata` transaction log would pin the file list forever,
    * making [[compactDay]] / [[retentionSweep]] / [[eraseEntity]]
    * rewrites invisible (or corrupting) to metadata-log readers. The
    * marker closes most of the gap instead: a batch is re-appended only
    * if the crash lands BETWEEN data commit and marker commit (the
    * two-phase window every file sink has) — that residual window is
    * at-least-once, documented, and a [[compactDay]] pass after recovery
    * restores the one-file contract the duplicates disturb (dedup on
    * (event_id) downstream composes via the CDC path's `dedupeReplays`).
    */
  def appendArchiveBatch(batch: DataFrame, path: String, batchId: Long): Boolean = {
    val spark = batch.sparkSession
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(path, s"_batches/$batchId")
    if (fs.exists(marker)) false
    else {
      // erasure tombstones: a replayed old batch must not resurrect an
      // erased entity (see [[eraseEntities]] — cutoff-scoped, so an
      // entity's genuinely NEW rows still flow)
      val guarded =
        if (!fs.exists(new org.apache.hadoop.fs.Path(path, "_tombstones"))) batch
        else {
          val tomb = spark.read.parquet(s"$path/_tombstones")
            .groupBy(col("t_user")).agg(max(col("cutoff_id")).as("cutoff_id"))
          batch.join(broadcast(tomb),
            batch("user_id") === tomb("t_user") &&
              batch("event_id") <= tomb("cutoff_id"), "left_anti")
        }
      guarded
        .withColumn("day", to_date(col("ts")))
        .repartition(col("day"), col("op"))
        .sortWithinPartitions(col("day"), col("op"), col("user_id"), col("ts"))
        .write.partitionBy("day", "op").mode("append").parquet(path)
      val out = fs.create(marker)
      out.close()
      true
    }
  }

  /** STREAMING writer into the archive — the live form of
    * [[writeEventArchive]]: each micro-batch appends its slice of the
    * (day, op) tree with the same partition-prefixed in-file sort, so the
    * layout contracts (directory pruning, row-group key stats) hold from
    * the first batch. Appends leave multiple files per (day, op) — that
    * is [[compactDay]]'s job, run nightly; [[retentionSweep]] and
    * [[eraseEntity]] compose because the sink is plain parquet (see
    * [[appendArchiveBatch]] for why not the `_spark_metadata` sink, and
    * for the replay contract). Erasure against a LIVE archive: quiesce
    * the writer (stop, or between triggers), erase, resume from the same
    * checkpoint — spec'd end to end in `LayoutSpec`; a concurrent erase
    * racing an append into the same day could resurrect the entity in
    * files the census never saw, so the quiesced recipe is the contract.
    */
  def archiveStream(events: DataFrame, path: String,
                    checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       batchId: Long) =>
        appendArchiveBatch(batch.toDF(), path, batchId); ()
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** Small-file census — the ADVISOR half of the compaction loop: which
    * (day, op) directories exceed `maxFiles` parquet files? Metadata-only
    * (a directory listing bounded by retention days × the op enum; at
    * 100 TB a compaction decision that scans data is a bug, same argument
    * as [[retentionSweep]]). The streaming writer ([[archiveStream]])
    * accrues exactly this debt batch by batch; feed the report to
    * [[compactWhereNeeded]] — or page on it via the Monitor family.
    */
  def compactionAdvisor(spark: SparkSession, path: String,
                        maxFiles: Int = 4): DataFrame = {
    import spark.implicits._
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val report = for {
      day <- fs.listStatus(root).toSeq
        if day.isDirectory && day.getPath.getName.startsWith("day=")
      op <- fs.listStatus(day.getPath).toSeq
        if op.isDirectory && op.getPath.getName.startsWith("op=")
      files = fs.listStatus(op.getPath)
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      if files.length > maxFiles
    } yield (day.getPath.getName.stripPrefix("day="),
      op.getPath.getName.stripPrefix("op="),
      files.length.toLong, files.map(_.getLen).sum)
    report.sortBy(t => (t._1, t._2)).toDF("day", "op", "files", "bytes")
  }

  /** The closed loop: census → [[compactDay]] each day carrying debt →
    * the post-state report (empty = contract restored). The nightly
    * maintenance job as one call; answers never change (compaction is
    * layout, pinned in `LayoutSpec`).
    */
  def compactWhereNeeded(spark: SparkSession, path: String,
                         maxFiles: Int = 4): DataFrame = {
    val days = compactionAdvisor(spark, path, maxFiles)
      .select(col("day")).distinct().collect().map(_.getString(0))
    days.foreach(d => compactDay(spark, path, d))
    compactionAdvisor(spark, path, maxFiles)
  }

  /** Retention sweep — the lifecycle step that completes the archive
    * story (write → compact → EXPIRE): drop every `day=` partition older
    * than `cutoffDay`, returning a (day, files, bytes) report of what was
    * removed. METADATA-ONLY by design: the operator lists the top-level
    * partition directories (bounded by retention length in days, never by
    * file or row count) and deletes whole directories — at 100 TB a
    * retention pass that scans data is a bug, and the (day, op) layout
    * exists precisely so age-based deletion is a directory rm.
    *
    * Granularity note: this is PARTITION-grain retention (the common
    * time-based policy). Entity-grain deletion (one user out of every
    * partition) is a rewrite, not a delete — [[eraseEntity]].
    */
  def retentionSweep(spark: SparkSession, path: String,
                     cutoffDay: String): DataFrame = {
    import spark.implicits._
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cutoff = java.time.LocalDate.parse(cutoffDay)
    val dropped = fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("day="))
      .map(s => (s.getPath,
        java.time.LocalDate.parse(s.getPath.getName.stripPrefix("day="))))
      .filter { case (_, d) => d.isBefore(cutoff) }
      .map { case (p, d) =>
        val usage = fs.getContentSummary(p) // counted before the delete
        require(fs.delete(p, true), s"failed to drop partition $p")
        (d.toString, usage.getFileCount, usage.getLength)
      }
    dropped.toDF("day", "files", "bytes")
  }

  /** Read one day's slice of one op — the probe whose plan must show
    * directory pruning (PartitionFilters), not a full-archive scan.
    */
  def readDayOp(spark: SparkSession, path: String, day: String, op: String): DataFrame =
    spark.read.parquet(path)
      .filter(col("day") === lit(day).cast("date") && col("op") === op)

  /** Compact one day's partitions in place — the nightly maintenance job a
    * streaming writer makes necessary: micro-batch appends leave many small
    * files per (day, op) directory, and at 100 TB small files kill both the
    * file-index scan and row-group skipping (min/max stats are per row
    * group; fragments mean fragmented stats). Rewrites JUST the target day
    * via dynamic partition overwrite — one shuffle of one day's data, the
    * rest of the archive untouched byte-for-byte — restoring the one-file,
    * (user_id, ts)-sorted contract of [[writeEventArchive]].
    */
  def compactDay(spark: SparkSession, path: String, day: String): Unit = {
    val slice = spark.read.parquet(path)
      .filter(col("day") === lit(day).cast("date"))
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try slice
      .repartition(col("day"), col("op"))
      // partition columns lead the sort — see writeEventArchive
      .sortWithinPartitions(col("day"), col("op"), col("user_id"), col("ts"))
      .write.partitionBy("day", "op").mode("overwrite").parquet(path)
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** ENTITY-GRAIN deletion — the GDPR erasure operator: remove ONE user's
    * rows from the whole archive. Where [[retentionSweep]] is a metadata-
    * only directory drop (age is a partition column), an entity is spread
    * across every partition, so erasure is necessarily a REWRITE — but a
    * bounded one: only the (day, op) partitions that actually hold the
    * user's rows are rewritten (one dynamic-overwrite job over just those
    * days, the [[compactDay]] shape), every other partition stays
    * byte-untouched, and the rewrite restores the (user_id, ts) in-file
    * sort contract. The locate scan is row-group-pruned by the layout's
    * own min/max key stats (the in-file sort exists for exactly this
    * point-lookup shape).
    *
    * A (day, op) directory whose EVERY row belongs to the erased user is
    * deleted outright — dynamic overwrite only rewrites partitions
    * present in the written data, so an empty survivor set would
    * otherwise leave the old files (and the user's data) in place; the
    * census that drives the report catches those directories before the
    * write.
    *
    * Returns the audit report (day, rows_removed) — the record an erasure
    * request needs. The `days`-grain driver list is bounded by retention
    * length, same argument as [[retentionSweep]].
    */
  def eraseEntity(spark: SparkSession, path: String, userId: Long): DataFrame = {
    import spark.implicits._
    eraseEntities(spark, path, Seq(userId))
      .groupBy(col("day")).agg(sum(col("rows_removed")).as("rows_removed"))
      .orderBy(col("day"))
  }

  /** BATCHED erasure — the GDPR-backlog form: N entities in ONE
    * bounded-metadata pass over the archive (locate + audit + tombstone
    * cutoff + emptied census, all from a single (day, op, target)-grain
    * aggregation) and ONE rewrite cycle over the union of their affected
    * (day, op) partitions (per-entity loops would rewrite shared days N
    * times). Returns the per-(user, day) audit so each request gets its
    * own record. Same null-safety contract as the single form: a null
    * key survives any erasure.
    */
  def eraseEntities(spark: SparkSession, path: String,
                    userIds: Seq[Long]): DataFrame = {
    import spark.implicits._
    require(userIds.nonEmpty, "eraseEntities needs at least one entity")
    val hit = col("user_id").isNotNull && col("user_id").isin(userIds: _*)
    // ONE full-archive pass replaces what used to be FOUR (locate the
    // affected days, per-request audit, pre-rewrite max(event_id) for the
    // tombstone cutoff, per-(day, op) emptied-directory census): aggregate
    // at (day, op, hit-target-or-null) grain — cardinality bounded by
    // retention days × the op enum × (targets + 1), so the collect is
    // planning metadata, never data-sized — and derive all four driver-side
    // decisions from the same rows. At 100 TB this is the difference
    // between one scan of the archive and four.
    val facts = spark.read.parquet(path)
      .groupBy(col("day"), col("op"), when(hit, col("user_id")).as("t_user"))
      .agg(count(lit(1)).as("n"), max(col("event_id")).as("mx"))
      .collect()
      .map(r => (r.getDate(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4))))
    val days = facts.collect { case (d, _, Some(_), _, _) => d }.distinct.toSeq
    if (days.isEmpty)
      return Seq.empty[(Long, java.sql.Date, Long)].toDF("user_id", "day", "rows_removed")
    // the per-request audit, from the pre-rewrite pass (bounded:
    // entities x retention days)
    val audit = facts.collect { case (d, _, Some(u), n, _) => ((u, d), n) }
      .groupBy(_._1).map { case ((u, d), rs) => (u, d, rs.map(_._2).sum) }.toSeq
    // cutoff for the tombstones, taken BEFORE the rewrite: the erased
    // user may hold the archive's highest event_ids, and a survivors-only
    // max would then sit BELOW them — a replayed batch carrying those
    // rows would pass the `event_id <= cutoff_id` guard and resurrect
    // erased data. Pre-rewrite max covers every id any replayable batch
    // can carry. Non-null by construction here: days.nonEmpty implies the
    // archive holds at least the located rows.
    val cutoffs = facts.flatMap(_._5)
    require(cutoffs.nonEmpty,
      "archive row located but max(event_id) is null — corrupt archive")
    val cutoff = cutoffs.max
    // emptied-directory census over the affected days: a (day, op) whose
    // every row belongs to erased targets must be deleted outright after
    // the dynamic overwrite (which only rewrites partitions present in
    // the written data)
    val affected = days.toSet
    // NB: keep this a Map → keys derivation — a `collect` emitting (d, op)
    // PAIRS from a Map would rebuild a Map keyed on `d` alone and silently
    // drop all but one op of a day whose every op-directory emptied
    val emptied = facts.filter(t => affected(t._1))
      .groupBy(t => (t._1, t._2))
      .filter { case (_, rs) => rs.forall(_._3.isDefined) }
      .keys.toSeq
    // survivors of the affected days, rewritten in place (null-safe: a
    // null user_id row must SURVIVE an erasure, not vanish — `hit` is
    // null-proof by construction, so its negation keeps null keys)
    val slice = spark.read.parquet(path)
      .filter(col("day").isin(days: _*))
      .filter(!hit)
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try slice
      .repartition(col("day"), col("op"))
      .sortWithinPartitions(col("day"), col("op"), col("user_id"), col("ts"))
      .write.partitionBy("day", "op").mode("overwrite").parquet(path)
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    emptied.foreach { case (d, op) =>
      val dir = new org.apache.hadoop.fs.Path(path, s"day=$d/op=$op")
      if (fs.exists(dir)) require(fs.delete(dir, true), s"failed to drop $dir")
      // a day whose every op directory emptied leaves a hollow day= shell
      val parent = dir.getParent
      if (fs.exists(parent) &&
          !fs.listStatus(parent).exists(s => s.isDirectory &&
            s.getPath.getName.startsWith("op=")))
        fs.delete(parent, true)
    }
    // TOMBSTONES close the resurrection hole: a crash in
    // [[appendArchiveBatch]]'s data-vs-marker window replays a whole old
    // batch — including this user's just-erased rows. Each erasure
    // records (user_id, cutoff = the archive's max event_id at erasure):
    // replayed rows carry ids ≤ cutoff (their batch was committed before
    // the erasure) and are dropped on append; the user's GENUINELY NEW
    // rows carry higher ids and flow — erasure stays point-in-time.
    // (cutoff was measured pre-rewrite, above, so it bounds the erased
    // user's own ids too.)
    userIds.map(u => (u, cutoff)).toDF("t_user", "cutoff_id")
      .coalesce(1).write.mode("append").parquet(s"$path/_tombstones")
    audit.sortBy(t => (t._1, t._2.toString))
      .toDF("user_id", "day", "rows_removed")
  }

  /** Oracle-gated erasure proof (`ops_erase_entity`): stage a FRESH
    * (day, op) archive from the events table (fresh every run — erasure
    * mutates it, so the drop-cache discipline the read-only stagings use
    * would poison rep 2), erase the MIN user id (deterministic, oracle-
    * expressible), and return per-day (kept_n, kept_sum, removed_n) —
    * kept aggregates read back from the REWRITTEN archive, removed counts
    * from the erasure's own audit report. DuckDB recomputes both sides
    * from the raw table, so the gate catches a row lost from the wrong
    * partition, a survivor dropped (including null-key rows, which must
    * SURVIVE an erasure), and an audit that miscounts what it removed.
    */
  def eraseEntityAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = graft.cdc.EventLog.normalize(graft.Tables.load(spark, sfDir, "events"))
      .select(col("event_id"), col("ts"), col("user_id"), col("op"), col("props"))
    // scalar one-row witness (documented pattern): the erasure target
    val target = ev.agg(min(col("user_id"))).first().getLong(0)
    val dir = stagedArchiveClone(spark, sfDir, ev, "erase_archive")
    val report = eraseEntity(spark, dir, target)
    val kept = spark.read.parquet(dir)
      .groupBy(col("day"))
      .agg(count(lit(1)).cast("long").as("kept_n"),
           sum(col("event_id")).cast("long").as("kept_sum"))
    val out = kept.join(report.withColumnRenamed("rows_removed", "removed_n"),
        Seq("day"), "full_outer")
      .select(col("day").cast("string").as("day"), // string: DATE renders
        coalesce(col("kept_n"), lit(0L)).as("kept_n"), // differently across
        col("kept_sum"),                               // arrow readers
        coalesce(col("removed_n"), lit(0L)).cast("long").as("removed_n"))
    materializeAndDropStaging(spark, out, dir)
  }

  /** Oracle-gated BATCHED erasure proof (`ops_erase_batch`): one
    * [[eraseEntities]] call over the three smallest user ids (the GDPR
    * backlog shape — N entities, ONE locate pass and ONE rewrite cycle),
    * returning the per-(user, day) audit joined with the post-rewrite
    * per-day survivor census. DuckDB recomputes both sides from the raw
    * table, so the gate proves each request's own removal count AND that
    * the shared-day rewrite kept exactly the other users' rows (a day all
    * three targets dominate must census to its true survivor count, not
    * to a per-entity-loop multiple).
    */
  def eraseEntitiesAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = graft.cdc.EventLog.normalize(graft.Tables.load(spark, sfDir, "events"))
      .select(col("event_id"), col("ts"), col("user_id"), col("op"), col("props"))
    // scalar witnesses (documented pattern): the three erasure targets
    val targets = ev.filter(col("user_id").isNotNull)
      .select(col("user_id")).distinct().orderBy(col("user_id"))
      .limit(3).collect().map(_.getLong(0)).toSeq
    val dir = stagedArchiveClone(spark, sfDir, ev, "erase_archive")
    val report = eraseEntities(spark, dir, targets)
    val kept = spark.read.parquet(dir)
      .groupBy(col("day")).agg(count(lit(1)).cast("long").as("day_kept_n"))
    val out = report.join(kept, Seq("day"), "left")
      .select(col("user_id"),
        col("day").cast("string").as("day"),
        col("rows_removed").cast("long").as("removed_n"),
        coalesce(col("day_kept_n"), lit(0L)).as("day_kept_n"))
    materializeAndDropStaging(spark, out, dir)
  }

  /** COPY-ON-WRITE staging for the erase audits (r16 verdict #6): the
    * archive the erasure mutates is a FIXTURE derived deterministically
    * from the events table — the operator under test is the erasure, not
    * the archive write — yet the old discipline re-wrote the whole
    * multi-file archive per invocation (correctly: a shared mutable
    * staging would poison rep 2), making the staging write ~100% of the
    * two queries' bench cost. The COW form keeps the isolation and drops
    * the cost: the archive is WRITTEN once per (session, sfDir) — the
    * master — and each invocation gets a fresh HARDLINK clone of the tree.
    * Isolation holds because parquet files are immutable once written:
    * every mutation the erasure performs is a new file, a rename, or an
    * unlink, and unlinking a hardlink leaves the master's inode untouched
    * (`LayoutSpec` pins this: after an erasure on a clone, the master
    * still serves the erased user's rows byte-for-byte). Each invocation
    * still computes its erasure from a full archive of the parquet inputs
    * — nothing of the QUERY's work is cached, only the fixture build.
    *
    * A master is keyed by tag, sfDir and the semantic hash of `ev`'s
    * analyzed plan: canonicalization erases expression ids, so the two
    * erase audits (each loading events afresh) still share one master,
    * while a differently shaped `ev` under the same tag gets its own.
    */
  private val archiveMasters =
    scala.collection.concurrent.TrieMap.empty[String, String]

  // masters live for the session (that is the point); reclaim them on JVM
  // exit so repeated sessions don't accumulate archives in /tmp
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      archiveMasters.values.foreach { dir =>
        try deleteTree(dir)
        catch { case _: java.io.IOException => () } // best-effort cleanup
      }))
  }

  private def deleteTree(dir: String): Unit = {
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try walk.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.deleteIfExists(p))
    finally walk.close()
  }

  private[graft] def stagedArchiveClone(spark: SparkSession, sfDir: String,
                                        ev: DataFrame, tag: String): String = {
    val master = archiveMasters.getOrElseUpdate(s"$tag#$sfDir#${ev.semanticHash()}", {
      val dir = java.nio.file.Files.createTempDirectory(s"${tag}_master").toString
      // a failed build is not cached: drop its partial tree so the next
      // call starts from an empty directory and /tmp keeps no orphan
      try writeEventArchive(ev, dir)
      catch { case NonFatal(e) =>
        try deleteTree(dir) catch { case io: java.io.IOException => e.addSuppressed(io) }
        throw e
      }
      dir
    })
    val clone = java.nio.file.Files.createTempDirectory(tag).toString
    hardlinkTree(master, clone)
    clone
  }

  /** Recursive hardlink clone: directories recreated, files linked (same
    * inode — O(files) metadata ops, zero data bytes copied). Safe for
    * parquet trees because writers never modify files in place. A file
    * that cannot be linked (no hardlink support, or master and clone on
    * different filesystems) is copied instead.
    */
  private def hardlinkTree(src: String, dst: String): Unit = {
    val s = java.nio.file.Paths.get(src)
    val d = java.nio.file.Paths.get(dst)
    val stream = java.nio.file.Files.walk(s)
    try stream.forEach { p =>
      val t = d.resolve(s.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(t)
      else try java.nio.file.Files.createLink(t, p)
      catch {
        case _: UnsupportedOperationException | _: java.nio.file.FileSystemException =>
          java.nio.file.Files.copy(p, t)
      }
    } finally stream.close()
  }

  /** The erase-audit staging dirs are mutated by the erasure under test, so
    * they must be FRESH per invocation (the read-only stagings' fingerprint
    * cache would poison rep 2) — and therefore deleted per invocation, or a
    * multi-rep bench session accumulates staged archives in /tmp. The audit
    * result is bounded (entities × retention days), so eager
    * materialization into a local relation lets the staging go immediately;
    * same rows, same schema, hash-identical to the lazy form.
    */
  private def materializeAndDropStaging(spark: SparkSession, out: DataFrame,
                                        dir: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    val rows = out.collect().toSeq
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    spark.createDataFrame(rows.asJava, out.schema)
  }

  // ===== Z-order (space-filling curve) clustering =====

  /** Bit-interleave two already-quantized `bits`-wide non-negative columns
    * into a Z-order curve value: z = ... b1 a1 b0 a0 (bit i of `a` lands at
    * position 2i, of `b` at 2i+1). Locality property: rows close in z are
    * close in BOTH dimensions, so sorting by z gives every storage block
    * tight min/max ranges on both columns at once — where a lexicographic
    * (a, b) sort gives tight ranges on `a` only.
    */
  def zValue(a: Column, b: Column, bits: Int): Column =
    (0 until bits).map { i =>
      shiftleft(shiftright(a, i).bitwiseAND(1L), 2 * i)
        .bitwiseOR(shiftleft(shiftright(b, i).bitwiseAND(1L), 2 * i + 1))
    }.reduce(_.bitwiseOR(_))

  /** Append a `z` column interleaving two long columns (by NAME, so the
    * quantization can be expressed in exact integer SQL), each min/max
    * normalized to `bits` levels first — raw interleave would be dominated by
    * whichever column has the larger magnitude (high bits all zero on the
    * smaller dim), which degenerates z-order back to a single-column sort.
    * The min/max stats are ONE row computed in a partial agg and
    * broadcast-joined back (the scalar-subquery shape of
    * `ops_scalar_subquery`): no collect, no probe-side shuffle. At 100 TB
    * production systems snapshot these stats instead of rescanning; the
    * quantization is insensitive to staleness (new extremes clamp).
    */
  def withZ(df: DataFrame, aCol: String, bCol: String, bits: Int = 8): DataFrame = {
    val levels = 1L << bits
    val stats = df.agg(
      min(col(aCol)).as("z_amn"), max(col(aCol)).as("z_amx"),
      min(col(bCol)).as("z_bmn"), max(col(bCol)).as("z_bmx"))
    df.join(broadcast(stats))
      .withColumn("z_qa", expr(s"(($aCol - z_amn) * $levels) div (z_amx - z_amn + 1)"))
      .withColumn("z_qb", expr(s"(($bCol - z_bmn) * $levels) div (z_bmx - z_bmn + 1)"))
      .withColumn("z", zValue(col("z_qa"), col("z_qb"), bits))
      .drop("z_amn", "z_amx", "z_bmn", "z_bmx", "z_qa", "z_qb")
  }

  /** Write the event log Z-order clustered on (user_id, time): range
    * partition by z (sampled boundaries — distributed, no global sort), sort
    * within each file by z. Every output file then holds a tight range of
    * BOTH user ids and timestamps, so parquet row-group min/max pushdown
    * skips data for user-bounded AND time-bounded scans — the standard
    * lakehouse OPTIMIZE ZORDER layout, vs [[writeEventArchive]] whose in-file
    * sort serves only the key dimension within each (day, op) directory.
    */
  def zorderWrite(events: DataFrame, path: String, numFiles: Int = 32): Unit =
    withZ(events.withColumn("su", expr(
        "(unix_timestamp(ts) - unix_timestamp(timestamp '2024-01-01 00:00:00')) div 32")),
        "user_id", "su")
      .repartitionByRange(numFiles, col("z"))
      .sortWithinPartitions(col("z"))
      .drop("z", "su")
      .write.mode("overwrite").parquet(path)

  /** Z-order clustering statistics over the events table — the measurable
    * form of the locality claim: bucket rows by the TOP 5 bits of z (an
    * in-row projection — no global sort, no ntile) and report per-bucket row
    * count, distinct users, and time span. Because top z bits alternate
    * dimensions, every bucket must be narrow in BOTH user range and time
    * range — the oracle checks the exact stats, `LayoutSpec` asserts the
    * clustering factor against the single-dimension sort.
    */
  def zorderStats(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = graft.Tables.load(spark, sfDir, "events").withColumn("su", expr(
      "(unix_timestamp(ts) - unix_timestamp(timestamp '2024-01-01 00:00:00')) div 32"))
    withZ(ev, "user_id", "su")
      .withColumn("bucket", expr(s"z div ${1L << 11}")) // top 5 of 16 z bits
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
           countDistinct(col("user_id")).as("n_users"),
           (max(col("su")) - min(col("su"))).as("span32"))
  }

  /** Number of buckets for the co-located fact tables. At 100 TB this is
    * sized so one bucket of the LARGER fact fits an executor's shuffle-free
    * join task (≈ rows/buckets × row width ≲ a few hundred MB); 16 keeps the
    * local[32] test honest (more buckets than needed, like production).
    */
  val FactBuckets = 16

  /** Write a fact table bucketed (and per-file sorted) on its join key into
    * the session catalog, once per (table, source-dir): the write is skipped
    * when the catalog already has it, so within a session only the FIRST
    * plan/run pays the layout cost — exactly the amortization bucketing buys
    * at scale, where the one-time cluster-wide shuffle into bucket files is
    * repaid by every subsequent join and aggregation on that key running
    * shuffle-free. The table name carries a source-dir hash so concurrent
    * sessions over different scale factors never collide in the shared
    * warehouse; within ONE source dir the layout write is single-writer by
    * contract (as with any table build — two concurrent builders of the
    * same table need external coordination, here as everywhere).
    */
  def ensureBucketed(spark: SparkSession, sfDir: String,
                     table: String, key: String): String = {
    val short = s"${table}_bk_${Integer.toHexString(sfDir.hashCode).takeRight(8)}"
    val name = s"graft_buckets.$short"
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_buckets")
    if (!spark.catalog.tableExists(name)) {
      // the in-memory catalog forgets tables across JVMs while the warehouse
      // directory persists, and CTAS refuses an existing location even in
      // overwrite mode — drop the stale files from a previous session first
      val loc = new org.apache.hadoop.fs.Path(
        s"${spark.conf.get("spark.sql.warehouse.dir")}/graft_buckets.db/$short")
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
      graft.Tables.load(spark, sfDir, table)
        .write.mode("overwrite").format("parquet")
        .bucketBy(FactBuckets, key).sortBy(key)
        .saveAsTable(name)
    }
    name
  }

  /** Bucketed co-located fact⋈fact join — the storage-layout answer to the
    * biggest shuffle on the board. A plain orders⋈lineitem shuffles BOTH
    * facts on the order key every time it runs; with both tables bucketed by
    * that key into the same bucket count, the sort-merge join consumes
    * bucket i of each side directly — the physical plan has ZERO Exchange
    * below the join (`PlanSpec` pins it; `SelectedBucketsCount` shows in the
    * scans), and the only shuffle left in the query is the final
    * priority-grain rollup. At 100 TB this converts the dominant recurring
    * fact-shuffle into a one-time layout cost shared by every keyed join,
    * aggregation, and incremental merge on the same key. The merge hint
    * keeps the demonstration honest at test scale (orders would otherwise
    * broadcast); at production fact sizes SMJ is what the planner picks
    * anyway. Values (per-priority line counts and discounted revenue in
    * basis points) are oracle-checked against the logically identical
    * unbucketed join — layout must never change answers.
    */
  def bucketedJoinRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val o = spark.table(ensureBucketed(spark, sfDir, "orders", "o_orderkey"))
      .select(col("o_orderkey"), col("o_orderpriority"))
    val l = spark.table(ensureBucketed(spark, sfDir, "lineitem", "l_orderkey"))
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    o.hint("merge").join(l, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        (sum(graft.ops.Relational.discountedLine) * 10000)
          .cast("long").as("rev_bp"),
        count(lit(1)).as("n_lines"))
  }
}
