package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Checkpoint STATE MIGRATION for the prev-image pipeline (SURVEY §7.6 #3) —
  * the operational gap a production user of this engine hits first: the two
  * stateful APIs (`flatMapGroupsWithState`, the classic path, and Spark 4
  * `transformWithState`, the RocksDB-native path) are semantically pinned
  * equal (`CdcStreamSpec`), but their CHECKPOINT LAYOUTS differ, so a live
  * deployment can't just restart one as the other. This module moves the
  * state across using only public, cluster-safe machinery:
  *
  *  1. READ — Spark's State Data Source (`format("statestore")`) reads the
  *     old checkpoint's keyed state as a DataFrame, distributed (one task
  *     per state partition; no driver materialization).
  *  2. RE-KEY — optional key-shape mapping ([[withTableKey]] /
  *     [[dropTableKey]] for the single-table ↔ (table, id) move).
  *  3. WRITE + RESUME — the new-API query starts on a FRESH checkpoint with
  *     the state injected through the engine's own initial-state hooks
  *     (`transformWithState(..., initialState)` /
  *     `flatMapGroupsWithState(..., initialState)`) — the first batch
  *     persists it in the NEW layout via the normal commit path, so the
  *     write is atomic-with-the-batch rather than hand-crafted files —
  *     and the SOURCE resumes where the old query stopped via
  *     [[committedOffset]] + the source's `startAfterId` option.
  *
  * Delivery across the cut-over is exactly-once: the old query is stopped
  * after commit N (its state reflects every event ≤ offset_N), and the new
  * query's batch 0 begins at offset_N + 1 with that state preloaded.
  * `StateMigrationSpec` runs the pipeline to a checkpoint on API A,
  * migrates, resumes on API B, and pins row-for-row output parity against
  * an uninterrupted run — in both directions, and through the re-key.
  *
  * 100 TB posture: every step is a distributed frame (state reader tasks →
  * shuffle by the new key → state-store writes co-located with the key);
  * nothing driver-side but the few-line offset-log read.
  */
object StateMigration {

  /** State rows of a flatMapGroupsWithState prev-image checkpoint
    * ([[CdcStream.withPrevState]]'s layout): (user_id, prev-payload JSON).
    */
  def readPrevImageState(spark: SparkSession,
                         checkpointDir: String): Dataset[(Long, String)] = {
    import spark.implicits._
    spark.read.format("statestore").option("path", checkpointDir).load()
      .select(col("key.value").cast("long").as("_1"),
        col("value.groupState.value").as("_2"))
      .as[(Long, String)]
  }

  /** State rows of a transformWithState prev-image checkpoint
    * ([[CdcStream.withPrevStateTws]]'s layout — named state variable
    * "prev", beside the erasure receipt "erasedAt"): (user_id,
    * prev-payload JSON). The reverse-migration reader.
    */
  def readPrevImageStateTws(spark: SparkSession,
                            checkpointDir: String): Dataset[(Long, String)] = {
    import spark.implicits._
    spark.read.format("statestore").option("path", checkpointDir)
      .option("stateVarName", "prev").load()
      .select(col("key.value").cast("long").as("_1"),
        col("value.value").as("_2"))
      .as[(Long, String)]
  }

  /** The raw per-source offset lines of the highest COMMITTED batch, in
    * SOURCE-ORDINAL order. OffsetSeqLog layout: line 0 = "v1", line 1 = the
    * metadata JSON, then ONE line per source in the order the sources
    * appear in the query plan — for [[CdcCatalog.readAll]] that is the
    * order of the `specs` argument, which is why [[committedOffsets]] can
    * be zipped back against the same spec list on resume. Offsets of
    * later, uncommitted batch attempts are deliberately ignored: their
    * data was never delivered, so the new query must re-read it. Hadoop FS
    * API — works on HDFS/S3 checkpoints, not just local disk.
    */
  private def committedOffsetLines(spark: SparkSession,
                                   checkpointDir: String): Vector[String] = {
    import org.apache.hadoop.fs.Path
    val dir = new Path(checkpointDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val commits = fs.listStatus(new Path(dir, "commits"))
      .map(_.getPath.getName).filter(_.forall(_.isDigit)).map(_.toLong)
    require(commits.nonEmpty, s"no committed batches under $checkpointDir")
    val in = fs.open(new Path(dir, s"offsets/${commits.max}"))
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
      finally in.close()
    require(lines.length >= 3, s"unexpected offsets log shape: $lines")
    lines.drop(2)
  }

  /** The old checkpoint's last COMMITTED source offset — the resume handle
    * to pass as the new query's `startAfterId`. SINGLE-SOURCE checkpoints
    * only: a multi-source checkpoint (e.g. a [[CdcCatalog.readAll]] union,
    * one offset line per table with INDEPENDENT id spaces) is rejected
    * rather than silently answered with the first table's offset — resuming
    * every table at table 1's position would re-deliver on tables behind it
    * and LOSE events on tables ahead of it. Use [[committedOffsets]] (and
    * [[CdcCatalog.resumeAll]]) for those.
    */
  def committedOffset(spark: SparkSession, checkpointDir: String): Long = {
    val src = committedOffsetLines(spark, checkpointDir)
    require(src.length == 1,
      s"checkpoint has ${src.length} sources — a per-source resume position is " +
        "required; use committedOffsets / CdcCatalog.resumeAll instead of " +
        "committedOffset (per-table id spaces are independent)")
    CdcSource.CdcOffset.fromJson(src.head).maxId
  }

  /** Per-source committed offsets of a (possibly multi-source) checkpoint,
    * in source-ordinal order — for a [[CdcCatalog.readAll]] checkpoint that
    * is the order of the spec list the union was built from, so
    * `specs.zip(committedOffsets(...))` pairs each table with its own
    * resume handle. A source that never committed data yields -1 (the
    * from-the-beginning sentinel), matching the fresh-start default.
    */
  def committedOffsets(spark: SparkSession, checkpointDir: String): Seq[Long] =
    committedOffsetLines(spark, checkpointDir)
      .map(CdcSource.CdcOffset.fromJson(_).maxId)

  /** State rows of a BY-TABLE transformWithState prev-image checkpoint
    * ([[CdcStream.withPrevStateByTableTws]]'s layout — (table, user)
    * tuple key, named state variable "prev"): ((table, user_id), prev).
    */
  def readPrevImageStateByTableTws(spark: SparkSession, checkpointDir: String)
      : Dataset[((String, Long), String)] = {
    import spark.implicits._
    spark.read.format("statestore").option("path", checkpointDir)
      .option("stateVarName", "prev").load()
      .select(col("key._1").as("t"), col("key._2").cast("long").as("u"),
        col("value.value").as("p"))
      .as[(String, Long, String)]
      .map { case (t, u, p) => ((t, u), p) }
  }

  /** State rows of a GENERIC-capture prev-image checkpoint
    * ([[CdcStream.withPrevStateByRowKey]]'s layout — string row key from a
    * JSON path into the dynamic payload): (row_key, prev-payload JSON).
    * Resume side: `CdcStream.withPrevStateByRowKey(..., initial)`.
    */
  def readPrevImageStateByRowKey(spark: SparkSession,
                                 checkpointDir: String): Dataset[(String, String)] = {
    import spark.implicits._
    spark.read.format("statestore").option("path", checkpointDir).load()
      .select(col("key.value").as("_1"),
        col("value.groupState.value").as("_2"))
      .as[(String, String)]
  }

  /** Bucket-exemplar state of an online text-dedup checkpoint
    * ([[DedupStream.candidates]]'s layout): (band key, exemplar doc_id).
    * The same READ → initial-state RESUME recipe as the prev-image path —
    * [[DedupStream.candidates]] with `initial` is the resume side — so
    * relocating a long-lived dedup store (new checkpoint volume, new
    * cluster) keeps the exemplar history instead of re-flagging the whole
    * corpus from scratch.
    */
  def readDedupBucketState(spark: SparkSession,
                           checkpointDir: String): Dataset[(String, Long)] = {
    import spark.implicits._
    spark.read.format("statestore").option("path", checkpointDir).load()
      .select(col("key.value").as("_1"),
        col("value.groupState.value").cast("long").as("_2"))
      .as[(String, Long)]
  }

  /** Class-grain exemplar state of an online MEDIA-dedup checkpoint
    * ([[DedupStream.fpVerifiedPairs]]'s layout): (band key, exemplar
    * fingerprint set). Resume side: [[DedupStream.fpVerifiedPairs]] with
    * `initial`.
    */
  def readMediaDedupState(spark: SparkSession, checkpointDir: String)
      : Dataset[(String, DedupStream.FpBucketState)] = {
    import spark.implicits._
    spark.read.format("statestore").option("path", checkpointDir).load()
      .select(col("key.value").as("_1"), col("value.groupState").as("_2"))
      .as[(String, DedupStream.FpBucketState)]
  }

  /** Cluster-exemplar state of an online semantic-dedup checkpoint
    * ([[SemDedupStream.judged]]'s layout): (bucket, exemplar set).
    * Resume side: [[SemDedupStream.judged]] with `initial`.
    */
  def readSemDedupState(spark: SparkSession, checkpointDir: String)
      : Dataset[(Long, SemDedupStream.ClusterState)] = {
    import spark.implicits._
    spark.read.format("statestore").option("path", checkpointDir).load()
      .select(col("key.value").cast("long").as("_1"),
        col("value.groupState").as("_2"))
      .as[(Long, SemDedupStream.ClusterState)]
  }

  /** The r14 novelty-gate state layout — per-shard value = the BARE bit
    * array (no insert counter, no generations) — read back from a classic
    * checkpoint for upgrade into the rotating [[BloomNovelty.GateState]].
    */
  def readNoveltyStateLegacy(spark: SparkSession, checkpointDir: String)
      : Dataset[(Int, Array[Long])] = {
    import spark.implicits._
    // the bare-array state encoder serializes as a single-field struct
    // (STRUCT<value: ARRAY<BIGINT>>) — unwrap it
    spark.read.format("statestore").option("path", checkpointDir).load()
      .select(col("key.value").cast("int").as("_1"),
        col("value.groupState.value").as("_2"))
      .as[(Int, Array[Long])]
  }

  /** Upgrade legacy gate state to [[BloomNovelty.GateState]]: the bits
    * carry over verbatim (classification is bits-only, so migrated
    * judgments are exact), and the rotation insert counter — which the
    * legacy layout never tracked — is seeded from filter OCCUPANCY
    * ([[BloomNovelty.estimateInserted]], Swamidass–Baldi), so a shard
    * migrated mid-life rotates where its actual fill says, instead of
    * absorbing a full extra capacity past its sized fpp. Feed the result
    * to [[BloomNovelty.tagged]] as its `initial`.
    */
  def migrateNoveltyState(legacy: Dataset[(Int, Array[Long])],
                          p: graft.functions.Bloom.Params)
      : Dataset[(Int, BloomNovelty.GateState)] = {
    import legacy.sparkSession.implicits._
    legacy.map { case (shard, bits) =>
      shard -> BloomNovelty.GateState(
        BloomNovelty.estimateInserted(bits, p.numHashes), bits, Nil)
    }
  }

  /** Scope a STATE-PARTITION-COUNT change for an offline repartition —
    * the operational lever the r6 latency study surfaced: shuffle
    * partition count is the 10× trigger-latency knob, but a streaming
    * query PINS its state partition count into the checkpoint at batch 0
    * and ignores later conf changes, so a deployed query could never
    * move without state loss. The repartition recipe is the migration
    * one under a different conf: read the old checkpoint's state
    * ([[readPrevImageState]] / [[readPrevImageStateTws]] — one task per
    * OLD partition), then START the resume-side query (`withPrevState` /
    * `withPrevStateTws` with `initial` + [[committedOffset]]) inside this scope —
    * its batch 0 shuffles the initial state by key into the NEW layout
    * and pins `n` into the NEW checkpoint. Distributed end to end: the
    * only driver-side piece is the conf set/restore. Works in both
    * directions (scale-out for state too big per task, scale-in for the
    * latency floor); `StateMigrationSpec` pins 4→32→4 with outputs
    * identical to an uninterrupted run and the on-disk partition count
    * verified via [[statePartitionCount]].
    */
  def withStatePartitions[T](spark: SparkSession, n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, n.toString)
    try body finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** The state partition count a checkpoint actually pinned — counted
    * from the state store's on-disk layout (`state/0/<partitionId>/`),
    * the ground truth the conf can drift from.
    */
  def statePartitionCount(spark: SparkSession, checkpointDir: String): Int = {
    import org.apache.hadoop.fs.Path
    val dir = new Path(checkpointDir, "state/0")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(dir).count(s => s.isDirectory && s.getPath.getName.forall(_.isDigit))
  }

  /** Re-key single-table state under a (table, user_id) key — the
    * single-table → multi-table migration direction.
    */
  def withTableKey(st: Dataset[(Long, String)],
                   table: String): Dataset[((String, Long), String)] = {
    import st.sparkSession.implicits._
    st.map { case (uid, prev) => ((table, uid), prev) }
  }

  /** Drop the table component of (table, user_id) keyed state — the
    * multi-table → single-table direction. Caller guarantees the retained
    * table's keys are unique (i.e. filter to ONE table first); enforced
    * here because two tables sharing a user_id would otherwise migrate a
    * nondeterministic prev-image.
    */
  def dropTableKey(st: Dataset[((String, Long), String)],
                   table: String): Dataset[(Long, String)] = {
    import st.sparkSession.implicits._
    st.filter(_._1._1 == table).map { case ((_, uid), prev) => (uid, prev) }
  }
}
