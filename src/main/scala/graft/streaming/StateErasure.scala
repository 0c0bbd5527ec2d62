package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Entity erasure EXTENDED INTO STREAMING STATE — the completion of the
  * archive-side GDPR path ([[graft.sources.Layout.eraseEntities]], which
  * writes `_tombstones`): erasure is only as complete as its most durable
  * copy, and without this module the prev-image state store keeps the
  * erased user's full last payload in every checkpoint forever, and the
  * dedup/semantic/media stores keep their fingerprints. (The reference has
  * the same blind spot — `redactions.go:33-52` is pipeline-only — but an
  * engine that ships a durable-state erasure operator has to finish the
  * job.)
  *
  * Two deployment shapes, matching the two stateful APIs:
  *
  *  - '''transformWithState (in-place)''' — resume the EXISTING checkpoint
  *    under [[CdcStream.PrevImageProcessor]]
  *    (`CdcStream.withPrevStateTws(ds, erased)`): per-key targeted removal
  *    driven by the broadcast erasure set ([[erasureSet]] — the tombstone
  *    table the archive already writes), restart-idempotent, with the
  *    tombstone cutoff dropping replayed pre-erasure rows in-handler. Keys
  *    that never recur are reached by injecting [[eraseSentinels]] into
  *    the feed — one synthetic command row per erased key.
  *
  *  - '''flatMapGroupsWithState (offline rewrite)''' — the classic API's
  *    `GroupState[String]` layout has no room for an erasure receipt, so
  *    the recipe is the [[StateMigration]] one with a filter in the
  *    middle: read the checkpoint's state through the state data source,
  *    anti-join the tombstones ([[erasePrevImageState]]), and resume on a
  *    FRESH checkpoint via `withPrevState(..., initial)` +
  *    `StateMigration.committedOffset` — the first batch persists the
  *    erased layout through the normal commit path. The OLD checkpoint
  *    directory still holds the payload bytes; delete it once the new
  *    query commits (same decommission step any migration ends with).
  *
  * The fingerprint stores get the same offline treatment:
  * [[eraseDedupBucketState]] / [[eraseMediaDedupState]] /
  * [[eraseSemDedupState]] filter an erased document's minhash band
  * exemplars, phash fingerprints, and embedding exemplars out of a read
  * state frame, for resume through the `*From` hooks each stream already
  * exposes.
  *
  * 100 TB posture: the erasure set is bounded by erasure REQUESTS (a
  * compliance queue, thousands at most), so shipping it in a closure is a
  * broadcast, not a join; the offline rewrites are distributed frames end
  * to end (state-reader tasks → anti-join → initial-state shuffle by key).
  * `StateErasureSpec` pins erase → restart → state-reader-clean +
  * `previous = null` first-sight on BOTH APIs, replay-drop below the
  * cutoff, and exemplar erasure changing dedup verdicts.
  */
object StateErasure {

  /** The broadcast erasure set: (user_id → max cutoff event_id) from the
    * archive's `_tombstones` table. Empty map if no erasure was ever
    * recorded. Driver-side collect is correct here — the table is bounded
    * by erasure requests, not data.
    */
  def erasureSet(spark: SparkSession, archivePath: String): Map[Long, Long] = {
    val fs = new org.apache.hadoop.fs.Path(archivePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = new org.apache.hadoop.fs.Path(archivePath, "_tombstones")
    if (!fs.exists(dir)) Map.empty
    else spark.read.parquet(dir.toString)
      .groupBy(col("t_user")).agg(max(col("cutoff_id")).as("cutoff_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  /** One synthetic command row per erased key: forces the stateful handler
    * to fire (and clear) even for a user who never sends another event.
    * Inject into the same feed the query reads — with a monotone source
    * (the CDC feed, a JDBC table with a sequence id) pass `firstId` above
    * the source's current max so the rows are actually delivered; the typed
    * prev-image fold and `statelessEvents` drop `event_type == "erase"` rows
    * unconditionally, so the id never enters the fold and no event is
    * emitted for a sentinel. With
    * no `firstId` each sentinel reuses its cutoff as the id (the
    * memory-harness shape).
    */
  def eraseSentinels(erased: Map[Long, Long],
                     firstId: Long = -1L): Seq[CdcStream.RawChange] =
    erased.toSeq.sortBy(_._1).zipWithIndex.map { case ((user, cutoff), i) =>
      val id = if (firstId < 0) cutoff else firstId + i
      CdcStream.RawChange(id, null, user, "erase", null)
    }

  /** By-table sentinels: one command row per (table, erased user) — a
    * multi-table capture's handler fires per (table, user) key, so each
    * table the entity is known in needs its own nudge
    * ([[CdcStream.withPrevStateByTableTws]]).
    */
  def eraseSentinelsByTable(erased: Map[Long, Long], tables: Seq[String],
                            firstId: Long = -1L): Seq[CdcStream.TableRawChange] = {
    val flat = for {
      t <- tables.sorted
      (user, cutoff) <- erased.toSeq.sortBy(_._1)
    } yield (t, user, cutoff)
    flat.zipWithIndex.map { case ((t, user, cutoff), i) =>
      val id = if (firstId < 0) cutoff else firstId + i
      CdcStream.TableRawChange(t, id, null, user, "erase", null)
    }
  }

  /** Offline rewrite of any prev-image layout: the state frame read from
    * the old checkpoint minus the erased keys — the initial state for the
    * matching entry point on a FRESH checkpoint. Pair the reader with the
    * resume side:
    *  - [[StateMigration.readPrevImageState]] → `withPrevState(..., initial)`;
    *  - [[StateMigration.readPrevImageStateTws]] → `withPrevStateTws(...,
    *    initial)` (the in-place path is usually better there — this is the
    *    fresh-checkpoint migration-plus-erasure combination);
    *  - [[StateMigration.readPrevImageStateByRowKey]] →
    *    `withPrevStateByRowKey(..., initial)`, the erased entity named by
    *    its ROW KEY values (e.g. the natural-key strings of the user's rows
    *    across captured tables).
    */
  def erasePrevImageState[K](st: Dataset[(K, String)], erased: Set[K]): Dataset[(K, String)] =
    st.filter(r => !erased.contains(r._1))

  /** Text-dedup bucket store minus buckets whose EXEMPLAR is an erased
    * document: the stored doc_id is the erased user's fingerprintable
    * artifact, so the bucket entry goes; the band's next document simply
    * re-claims the bucket (it would have been the exemplar had the erased
    * doc never existed from that point on). Resume side:
    * [[DedupStream.candidates]] with `initial`.
    */
  def eraseDedupBucketState(st: Dataset[(String, Long)],
                            erasedDocs: Set[Long]): Dataset[(String, Long)] =
    st.filter(r => !erasedDocs.contains(r._2))

  /** Media-dedup store minus an erased document's fingerprints: exemplars
    * are filtered INSIDE each bucket (a bucket holds many documents'
    * fingerprints; only the erased ones go), empty buckets drop out.
    * Resume side: [[DedupStream.fpVerifiedPairs]] with `initial`.
    */
  def eraseMediaDedupState(st: Dataset[(String, DedupStream.FpBucketState)],
                           erasedDocs: Set[Long])
      : Dataset[(String, DedupStream.FpBucketState)] = {
    import st.sparkSession.implicits._
    st.map { case (k, b) =>
      (k, DedupStream.FpBucketState(b.exemplars.filterNot(e => erasedDocs.contains(e.doc_id))))
    }.filter(_._2.exemplars.nonEmpty)
  }

  /** Semantic-dedup store minus an erased document's embedding exemplars.
    * Resume side: [[SemDedupStream.judged]] with `initial`.
    */
  def eraseSemDedupState(st: Dataset[(Long, SemDedupStream.ClusterState)],
                         erasedVecs: Set[Long])
      : Dataset[(Long, SemDedupStream.ClusterState)] = {
    import st.sparkSession.implicits._
    st.map { case (k, c) =>
      (k, SemDedupStream.ClusterState(c.ex.filterNot(e => erasedVecs.contains(e.vec_id))))
    }.filter(_._2.ex.nonEmpty)
  }
}
