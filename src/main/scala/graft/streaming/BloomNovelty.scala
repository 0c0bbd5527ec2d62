package graft.streaming

import graft.functions.{Bloom, BloomKernel}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupState

/** ONLINE novelty classification with CONSTANT state — the streaming face
  * of [[graft.ops.BloomMembership.bloomNovel]]'s routing contract, and the
  * cheap gate in front of the exact online dedup family: every arriving
  * document is tagged `definitely_new` (its content hash was NOT seen
  * before — exact, the Bloom no-false-negatives contract) or `maybe_seen`
  * (seen, or the ~fpp false-positive sliver — route THESE, and only these,
  * into [[DedupStream]]'s exact per-key state). The exact dedup stores
  * grow with distinct keys; this gate's state never grows at all.
  *
  * Sharding IS the partitioning: the 64-bit content hash's top `shardBits`
  * pick the shard, each shard holds an independent fixed-size Bloom over
  * exactly its own keys, and the groupByKey on the shard id is the
  * operator's only shuffle. A single global filter would serialize every
  * document through one task and rewrite one giant state row per batch;
  * 2^shardBits shards spread both, and the per-shard filter stays a few
  * hundred KB whatever the history. 256 shards × 1 MiB ≈ 256 MiB of state
  * for ~10⁹ distinct keys at ~1% fpp — the "gate a 100 TB crawl with
  * constant memory" posture ([[Bloom.forExpected]] sizes per shard for
  * expectedKeys / 2^shardBits).
  *
  * GENERATIONAL ROTATION ([[Rotation]]): a fixed filter is correct for a
  * SIZED key universe, but an unbounded stream eventually pushes a shard
  * past its sized n and the realized fpp silently climbs above the ask.
  * With rotation, each shard counts its actual (new-to-active) inserts;
  * when the active filter reaches `maxInserts` it retires — the shard
  * keeps the last `retired` generations and probes the OR of all of them,
  * so there are NO false negatives within the retention window of
  * `retired × maxInserts` distinct-insert events, and every generation is
  * sized for `fpp / (retired + 1)` ([[Bloom.forRotation]]) so the union-
  * bound realized fpp stays ≤ the asked fpp no matter how long the stream
  * runs. A key resident only in a retired generation that arrives again
  * re-inserts into the active filter (still tagged maybe_seen), refreshing
  * its retention — hot keys are never forgotten; a key untouched for the
  * whole window ages out and will tag definitely_new once more (the
  * explicit contract of a bounded-memory gate over unbounded flow — route
  * it to the exact store again, which is idempotent). State stays constant:
  * at most `retired + 1` fixed bit arrays per shard, forever.
  *
  * Determinism: within a micro-batch each shard classifies in (doc_id, h)
  * order, classify-THEN-insert, so for a stream delivered in nondecreasing
  * doc_id order (the engine-wide monotone-id contract) the output is
  * INVARIANT under micro-batch split points and equal to the one-pass
  * batch fold ([[batchTagged]]) — `BloomNoveltySpec` pins both, with and
  * without rotation. Duplicate content in one batch tags the second copy
  * `maybe_seen`, exactly as if the copies had arrived in different batches.
  * The stream and the batch twin run the SAME [[foldShard]] — the
  * classify-then-insert-then-rotate recurrence exists exactly once.
  *
  * Erasure posture, by construction: state holds ONLY irreversible 64-bit
  * content hashes — no payload, no user ids, nothing attributable — so the
  * per-entity erasure recipes have nothing to reach here (a Bloom cannot
  * delete; full reset = drop the checkpoint and re-warm from the exact
  * stores, which ARE erasable). [[EraseEverywhere.BloomGate]] carries that
  * posture into the erasure preview as an explicit row rather than an
  * omission.
  */
object BloomNovelty {

  case class Keyed(shard: Int, h: Long, doc_id: Long)
  case class Tagged(doc_id: Long, h: Long, definitely_new: Boolean)

  /** Generational-rotation config. `maxInserts` = distinct-insert capacity
    * of the active filter (its sized n); `retired` = generations kept
    * probing after retirement. [[none]] never rotates — the fixed-filter
    * contract for a sized key universe, bit-for-bit the pre-rotation
    * behavior.
    */
  final case class Rotation(maxInserts: Long, retired: Int) {
    require(maxInserts >= 1, s"maxInserts must be >= 1, got $maxInserts")
    require(retired >= 1, s"retired generations must be >= 1, got $retired")
  }
  object Rotation {
    val none: Rotation = Rotation(Long.MaxValue, 1)
  }

  /** Per-shard gate state: the active filter with its insert count, plus
    * the retired generations (newest first). At most `retired + 1` fixed
    * arrays — constant whatever flows through.
    */
  case class GateState(inserted: Long, active: Array[Long],
                       retired: Seq[Array[Long]])

  /** (shard, content-hash, doc_id) rows — one per document, all in-row
    * (no shuffle until the shard groupByKey).
    */
  def keyed(docs: DataFrame, shardBits: Int = 8): Dataset[Keyed] = {
    // lower bound 1: a 0-bit shard would shift by 64, which Java's >>> masks
    // to a shift of 0 — garbage shards, not one shard. One shard = bits 1
    // with both shards landing on the same filter size anyway.
    require(shardBits >= 1 && shardBits <= 16, s"shardBits in [1,16], got $shardBits")
    import docs.sparkSession.implicits._
    docs.select(
      expr(s"cast(shiftrightunsigned(xxhash64(text), ${64 - shardBits}) as int)")
        .as("shard"),
      xxhash64(col("text")).as("h"),
      col("doc_id")).as[Keyed]
  }

  /** THE recurrence — shared verbatim by the stateful handler and the
    * batch twin, so the two paths cannot drift: sort (doc_id, h), classify
    * against the OR of all retained generations, insert new-to-active keys
    * into the active filter, rotate when the active filter reaches its
    * sized capacity.
    */
  private[graft] def foldShard(st: GateState, rows: Seq[Keyed],
                               p: Bloom.Params,
                               rot: Rotation): (GateState, Seq[Tagged]) = {
    var inserted = st.inserted
    var active = st.active
    var retired = st.retired
    val out = rows.sortBy(r => (r.doc_id, r.h)).map { r =>
      val inActive = BloomKernel.mightContain(active, p.numHashes, r.h)
      val fresh = !inActive &&
        !retired.exists(g => BloomKernel.mightContain(g, p.numHashes, r.h))
      if (!inActive) {
        // new to the ACTIVE generation (fresh, or resident only in a
        // retired one) — insert to refresh retention, and count it: the
        // count tracks actual bit-setting inserts, the quantity the
        // filter was sized for
        BloomKernel.insert(active, p.numHashes, r.h)
        inserted += 1L
        if (inserted >= rot.maxInserts) {
          retired = (active +: retired).take(rot.retired)
          active = new Array[Long](p.numBits >>> 6)
          inserted = 0L
        }
      }
      Tagged(r.doc_id, r.h, fresh)
    }
    (GateState(inserted, active, retired), out)
  }

  private def freshState(p: Bloom.Params): GateState =
    GateState(0L, new Array[Long](p.numBits >>> 6), Nil)

  /** The stateful gate: per shard, classify-then-insert against the
    * shard's Bloom generations. `p` sizes ONE shard's filter (expected
    * keys per shard, not total — with rotation, [[Bloom.forRotation]]'s
    * per-generation params). `initial` seeds MIGRATED gate state — the
    * StateMigration discipline applied to the gate: relocating (or
    * upgrading) the novelty store keeps its filters, so previously-seen
    * content still tags maybe_seen after the move. The r14→r15 layout
    * change (bare bit array → [[GateState]]) migrates through
    * [[StateMigration.migrateNoveltyState]].
    */
  def tagged(keyed: Dataset[Keyed], p: Bloom.Params,
             rot: Rotation = Rotation.none,
             initial: Option[Dataset[(Int, GateState)]] = None): Dataset[Tagged] = {
    import keyed.sparkSession.implicits._
    KeyedState.classic(keyed.groupByKey(_.shard), None, initial)(
      (_: Int, rows: Iterator[Keyed], state: GroupState[GateState]) =>
        onShard(rows, state, p, rot))
  }

  private[graft] def onShard(rows: Iterator[Keyed],
                             state: GroupState[GateState],
                             p: Bloom.Params,
                             rot: Rotation = Rotation.none): Iterator[Tagged] = {
    val st = if (state.exists) state.get else freshState(p)
    val (next, out) = foldShard(st, rows.toSeq, p, rot)
    state.update(next)
    out.iterator
  }

  /** Swamidass–Baldi cardinality estimate for a Bloom filter: from X set
    * bits of m with k hashes, n ≈ −(m/k)·ln(1 − X/m). A Bloom cannot
    * enumerate its keys, so a shard migrated mid-life seeds its rotation
    * insert counter from occupancy — the boundary lands where the filter's
    * actual fill says it should, not at zero (which would let a migrated
    * near-full shard absorb a full extra capacity before rotating,
    * overshooting its sized fpp).
    */
  def estimateInserted(bits: Array[Long], numHashes: Int): Long = {
    val m = bits.length.toLong << 6
    if (m == 0L) return 0L
    var x = 0L; var i = 0
    while (i < bits.length) { x += java.lang.Long.bitCount(bits(i)); i += 1 }
    if (x >= m) return m // fully saturated: estimate unbounded; clamp to m
    math.round(-(m.toDouble / numHashes) * math.log1p(-x.toDouble / m))
  }

  /** The one-pass batch twin the spec pins the stream against: the same
    * per-shard fold ([[foldShard]]) in (doc_id, h) order, driver-side
    * (spec scale only).
    */
  private[graft] def batchTagged(keyedRows: Seq[Keyed], p: Bloom.Params,
                                 rot: Rotation = Rotation.none): Seq[Tagged] = {
    val byShard = scala.collection.mutable.Map.empty[Int, GateState]
    keyedRows.sortBy(r => (r.doc_id, r.h)).map { r =>
      val st = byShard.getOrElseUpdate(r.shard, freshState(p))
      val (next, out) = foldShard(st, Seq(r), p, rot)
      byShard(r.shard) = next
      out.head
    }
  }
}
