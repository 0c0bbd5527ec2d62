package graft.streaming

import scala.language.implicitConversions
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** ONE-CALL entity erasure across EVERY durable copy — the orchestration
  * layer over the per-store pieces that existed separately through r11:
  * archive tombstones ([[graft.sources.Layout.eraseEntities]]), the
  * erasure-set publication ([[StateErasure.erasureSet]]), sentinel
  * injection through the live feed ([[StateErasure.eraseSentinels]]), the
  * in-place transformWithState removal
  * ([[CdcStream.PrevImageProcessor]]), the offline rewrites for the
  * classic/generic layouts, and the fingerprint-store filters. A production
  * user had to sequence five calls across the archive and N checkpoints to
  * erase one user everywhere — and nothing verified they did it completely.
  * (The reference never had this problem because it never had durable
  * state, `server.go` holds nothing across restarts; an engine that sells
  * durable state has to ship the complete compliance composition.)
  *
  * [[run]] drives the full sequence:
  *
  *  1. BEFORE census — each target read through its own state reader (the
  *     archive through a parquet scan), counting the requested entities'
  *     artifacts. This is the evidence row "we had N copies".
  *  1. Archive erasure — [[graft.sources.Layout.eraseEntities]]: affected
  *     (day, op) partitions rewritten, null keys survive, tombstones
  *     recorded with a pre-rewrite cutoff (replay resurrection blocked).
  *  1. Erasure-set publication — the tombstones read back as
  *     (user → cutoff); a requested user the archive never held gets a
  *     synthesized cutoff of max(archive top id, every REACHABLE live
  *     feed's top id) — the live floor matters because the live table
  *     runs ahead of the archive, and a cutoff below live ids would let
  *     a restart replay of not-yet-archived rows rebuild the erased
  *     state. Only in-place stores ([[TwsInPlace]]/[[TwsInPlaceByTable]])
  *     name their feed, so they are probed automatically; a deployment
  *     using only offline stores MUST pass its captured feeds via the
  *     `liveFeeds` parameter or its floor is just the archive max.
  *  1. Per-store recipe dispatch — each [[Store]] applies ITS deployment's
  *     recipe (see the subtypes); in-place stores get sentinels inserted
  *     through the REAL feed first so never-recurring keys are reached.
  *  1. AFTER census + completeness report — every target re-read; the
  *     returned frame is one row per store: (store, found_before,
  *     found_after). `found_after` must be all-zero; a non-zero row names
  *     exactly which copy survived.
  *
  * Restart idempotence is keyed on a RECEIPT LEDGER
  * (`<archive>/_erasure_receipts`, one (store, user) row per VERIFIED
  * store erasure), NOT on the before-census: `found()` only proves the
  * LATEST committed state version lacks the keys — older delta/snapshot
  * files in an offline store's checkpoint can still hold the payload
  * bytes (e.g. the key was cleared organically by business logic or TTL
  * before the request landed), so a first call runs every store's recipe
  * even when its before-census reads zero. A receipt is recorded only
  * after that store's after-census verifies zero; a re-call for receipted
  * users is then STRUCTURALLY a no-op — no sentinel insert, no offline
  * rewrite, no checkpoint churn — and the report reads (0, 0) per store.
  *
  * 100 TB posture: inherited from the pieces — the erasure set is bounded
  * by compliance requests (broadcast, not a join); the archive rewrite
  * touches affected partitions only; in-place state removal is bounded by
  * the erasure batch independent of store size (`EraseScaleBench`); the
  * offline rewrites are distributed frames end to end. The census scans
  * are one filtered read per store — the archive scan prunes on row-group
  * `user_id` stats, the state reads are one task per state partition.
  * The all-time receipt ledger is consumed as a distributed semi-join
  * against the broadcast request set ([[receiptedOf]]) — never collected
  * whole, so a lifetime of requests cannot grow a driver-side set.
  *
  * FILESYSTEM CONTRACT: the receipt ledger and the open markers are made
  * crash-safe by ATOMIC DIRECTORY RENAME (retire/swap/recover) — true on
  * HDFS and POSIX, NOT on object stores, where a crash mid-"rename"
  * (copy+delete) can leave both or neither copy and silently lose
  * compliance evidence. Every entry point refuses object-store schemes
  * ([[NonRenameAtomicSchemes]]); deployments archiving to an object store
  * must place `ledgerPath` (multi-archive form) or the archive itself on
  * a rename-atomic filesystem.
  */
object EraseEverywhere {

  /** One durable store in the deployment, with the recipe the orchestrator
    * uses to erase it and the reader it uses to verify it. `erase` returns
    * the store to VERIFY — offline-rewrite stores move to the fresh
    * checkpoint their resumed query committed.
    */
  sealed trait Store {
    def name: String
    /** PER-USER artifact counts over the requested entities (absent user =
      * zero found). Receipts are attributed per user off this map: one
      * user whose erasure failed — or whose state was legitimately rebuilt
      * by concurrent traffic before the census — must not block receipts
      * for the users that individually verified zero (blocking them would
      * re-run their recipe on retry: duplicate sentinel rows in the live
      * table, repeat full offline rewrites).
      */
    private[graft] def foundBy(spark: SparkSession,
                               erased: Map[Long, Long]): Map[Long, Long]
    private[graft] final def found(spark: SparkSession,
                                   erased: Map[Long, Long]): Long =
      foundBy(spark, erased).values.sum
    /** Applies this store's recipe; `ledger` is where offline moves are
      * journaled before an old checkpoint is deleted (see
      * [[forwardedDir]]). Returns the store to VERIFY — offline-rewrite
      * stores move to the fresh checkpoint their resumed query committed.
      */
    private[graft] def erase(spark: SparkSession, erased: Map[Long, Long],
                             ledger: String): Store
    /** What the erasure PREVIEW should say about this store's attribution
      * posture: "attributable" for stores whose recipes reach per-entity
      * artifacts. Stores whose state is irreversible by construction
      * ([[BloomGate]]) override with an explicit note, so a compliance
      * review sees the posture STATED per store instead of wondering why
      * a configured store is absent from the census.
      */
    private[graft] def posture: String = "attributable"
    /** The checkpoint this store's config names, when the recipe can MOVE
      * it (offline rewrites) — the forwarding key. In-place stores: None.
      */
    private[graft] def chk: Option[String] = None
    /** This store re-addressed at a forwarded checkpoint dir. */
    private[graft] def at(dir: String): Store = this
    /** The deployment naming mappings this store carries, so the
      * orchestrator can scope their per-request memoization to ONE run
      * ([[Naming.beginRun]]): store configs are long-lived values (erase
      * returns `this`), and a memo surviving across runs would let a
      * time-varying deployment mapping serve a STALE attribution to a
      * later request for the same users — under-erasing the artifacts the
      * mapping has since grown.
      */
    private[graft] def namings: Seq[Naming[_]] = Nil
  }

  /** transformWithState prev-image state, erased IN PLACE on its existing
    * checkpoint (the scale-safe recipe — `EraseScaleBench` measured the
    * offline rewrite growing with store size while in-place stays flat).
    * The orchestrator inserts sentinel command rows into the captured
    * JDBC table itself (ids above the live max, so the source delivers
    * them — reaching keys that never recur), then runs `resumeErasing`:
    * the deployment's "bounce the query under
    * `CdcStream.withPrevStateTws(ds, erased)` with this erasure set" action
    * (in production a config flip + restart; the handler drops sentinels
    * unconditionally and stamps `erasedAt` receipts, so the bounce is
    * idempotent).
    *
    * Scope caveat, stated loudly: in-place clearing rewrites the LATEST
    * state version — RocksDB snapshot/changelog files from earlier
    * committed versions keep the payload bytes on disk until checkpoint
    * maintenance purges them (`spark.sql.streaming.minBatchesToRetain`
    * versions back). When the request's scope includes historical
    * checkpoint files, use [[TwsOffline]] — the fresh-checkpoint rewrite
    * that decommissions every old file — at the full-store reshuffle cost
    * `EraseScaleBench` measured.
    */
  final case class TwsInPlace(name: String, checkpointDir: String,
                              jdbcUrl: String, table: String,
                              resumeErasing: Map[Long, Long] => Unit)
      extends Store {
    private[graft] def foundBy(spark: SparkSession,
                               erased: Map[Long, Long]): Map[Long, Long] =
      countByUser(StateMigration.readPrevImageStateTws(spark, checkpointDir)
        .filter(kv => erased.contains(kv._1))
        .map(_._1)(org.apache.spark.sql.Encoders.scalaLong))
    private[graft] def erase(spark: SparkSession, erased: Map[Long, Long],
                             ledger: String): Store = {
      insertSentinels(jdbcUrl, table, erased)
      resumeErasing(erased)
      this
    }
  }

  /** BY-TABLE transformWithState prev-image state — the multi-table
    * daemon's (table, user) key ([[CdcStream.withPrevStateByTableTws]]
    * over a [[CdcCatalog.readAll]] union): erased IN PLACE like
    * [[TwsInPlace]], but the entity must be reached in EVERY captured
    * table it is known in, so sentinels are inserted into EACH listed
    * table (each insert allocates ids above THAT table's own live max —
    * per-table id spaces are independent) and the bounce runs
    * `withPrevStateByTableTws(ds, k => erased.get(k._2))`. The erasure set's
    * cutoffs are applied in every table's id space, so they must be
    * globally valid — deployments whose tables share the archive's id
    * space get that from the tombstones; otherwise the archive-absent
    * fallback (max over the archive AND every listed table's live max)
    * is the safe cutoff. Same latest-version scope caveat as
    * [[TwsInPlace]].
    */
  final case class TwsInPlaceByTable(name: String, checkpointDir: String,
                                     jdbcUrl: String, tables: Seq[String],
                                     resumeErasing: Map[Long, Long] => Unit)
      extends Store {
    private[graft] def foundBy(spark: SparkSession,
                               erased: Map[Long, Long]): Map[Long, Long] =
      countByUser(StateMigration.readPrevImageStateByTableTws(spark, checkpointDir)
        .filter(kv => erased.contains(kv._1._2))
        .map(_._1._2)(org.apache.spark.sql.Encoders.scalaLong))
    private[graft] def erase(spark: SparkSession, erased: Map[Long, Long],
                             ledger: String): Store = {
      tables.foreach(t => insertSentinels(jdbcUrl, t, erased))
      resumeErasing(erased)
      this
    }
  }

  /** transformWithState prev-image state erased by OFFLINE REWRITE onto a
    * fresh checkpoint — the deep-clean twin of [[TwsInPlace]] for requests
    * where HISTORICAL checkpoint files are in scope: in-place clearing
    * rewrites the latest state version, but RocksDB snapshot/changelog
    * files from earlier committed versions keep the payload bytes until
    * checkpoint maintenance purges them (bounded by
    * `spark.sql.streaming.minBatchesToRetain`, but present on disk until
    * then). The rewrite reads the state, anti-joins the erased keys, hands
    * the filtered frame to `resumeFrom` (the deployment's
    * "`CdcStream.withPrevStateTws(ds, initial = ...)` on a FRESH checkpoint" action),
    * then decommissions the old directory whole — no version of any file
    * survives. Costs the full-store reshuffle `EraseScaleBench` measured
    * (grows with key count, vs in-place staying flat) — use [[TwsInPlace]]
    * unless historical-file bytes are in the request's scope.
    */
  final case class TwsOffline(name: String, checkpointDir: String,
                              resumeFrom: Dataset[(Long, String)] => String)
      extends Store {
    private[graft] def foundBy(spark: SparkSession,
                               erased: Map[Long, Long]): Map[Long, Long] =
      countByUser(StateMigration.readPrevImageStateTws(spark, checkpointDir)
        .filter(kv => erased.contains(kv._1))
        .map(_._1)(org.apache.spark.sql.Encoders.scalaLong))
    private[graft] def erase(spark: SparkSession, erased: Map[Long, Long],
                             ledger: String): Store = {
      val filtered = StateErasure.erasePrevImageState(
        StateMigration.readPrevImageStateTws(spark, checkpointDir), erased.keySet)
      val fresh = resumeFrom(filtered)
      decommission(spark, checkpointDir, fresh, ledger, name)
      copy(checkpointDir = fresh)
    }
    override private[graft] def chk: Option[String] = Some(checkpointDir)
    override private[graft] def at(dir: String): Store = copy(checkpointDir = dir)
  }

  /** Classic flatMapGroupsWithState prev-image state: the offline-rewrite
    * recipe (the `GroupState[String]` layout has no room for an erasure
    * receipt). The orchestrator reads the checkpoint's state, anti-joins
    * the erased keys, hands the filtered frame to `resumeFrom` — the
    * deployment's "start the query on a FRESH checkpoint via
    * `CdcStream.withPrevState(ds, initial = ...)`" action, returning the new
    * checkpoint dir once the first batch commits — then DECOMMISSIONS the
    * old checkpoint directory (its files still hold the payload bytes;
    * leaving them is the compliance hole the one-call form exists to
    * close). Verification reads the new checkpoint.
    */
  final case class ClassicOffline(name: String, checkpointDir: String,
                                  resumeFrom: Dataset[(Long, String)] => String)
      extends Store {
    private[graft] def foundBy(spark: SparkSession,
                               erased: Map[Long, Long]): Map[Long, Long] =
      countByUser(StateMigration.readPrevImageState(spark, checkpointDir)
        .filter(kv => erased.contains(kv._1))
        .map(_._1)(org.apache.spark.sql.Encoders.scalaLong))
    private[graft] def erase(spark: SparkSession, erased: Map[Long, Long],
                             ledger: String): Store = {
      val filtered = StateErasure.erasePrevImageState(
        StateMigration.readPrevImageState(spark, checkpointDir), erased.keySet)
      val fresh = resumeFrom(filtered)
      decommission(spark, checkpointDir, fresh, ledger, name)
      copy(checkpointDir = fresh)
    }
    override private[graft] def chk: Option[String] = Some(checkpointDir)
    override private[graft] def at(dir: String): Store = copy(checkpointDir = dir)
  }

  /** Generic row-key prev-image state ([[CdcStream.withPrevStateByRowKey]]):
    * same offline-rewrite recipe as [[ClassicOffline]], but the erased
    * entity is named by its ROW KEYS in the dynamic payload — `rowKeysOf`
    * is the deployment's user→natural-keys mapping (e.g. the key strings
    * of the user's rows across captured tables).
    */
  final case class GenericOffline(name: String, checkpointDir: String,
                                  rowKeysOf: Naming[String],
                                  resumeFrom: Dataset[(String, String)] => String)
      extends Store {
    override private[graft] def namings: Seq[Naming[_]] = Seq(rowKeysOf)
    private[graft] def foundBy(spark: SparkSession,
                               erased: Map[Long, Long]): Map[Long, Long] = {
      val keyToUser = rowKeysOf.attribution(erased.keySet)
      countByUser(StateMigration.readPrevImageStateByRowKey(spark, checkpointDir)
        .filter(kv => keyToUser.contains(kv._1))
        .map(kv => keyToUser(kv._1))(org.apache.spark.sql.Encoders.scalaLong))
    }
    private[graft] def erase(spark: SparkSession, erased: Map[Long, Long],
                             ledger: String): Store = {
      val filtered = StateErasure.erasePrevImageState(
        StateMigration.readPrevImageStateByRowKey(spark, checkpointDir),
        rowKeysOf.artifacts(erased.keySet))
      val fresh = resumeFrom(filtered)
      decommission(spark, checkpointDir, fresh, ledger, name)
      copy(checkpointDir = fresh)
    }
    override private[graft] def chk: Option[String] = Some(checkpointDir)
    override private[graft] def at(dir: String): Store = copy(checkpointDir = dir)
  }

  /** Text-dedup band-bucket store ([[DedupStream.candidates]]): exemplar
    * entries whose doc belongs to the erased entity are filtered out
    * offline, the stream resumes through `resumeFrom`
    * ([[DedupStream.candidates]] with `initial` on a fresh checkpoint), and
    * the old checkpoint is decommissioned. `docsOf` maps the erasure set to the
    * entity's doc ids (identity by default — deployments where doc_id is
    * the user key).
    */
  final case class DedupBuckets(name: String, checkpointDir: String,
                                resumeFrom: Dataset[(String, Long)] => String,
                                docsOf: Naming[Long] = Naming.perUser(identity))
      extends Store {
    override private[graft] def namings: Seq[Naming[_]] = Seq(docsOf)
    private[graft] def foundBy(spark: SparkSession,
                               erased: Map[Long, Long]): Map[Long, Long] = {
      val docToUser = docsOf.attribution(erased.keySet)
      countByUser(StateMigration.readDedupBucketState(spark, checkpointDir)
        .filter(kv => docToUser.contains(kv._2))
        .map(kv => docToUser(kv._2))(org.apache.spark.sql.Encoders.scalaLong))
    }
    private[graft] def erase(spark: SparkSession, erased: Map[Long, Long],
                             ledger: String): Store = {
      val filtered = StateErasure.eraseDedupBucketState(
        StateMigration.readDedupBucketState(spark, checkpointDir), docsOf.artifacts(erased.keySet))
      val fresh = resumeFrom(filtered)
      decommission(spark, checkpointDir, fresh, ledger, name)
      copy(checkpointDir = fresh)
    }
    override private[graft] def chk: Option[String] = Some(checkpointDir)
    override private[graft] def at(dir: String): Store = copy(checkpointDir = dir)
  }

  /** Media-dedup fingerprint store ([[DedupStream.fpVerifiedPairs]]):
    * erased docs' fingerprints filtered INSIDE each bucket, emptied
    * buckets dropped; resume via [[DedupStream.fpVerifiedPairs]] with
    * `initial`.
    */
  final case class MediaDedup(name: String, checkpointDir: String,
                              resumeFrom: Dataset[(String, DedupStream.FpBucketState)] => String,
                              docsOf: Naming[Long] = Naming.perUser(identity))
      extends Store {
    override private[graft] def namings: Seq[Naming[_]] = Seq(docsOf)
    private[graft] def foundBy(spark: SparkSession,
                               erased: Map[Long, Long]): Map[Long, Long] = {
      val docToUser = docsOf.attribution(erased.keySet)
      countByUser(StateMigration.readMediaDedupState(spark, checkpointDir)
        .flatMap(_._2.exemplars.map(_.doc_id))(org.apache.spark.sql.Encoders.scalaLong)
        .filter(d => docToUser.contains(d))
        .map(docToUser)(org.apache.spark.sql.Encoders.scalaLong))
    }
    private[graft] def erase(spark: SparkSession, erased: Map[Long, Long],
                             ledger: String): Store = {
      val filtered = StateErasure.eraseMediaDedupState(
        StateMigration.readMediaDedupState(spark, checkpointDir), docsOf.artifacts(erased.keySet))
      val fresh = resumeFrom(filtered)
      decommission(spark, checkpointDir, fresh, ledger, name)
      copy(checkpointDir = fresh)
    }
    override private[graft] def chk: Option[String] = Some(checkpointDir)
    override private[graft] def at(dir: String): Store = copy(checkpointDir = dir)
  }

  /** Semantic-dedup cluster-exemplar store ([[SemDedupStream.judged]]):
    * erased vectors' exemplars filtered per cluster; resume via
    * [[SemDedupStream.judged]] with `initial`. `vecsOf` maps the erasure
    * set to the entity's vector ids.
    */
  final case class SemDedup(name: String, checkpointDir: String,
                            resumeFrom: Dataset[(Long, SemDedupStream.ClusterState)] => String,
                            vecsOf: Naming[Long] = Naming.perUser(identity))
      extends Store {
    override private[graft] def namings: Seq[Naming[_]] = Seq(vecsOf)
    private[graft] def foundBy(spark: SparkSession,
                               erased: Map[Long, Long]): Map[Long, Long] = {
      val vecToUser = vecsOf.attribution(erased.keySet)
      countByUser(StateMigration.readSemDedupState(spark, checkpointDir)
        .flatMap(_._2.ex.map(_.vec_id))(org.apache.spark.sql.Encoders.scalaLong)
        .filter(v => vecToUser.contains(v))
        .map(vecToUser)(org.apache.spark.sql.Encoders.scalaLong))
    }
    private[graft] def erase(spark: SparkSession, erased: Map[Long, Long],
                             ledger: String): Store = {
      val filtered = StateErasure.eraseSemDedupState(
        StateMigration.readSemDedupState(spark, checkpointDir), vecsOf.artifacts(erased.keySet))
      val fresh = resumeFrom(filtered)
      decommission(spark, checkpointDir, fresh, ledger, name)
      copy(checkpointDir = fresh)
    }
    override private[graft] def chk: Option[String] = Some(checkpointDir)
    override private[graft] def at(dir: String): Store = copy(checkpointDir = dir)
  }

  /** The persisted PQ codes artifact ([[graft.ops.Similarity.ensurePqCodes]])
    * as a first-class erasure target: the codes table holds CONTENT-DERIVED
    * rows keyed by vec_id (a lossy sketch of each vector), so a request
    * that erases a user's vectors from the corpus must reach their codes
    * rows too. `vecsOf` maps each requesting user to their vector ids (the
    * [[SemDedup]] attribution shape); the recipe is the partition-scoped
    * rewrite of [[graft.ops.Similarity.erasePqCodes]] — affected IVF lists
    * only, emptied lists dropped, untouched lists byte-identical.
    */
  final case class PqCodes(name: String, sfDir: String,
                           vecsOf: Naming[Long] = Naming.perUser(identity))
      extends Store {
    override private[graft] def namings: Seq[Naming[_]] = Seq(vecsOf)
    private[graft] def foundBy(spark: SparkSession,
                               erased: Map[Long, Long]): Map[Long, Long] = {
      val vecToUser = vecsOf.attribution(erased.keySet)
      if (vecToUser.isEmpty) return Map.empty
      // census EVERY standing codes artifact (sampled + trained layouts) —
      // the same set the erase recipe rewrites, so found == erased even
      // when a deployment keeps both copies. NON-MUTATING readers: the
      // census counts the bytes as they lie (registered tables through the
      // catalog, post-restart orphan files read directly) — preview is
      // documented "nothing written", so it must never trigger an ensure's
      // build or drop-stale-and-rebuild; healing stays inside erase.
      graft.ops.Similarity.codesReadersStanding(spark, sfDir)
        .map { tbl =>
          countByUser(tbl
            .filter(col("vec_id").isin(vecToUser.keys.toSeq: _*))
            .select(col("vec_id"))
            .as(org.apache.spark.sql.Encoders.scalaLong)
            .map(vecToUser)(org.apache.spark.sql.Encoders.scalaLong))
        }
        .foldLeft(Map.empty[Long, Long]) { (acc, m) =>
          (acc.keySet ++ m.keySet).map(u =>
            u -> (acc.getOrElse(u, 0L) + m.getOrElse(u, 0L))).toMap
        }
    }
    private[graft] def erase(spark: SparkSession, erased: Map[Long, Long],
                             ledger: String): Store = {
      graft.ops.Similarity.erasePqCodes(spark, sfDir, vecsOf.artifacts(erased.keySet))
      this
    }
  }

  /** The Bloom novelty gate ([[BloomNovelty]]) as a PREVIEW-VISIBLE store:
    * its state holds ONLY irreversible 64-bit content hashes — no payload,
    * no user ids, nothing attributable — so per-entity erasure has nothing
    * to reach BY CONSTRUCTION (a Bloom cannot delete a key; full reset =
    * drop the checkpoint and re-warm from the exact stores, which ARE
    * erasable). `foundBy` is identically zero and `erase` is a no-op; the
    * point of configuring the gate here is the preview ROW — the posture
    * is stated per store rather than the gate silently missing from the
    * deployment's erasure census.
    */
  final case class BloomGate(name: String, checkpointDir: String)
      extends Store {
    private[graft] def foundBy(spark: SparkSession,
                               erased: Map[Long, Long]): Map[Long, Long] =
      Map.empty
    private[graft] def erase(spark: SparkSession, erased: Map[Long, Long],
                             ledger: String): Store = this
    override private[graft] def posture: String =
      "no attributable state by construction (irreversible content hashes " +
        "only; reset = drop checkpoint and re-warm from the exact stores)"
  }

  /** Distributed per-user counts of an entity-id dataset — the census
    * attribution every store's foundBy shares. The aggregate is keyed by
    * the requested users, so the collected result is bounded by the
    * request set, never by store size.
    */
  private def countByUser(ds: Dataset[Long]): Map[Long, Long] =
    ds.groupBy(col("value")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Deployment mapping from requesting users to the artifact ids they
    * named (row keys, doc ids, vector ids). Two shapes, one contract:
    *
    *  - [[Naming.perUser]] — the original `Set[Long] => Set[A]` callback,
    *    invoked once per requesting user so each artifact attributes to
    *    the user that named it. Fine when the mapping is a driver-side
    *    map; any plain function still converts implicitly, so existing
    *    store constructions are untouched.
    *  - [[Naming.bulk]] — ONE call with the whole request set returning
    *    the artifact → user attribution directly. For mappings that pay
    *    I/O per invocation (a JDBC lookup, a KV fetch): one round-trip
    *    bounded by the request, not |users| of them. A bulk mapping that
    *    attributes an artifact to a user OUTSIDE the request set is a
    *    deployment bug and fails loudly — receipts must never name users
    *    who didn't ask.
    *
    * Per-user artifact sets are expected disjoint; under [[Naming.perUser]]
    * an artifact named by several users attributes to the lowest user id
    * (deterministic), and each matching state row still counts exactly
    * once — the per-user totals sum to the old union-filter census.
    */
  sealed trait Naming[A] {
    /** artifact → requesting user, bounded by the request set */
    private[graft] def attribution(users: Set[Long]): Map[A, Long]
    /** the artifacts to erase: the union over the request set */
    private[graft] def artifacts(users: Set[Long]): Set[A]
    /** Run boundary: any per-request memoization is dropped, so a LATER
      * run for the same users re-consults the deployment mapping (which
      * may have grown since) instead of serving a stale attribution.
      * Within one run the memo stands — census and erase see ONE answer.
      */
    private[graft] def beginRun(): Unit = ()
  }
  object Naming {
    def perUser[A](of: Set[Long] => Set[A]): Naming[A] = PerUser(of)
    def bulk[A](of: Set[Long] => Map[A, Long]): Naming[A] = Bulk(of)
    /** Converts plain function VALUES (typed lambdas, `identity`, eta-
      * expanded `method _`) so pre-bulk call sites keep compiling. An
      * UNTYPED lambda (`docsOf = us => …`) cannot infer its parameter
      * type against the non-function expected type `Naming[A]` — type the
      * parameter or wrap in [[Naming.perUser]] there.
      */
    implicit def fromFunction[A](of: Set[Long] => Set[A]): Naming[A] = PerUser(of)

    private final case class PerUser[A](of: Set[Long] => Set[A]) extends Naming[A] {
      private[graft] def attribution(users: Set[Long]): Map[A, Long] =
        users.toSeq.sorted.flatMap(u => of(Set(u)).toSeq.map(_ -> u))
          .groupBy(_._1).map { case (a, vs) => a -> vs.map(_._2).min }
      private[graft] def artifacts(users: Set[Long]): Set[A] = of(users)
    }
    private final case class Bulk[A](of: Set[Long] => Map[A, Long]) extends Naming[A] {
      // one store run invokes the mapping twice (census attribution, then
      // erase artifacts) — memoize the last request set so the advertised
      // "ONE round-trip bounded by the request" holds, and a stateful or
      // time-varying deployment mapping cannot attribute DIFFERENTLY
      // between the census and the erase within one run. Scoped to ONE
      // run: the orchestrator drops the memo at every run boundary
      // ([[Naming.beginRun]]) — store configs are long-lived, and a memo
      // surviving across runs would serve a STALE attribution to a later
      // request for the same users after the deployment mapping grew.
      @volatile private var last: Option[(Set[Long], Map[A, Long])] = None
      override private[graft] def beginRun(): Unit = { last = None }
      private[graft] def attribution(users: Set[Long]): Map[A, Long] =
        last match {
          case Some((u, m)) if u == users => m
          case _ =>
            val m = of(users)
            val strays = m.values.toSet -- users
            require(strays.isEmpty,
              s"bulk naming attributed artifacts to non-requesting users " +
                s"${strays.toSeq.sorted.mkString(", ")} — a receipt may only " +
                "name a user who asked; fix the deployment mapping")
            last = Some((users, m))
            m
        }
      private[graft] def artifacts(users: Set[Long]): Set[A] =
        attribution(users).keySet
    }
  }

  /** Sentinel command rows inserted into the CAPTURED TABLE ITSELF — the
    * "through the real feed" half the memory-harness specs stubbed: ids
    * allocated above the table's live max (so the monotone source actually
    * delivers them), `event_type = 'erase'`, null ts/props. Every typed
    * consumer of the feed — the prev-image fold on both stateful APIs and
    * the stateless tail — drops them unconditionally, so they never become
    * events, not even for subscribers that erase nothing — they exist
    * to make the stateful handler FIRE for keys that would otherwise never
    * recur. Retry-wrapped AND single-transaction: the insert races the
    * capture's own poller for row locks, and a lock-victim retry must not
    * leave a partial sentinel set behind (the retry re-probes the max id,
    * so a partially-committed first attempt would otherwise leave
    * duplicate sentinel rows in the user's table — harmless to state, the
    * handlers drop them unconditionally, but observable to the user).
    * All-or-nothing per attempt makes the retry exact.
    */
  private[graft] def insertSentinels(url: String, table: String,
                                     erased: Map[Long, Long]): Unit = {
    require(JdbcFeed.isSafeIdent(table), s"unsafe table identifier: $table")
    if (erased.isEmpty) return
    JdbcFeed.withRetry() {
      val firstId = JdbcFeed.maxId(url, table, "event_id") + 1
      val sentinels = StateErasure.eraseSentinels(erased, firstId)
      val conn = java.sql.DriverManager.getConnection(url)
      try {
        conn.setAutoCommit(false)
        val ps = conn.prepareStatement(
          s"INSERT INTO $table (event_id, ts, user_id, event_type, props)" +
            " VALUES (?, ?, ?, ?, ?)")
        sentinels.foreach { s =>
          ps.setLong(1, s.event_id)
          ps.setNull(2, java.sql.Types.TIMESTAMP)
          ps.setLong(3, s.user_id)
          ps.setString(4, s.event_type)
          ps.setNull(5, java.sql.Types.VARCHAR)
          ps.executeUpdate()
        }
        conn.commit()
      } catch {
        case e: Throwable =>
          // a failed rollback must not hide the ORIGINAL failure
          try conn.rollback() catch { case NonFatal(r) => e.addSuppressed(r) }
          throw e
      } finally conn.close()
    }
  }

  /** The receipt ledger: one (store, user_id) row per VERIFIED store
    * erasure, appended under the archive (the one shared durable location
    * every deployment already has — same placement as `_tombstones`). The
    * idempotence key for [[run]]; see the class doc for why the
    * before-census cannot be that key.
    *
    * Read guarded the same way as [[openMarkers]]: a crashed
    * [[recordReceipts]] append can leave the dir existing with no readable
    * data files, and that must read as EMPTY (safe direction — recipes
    * merely re-run and re-verify), not throw and brick every later
    * run/compact/revoke on this archive until manual cleanup.
    */
  private def receiptsDf(spark: SparkSession,
                         ledgerPath: String): Option[DataFrame] = {
    recoverLedger(spark, ledgerPath)
    val dir = new org.apache.hadoop.fs.Path(ledgerPath, "_erasure_receipts")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) None
    else
      try Some(spark.read.parquet(dir.toString)
        .select(col("store"), col("user_id")))
      catch { case _: org.apache.spark.sql.AnalysisException => None }
  }

  /** The receipted (store, user) pairs among THIS call's request set. The
    * ledger is all-time compliance evidence — it grows with lifetime
    * requests × stores and is never dropped — so it is consumed as one
    * distributed scan semi-joined against the broadcast request set (the
    * same shape as the cutoff-scoped census), never collected whole on
    * the driver. The result is bounded by the call: ≤ stores × users.
    */
  private[graft] def receiptedOf(spark: SparkSession, ledgerPath: String,
                                 users: Seq[Long]): Set[(String, Long)] =
    receiptsDf(spark, ledgerPath) match {
      case Some(df) =>
        val sq = spark
        import sq.implicits._
        val req = users.map(Tuple1(_)).toDF("u")
        df.join(broadcast(req), col("user_id") === col("u"), "left_semi")
          .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      case None => Set.empty
    }

  /** The FULL ledger materialized — diagnostics and specs only; unbounded
    * by design (all-time evidence), so the orchestration paths use
    * [[receiptedOf]] instead.
    */
  private[graft] def receipts(spark: SparkSession,
                              archivePath: String): Set[(String, Long)] =
    receiptsDf(spark, archivePath) match {
      case Some(df) =>
        df.collect().map(r => (r.getString(0), r.getLong(1))).toSet
      case None => Set.empty
    }

  private def recordReceipts(spark: SparkSession, archivePath: String,
                             store: String, users: Seq[Long]): Unit = {
    recoverLedger(spark, archivePath)
    val sq = spark
    import sq.implicits._
    users.map(u => (store, u)).toDF("store", "user_id")
      .coalesce(1).write.mode("append")
      .parquet(new org.apache.hadoop.fs.Path(archivePath, "_erasure_receipts").toString)
  }

  /** Crash recovery for the compaction swap: [[compactReceipts]] retires
    * the live ledger by RENAME before renaming the compacted copy into
    * place — a crash between the two renames leaves the truth under the
    * retired name and nothing under the live one. Every ledger touchpoint
    * restores it first, so no crash window can make receipts() read empty
    * (which would re-run every store's recipe for already-erased users).
    */
  private def recoverLedger(spark: SparkSession, archivePath: String): Unit = {
    val dir = new org.apache.hadoop.fs.Path(archivePath, "_erasure_receipts")
    val retired = new org.apache.hadoop.fs.Path(archivePath, "_erasure_receipts_retired")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir) && fs.exists(retired))
      require(fs.rename(retired, dir),
        s"failed to recover the receipt ledger from $retired")
  }

  /** The crash-safe ledger rewrite both [[compactReceipts]] and
    * [[revokeReceipts]] share: the replacement is fully written to a
    * staging dir, the live ledger is RETIRED by rename (never deleted
    * while it is the only copy), the staging dir renamed into place, and
    * only then is the retired original dropped — a crash at any point
    * leaves a complete ledger recoverable by [[recoverLedger]].
    */
  private def swapLedger(spark: SparkSession, archivePath: String)
                        (write: String => Unit): Unit = {
    val dir = new org.apache.hadoop.fs.Path(archivePath, "_erasure_receipts")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new org.apache.hadoop.fs.Path(archivePath,
      "_erasure_receipts_compacting")
    if (fs.exists(staging)) require(fs.delete(staging, true),
      s"failed to clear stale compaction staging $staging")
    write(staging.toString)
    val retired = new org.apache.hadoop.fs.Path(archivePath, "_erasure_receipts_retired")
    if (fs.exists(retired)) require(fs.delete(retired, true),
      s"failed to clear stale retired ledger $retired")
    require(fs.rename(dir, retired), s"failed to retire ledger $dir")
    require(fs.rename(staging, dir), s"failed to swap rewritten ledger into $dir")
    require(fs.delete(retired, true), s"failed to drop retired ledger $retired")
  }

  /** Receipt-ledger compaction: every verified store erasure appends one
    * small file, so a long-lived deployment's ledger accumulates files at
    * compliance-request rate. Receipts are EVIDENCE — compaction dedupes
    * and rewrites them as one sorted file (same one-file contract as
    * `Layout.compactDay`), never drops a (store, user) fact. Returns the
    * receipt count. Crash-safe via [[swapLedger]].
    */
  def compactReceipts(spark: SparkSession, archivePath: String): Long = {
    requireRenameAtomic(archivePath, "receipt ledger")
    receiptsDf(spark, archivePath) match {
      case None => 0L // missing or torn (no readable data files): nothing to compact
      case Some(all) =>
        var n = 0L
        swapLedger(spark, archivePath) { staging =>
          all.distinct()
            .orderBy(col("store"), col("user_id"))
            .coalesce(1).write.parquet(staging)
          n = spark.read.parquet(staging).count()
        }
        n
    }
  }

  /** Offline-move journal: (store, old_dir, new_dir) appended BEFORE an
    * old checkpoint is deleted. If the driver dies between that delete
    * and the receipt write, the caller's config still names a directory
    * that no longer exists — the journal lets the next [[run]] forward
    * the stale checkpointDir to its successor ([[forwardedDir]]) instead
    * of crashing on the missing path, so the retry is graceful with the
    * ORIGINAL store config.
    */
  private def recordMove(spark: SparkSession, ledger: String, store: String,
                         oldDir: String, newDir: String): Unit = {
    val sq = spark
    import sq.implicits._
    Seq((store, oldDir, newDir)).toDF("store", "old_dir", "new_dir")
      .coalesce(1).write.mode("append")
      .parquet(new org.apache.hadoop.fs.Path(ledger, "_erasure_moves").toString)
  }

  /** Resolve a store's configured checkpoint dir through the move journal
    * (walking chains across multiple erasures; cycle-guarded).
    */
  private[graft] def forwardedDir(spark: SparkSession, ledger: String,
                                  store: String, dir: String): String = {
    val p = new org.apache.hadoop.fs.Path(ledger, "_erasure_moves")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return dir
    // same torn-append guard as the receipt ledger: a crashed recordMove
    // can leave the journal dir with no readable data files — a journal
    // with zero COMPLETE appends holds zero moves, so reading it as "no
    // forwarding" is exact, not just safe
    val journal =
      try spark.read.parquet(p.toString)
      catch { case _: org.apache.spark.sql.AnalysisException => return dir }
    val moves = journal
      .filter(col("store") === store)
      .select(col("old_dir"), col("new_dir")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    var cur = dir
    val seen = scala.collection.mutable.Set.empty[String]
    while (moves.contains(cur) && seen.add(cur)) cur = moves(cur)
    cur
  }

  /** Offline-rewrite decommission: the OLD checkpoint's files still hold
    * the erased payload bytes after the resumed query commits on the
    * fresh one — deleting them is part of the erasure, not housekeeping.
    * The resumeFrom contract ("return only after the first batch COMMITS
    * on the fresh checkpoint") is ENFORCED, not trusted: a callback that
    * returns early would otherwise lose the store — the old dir deleted,
    * the new one holding nothing durable — so an empty commit log on the
    * fresh side refuses the delete. The move is journaled BEFORE the
    * delete (see [[recordMove]]).
    */
  private def decommission(spark: SparkSession, oldDir: String,
                           newDir: String, ledger: String,
                           store: String): Unit = {
    require(newDir != oldDir,
      "offline-rewrite resume must land on a FRESH checkpoint " +
        s"(resumeFrom returned the old dir: $oldDir)")
    val np = new org.apache.hadoop.fs.Path(newDir)
    val nfs = np.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val commits = new org.apache.hadoop.fs.Path(np, "commits")
    require(nfs.exists(commits) &&
        nfs.listStatus(commits).exists(_.getPath.getName.forall(_.isDigit)),
      s"fresh checkpoint $newDir has no committed batch — refusing to " +
        s"decommission $oldDir (the rewritten state is not durable yet; " +
        "resumeFrom must return only after its first batch commits)")
    recordMove(spark, ledger, store, oldDir, newDir)
    val p = new org.apache.hadoop.fs.Path(oldDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) require(fs.delete(p, true), s"failed to decommission $oldDir")
  }

  /** URI schemes of object stores whose "rename" is copy+delete, not an
    * atomic metadata move. The receipt ledger, open markers, and their
    * compaction/revocation swaps are crash-safe ONLY under atomic
    * directory rename ([[swapLedger]]/[[recoverLedger]]/[[clearOpen]]:
    * retire-by-rename, swap-by-rename, recover-by-rename) — on an object
    * store a crash mid-"rename" can leave BOTH or NEITHER copy, and for a
    * compliance-evidence ledger that failure mode is silent evidence loss
    * (or a resurrected stale ledger suppressing recipes over unerased
    * stores). Refused loudly at every entry point that touches the ledger
    * or markers; deployments on object stores must place the archive (or
    * at least `ledgerPath` for the multi-archive form) on HDFS/POSIX.
    */
  private[graft] val NonRenameAtomicSchemes: Set[String] =
    Set("s3", "s3a", "s3n", "gs", "wasb", "wasbs", "abfs", "abfss",
      "oss", "cos", "swift")

  private def requireRenameAtomic(path: String, what: String): Unit = {
    val scheme = Option(new org.apache.hadoop.fs.Path(path).toUri.getScheme)
      .map(_.toLowerCase(java.util.Locale.ROOT))
    require(!scheme.exists(NonRenameAtomicSchemes),
      s"$what path $path is on '${scheme.getOrElse("")}', an object store " +
        "without atomic directory rename — the receipt ledger and open " +
        "markers are crash-safe only on rename-atomic filesystems " +
        "(HDFS/POSIX). Place the archive — or ledgerPath for the " +
        "multi-archive form — on a rename-atomic filesystem.")
  }

  /** An unreadable ARCHIVE PATH must never read as "already erased": a
    * typo'd path would otherwise produce an all-zero compliance report
    * against nothing while the real archive keeps the data.
    */
  private def requireArchiveDir(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p),
      s"archive path does not exist: $path — refusing to report an " +
        "absent directory as erased")
  }

  /** A fully-erased archive has no data files left (every day=/op=
    * partition deleted, only hidden dirs remain), so the bare parquet
    * read throws instead of counting zero — every census and max-id read
    * goes through this guard. [[requireArchiveDir]] has already ruled out
    * the path itself being missing.
    */
  private def archiveDf(spark: SparkSession, path: String): Option[DataFrame] =
    try Some(spark.read.parquet(path))
    catch { case _: org.apache.spark.sql.AnalysisException => None }

  /** Cutoff-scoped census over an archive frame: rows of `users` where
    * the per-user scope is open (no cutoff) or the row id is at-or-below
    * the cutoff. The bounded request set ships as a broadcast join — the
    * scale-safe shape for a backlog of thousands. Per-user grain (the
    * [[preview]] report); the aggregate count derives from it.
    */
  private def scopedCountByUser(spark: SparkSession, frame: Option[DataFrame],
                                users: Seq[Long],
                                scope: Long => Option[Long]): Map[Long, Long] =
    frame match {
      case Some(df) =>
        val sq = spark
        import sq.implicits._
        val scopeDf = users
          .map(u => (u, scope(u).map(Long.box).orNull.asInstanceOf[java.lang.Long]))
          .toDF("u", "cutoff")
        df.filter(col("user_id").isNotNull)
          .join(broadcast(scopeDf), col("user_id") === col("u"))
          .filter(col("cutoff").isNull || col("event_id") <= col("cutoff"))
          .groupBy(col("u")).count().collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
      case None => Map.empty
    }

  private def scopedCount(spark: SparkSession, frame: Option[DataFrame],
                          users: Seq[Long],
                          scope: Long => Option[Long]): Long =
    scopedCountByUser(spark, frame, users, scope).values.sum

  /** Cutoff publication for ONE archive: the recorded tombstones, floored
    * at max(the archive's top id, every relevant live feed's top id) —
    * and the floor made DURABLE. The live table runs ahead of the
    * archive, so without the floor two resurrection paths stay open for
    * every user whose recorded cutoff (the archive's pre-rewrite max)
    * sits below the live max: a restart replay of not-yet-archived rows
    * rebuilds the erased prev-image state, and the daemon's next archived
    * batch lands the user's pre-request rows in the archive AFTER the
    * report said complete. Publishing a (user, floor) tombstone row
    * raises the effective cutoff everywhere the guard reads it
    * (`appendArchiveBatch`, the erasing processors) — point-in-time
    * semantics hold because rows above the floor were committed after
    * this orchestration began.
    */
  private def publishCutoffs(spark: SparkSession, archivePath: String,
                             users: Seq[Long], liveMax: Seq[Long],
                             openUsers: Seq[Long]): Map[Long, Long] = {
    val recorded = StateErasure.erasureSet(spark, archivePath)
    val archiveMax = archiveDf(spark, archivePath) match {
      case Some(df) =>
        val m = df.agg(max(col("event_id"))).head()
        if (m.isNullAt(0)) 0L else m.getLong(0)
      case None => 0L
    }
    val floor = (0L +: archiveMax +: liveMax).max
    // the point-in-time is established when the request COMPLETES: while
    // a user's request is OPEN ([[openMarkers]]) the cutoff may rise to
    // the current floor on every attempt (a retried call re-floors — the
    // rows in between were committed before completion, still in scope);
    // once closed it never moves — re-flooring a completed user at the
    // current live max would ratchet the cutoff past rows they
    // legitimately produced AFTER the erasure and silently drop them at
    // the archive's append guard.
    val needsFloor = openUsers.filter(u => recorded.getOrElse(u, -1L) < floor)
    if (needsFloor.nonEmpty) {
      val sq = spark
      import sq.implicits._
      needsFloor.map(u => (u, floor)).toDF("t_user", "cutoff_id")
        .coalesce(1).write.mode("append")
        .parquet(new org.apache.hadoop.fs.Path(archivePath, "_tombstones").toString)
    }
    val open = openUsers.toSet
    users.map { u =>
      if (open(u)) u -> math.max(recorded.getOrElse(u, 0L), floor)
      else u -> recorded.getOrElse(u, 0L)
    }.toMap
  }

  /** Revoke receipts for a REPEAT erasure request: the ledger makes
    * re-calls structural no-ops, so a user who produced new data after a
    * completed erasure and is erased AGAIN (a second compliance request)
    * needs their receipt rows cleared first. Revocation also RE-OPENS the
    * archive side for those users (the open marker below): the next
    * [[run]] re-locates their archive rows, re-floors and publishes a
    * fresh point-in-time cutoff, and re-runs every store's recipe — even
    * when the user's new data is still live-only (daemon lag), where the
    * old "re-records on locate" behavior would have kept the stale cutoff
    * and livelocked the state erasure. Multi-archive deployments pass
    * every archive in `alsoReopen`. Crash-safe via [[swapLedger]].
    */
  def revokeReceipts(spark: SparkSession, archivePath: String,
                     userIds: Seq[Long],
                     alsoReopen: Seq[String] = Seq.empty): Long = {
    (archivePath +: alsoReopen).distinct
      .foreach(requireRenameAtomic(_, "receipt ledger / open markers"))
    val users = userIds.distinct
    var revoked = 0L
    // ORDER MATTERS: receipts are cleared BEFORE the open markers are
    // written. A crash in between leaves receipts gone + user unmarked —
    // the next run re-runs the store recipes with the pinned cutoff and
    // at worst reports non-zero (fail-VISIBLE; the operator re-runs this
    // idempotent call). The reverse order's crash window would let a run
    // re-floor and close the request while the stale receipts suppress
    // every store recipe — an all-zero report over an unerased store.
    if (users.nonEmpty) receiptsDf(spark, archivePath) match {
      case Some(all) =>
        swapLedger(spark, archivePath) { staging =>
          revoked = all.filter(col("user_id").isin(users: _*)).count()
          all.filter(!col("user_id").isin(users: _*))
            .coalesce(1).write.parquet(staging)
        }
      case None => () // missing or torn ledger: nothing to revoke
    }
    (archivePath +: alsoReopen).distinct.foreach(markOpen(spark, _, users))
    revoked
  }

  /** The archive-side OPEN markers: a user's erasure request is open —
    * their archive rows in scope for the locate pass and their cutoff
    * still allowed to rise to the current floor — from before the archive
    * rewrite until the floored cutoff is durably published. Without the
    * marker, the tombstone doubles as the done-signal while being written
    * MID-call: a crash between the archive rewrite (which records a
    * tombstone at the pre-rewrite max) and the floor publication would
    * permanently mis-file a first-time user as completed, leaving the
    * live-ahead resurrection window open with no automatic repair.
    * [[revokeReceipts]] writes the marker to re-open a completed user for
    * a repeat request.
    */
  private def recoverOpen(spark: SparkSession, archivePath: String): Unit = {
    val dir = new org.apache.hadoop.fs.Path(archivePath, "_erasure_open")
    val retired = new org.apache.hadoop.fs.Path(archivePath, "_erasure_open_retired")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a crash between clearOpen's two renames leaves the pre-clear truth
    // under the retired name — restore it (conservatively LARGER: the
    // cleared users stay open one call longer, which only re-floors an
    // in-flight request — idempotent and harmless)
    if (!fs.exists(dir) && fs.exists(retired))
      require(fs.rename(retired, dir),
        s"failed to recover open markers from $retired")
  }

  private[graft] def openMarkers(spark: SparkSession,
                                 archivePath: String): Set[Long] = {
    recoverOpen(spark, archivePath)
    val dir = new org.apache.hadoop.fs.Path(archivePath, "_erasure_open")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) Set.empty
    else
      // a crashed markOpen append can leave the dir with no readable data
      // files — that must read as "nothing marked", not brick every
      // subsequent call on this archive
      try spark.read.parquet(dir.toString)
        .select(col("user_id")).collect().map(_.getLong(0)).toSet
      catch { case _: org.apache.spark.sql.AnalysisException => Set.empty }
  }

  private[graft] def markOpen(spark: SparkSession, archivePath: String,
                              userIds: Seq[Long],
                              already: Option[Set[Long]] = None): Unit = {
    val marked = already.getOrElse(openMarkers(spark, archivePath))
    val missing = userIds.distinct.filterNot(marked)
    if (missing.isEmpty) return
    val sq = spark
    import sq.implicits._
    missing.map(Tuple1(_)).toDF("user_id")
      .coalesce(1).write.mode("append")
      .parquet(new org.apache.hadoop.fs.Path(archivePath, "_erasure_open").toString)
  }

  /** Clear open markers once the users' floored cutoffs are durable.
    * Crash-safe like the receipt ledger: the surviving set is fully
    * written to a staging dir, the live dir RETIRED by rename, the
    * staging renamed in, the retired copy dropped — [[recoverOpen]]
    * restores the pre-clear truth if a crash lands between the renames.
    * `preCall` is the marker set as read at the top of the run (markOpen
    * may have added `userIds` since; the survivors are preCall minus the
    * cleared users).
    */
  private def clearOpen(spark: SparkSession, archivePath: String,
                        userIds: Set[Long], preCall: Set[Long]): Unit = {
    if (userIds.isEmpty) return
    val dir = new org.apache.hadoop.fs.Path(archivePath, "_erasure_open")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return
    val remaining = preCall -- userIds
    if (remaining.isEmpty) {
      require(fs.delete(dir, true), s"failed to clear open markers $dir")
    } else {
      val staging = new org.apache.hadoop.fs.Path(archivePath, "_erasure_open_rewrite")
      if (fs.exists(staging)) require(fs.delete(staging, true),
        s"failed to clear stale marker staging $staging")
      val sq = spark
      import sq.implicits._
      remaining.toSeq.sorted.map(Tuple1(_)).toDF("user_id")
        .coalesce(1).write.parquet(staging.toString)
      val retired = new org.apache.hadoop.fs.Path(archivePath, "_erasure_open_retired")
      if (fs.exists(retired)) require(fs.delete(retired, true),
        s"failed to clear stale retired markers $retired")
      require(fs.rename(dir, retired), s"failed to retire open markers $dir")
      require(fs.rename(staging, dir), s"failed to swap open markers into $dir")
      require(fs.delete(retired, true), s"failed to drop retired markers $retired")
    }
  }

  /** The receipt-keyed recipe dispatch both run() forms share: a first
    * call runs the recipe even when the before-census read zero (older
    * checkpoint files can still hold the payload bytes — class doc), and
    * passes only the UNRECEIPTED users so a grown request set cannot
    * re-insert sentinels for already-erased ones. A receipt is recorded
    * only once the store's after-census verifies zero, so a failed
    * erasure re-runs on the next call; once receipted, a re-call is
    * structurally a no-op — no checkpoint churn, no offline rewrite, no
    * extra sentinel rows in the live table.
    */
  private def dispatch[S](spark: SparkSession, ledger: String,
                          users: Seq[Long], stores: Seq[S],
                          done: Set[(String, Long)])(
      nameOf: S => String,
      foundByOf: (S, Set[Long]) => Map[Long, Long],
      eraseOf: (S, Set[Long]) => S): (Seq[Long], Seq[S]) = {
    stores.map { s =>
      val pending = users.filterNot(u => done((nameOf(s), u))).toSet
      val verified = if (pending.isEmpty) s else eraseOf(s, pending)
      // the after-census is scoped to the PENDING users: a completed
      // user's legitimately rebuilt post-erasure state must neither block
      // a new user's receipt nor misreport a verified erasure as
      // incomplete (it is out of this request's scope by the pinned
      // point-in-time). Receipts are attributed PER USER off the census:
      // one user whose erasure failed — or whose state was rebuilt by
      // concurrent traffic before the census — must not block receipts
      // for the users that individually verified zero (they would get
      // their recipe re-run on every retry: duplicate sentinel rows in
      // the live table, repeat full offline rewrites).
      val afterBy =
        if (pending.isEmpty) Map.empty[Long, Long]
        else foundByOf(verified, pending)
      val verifiedZero = pending.filter(u => afterBy.getOrElse(u, 0L) == 0L)
      if (verifiedZero.nonEmpty)
        recordReceipts(spark, ledger, nameOf(s), verifiedZero.toSeq.sorted)
      (afterBy.values.sum, verified)
    }.unzip
  }

  /** Forward each store's configured checkpoint dir through the move
    * journal — but REFUSE when the configured dir still exists alongside a
    * journaled successor: either an interrupted decommission left it (its
    * files still hold the erased payload — delete it and re-run) or the
    * path was reused for a rebuilt store (clear the journal entry);
    * guessing either way silently violates a contract.
    */
  private def forwardStores(spark: SparkSession, ledger: String,
                            stores: Seq[Store]): Seq[Store] =
    stores.map { s =>
      s.chk.map { dir =>
        val fwd = forwardedDir(spark, ledger, s.name, dir)
        if (fwd == dir) s
        else {
          val p = new org.apache.hadoop.fs.Path(dir)
          val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          require(!fs.exists(p),
            s"store '${s.name}': configured checkpoint $dir has a " +
              s"move-journal successor ($fwd) but still exists on disk — " +
              "an interrupted decommission left it (delete the stale " +
              "directory and re-run) or the path was reused for a rebuilt " +
              "store (clear the journal); refusing to guess")
          s.at(fwd)
        }
      }.getOrElse(s)
    }

  /** NON-MUTATING preview of [[run]] at per-user grain — the compliance
    * team's "what would this erasure request find, where" BEFORE the
    * destructive call, and the per-request evidence of what is still held.
    * One row per (store, user): (store, user_id, found), `"archive"`
    * first, zero-count rows included so absence is explicit evidence.
    * The counts are EXACTLY what [[run]]'s before-census would read with
    * the same arguments: archive rows cutoff-scoped (an open user counts
    * in full; a completed user counts only leaked rows at-or-below their
    * pinned cutoff — their post-erasure rows are legitimate data), store
    * counts scoped to unreceipted users (a receipted user's store erasure
    * is verified; anything newer is out of the request's scope by the
    * pinned point-in-time). Nothing is written: no open markers, no
    * tombstones, no sentinels, no recipes, no receipts — safe against
    * production at any time, any number of times. (Crash REPAIR can still
    * run: a retired ledger/marker dir from an interrupted earlier call is
    * recovered by rename before reading — restoring durable truth, not
    * changing it — hence the same rename-atomic filesystem guard.)
    */
  def preview(spark: SparkSession, archivePath: String, userIds: Seq[Long],
              stores: Seq[Store]): DataFrame = {
    require(userIds.nonEmpty, "erasure preview needs at least one entity")
    require(stores.map(_.name).distinct.size == stores.size,
      s"store names must be unique: ${stores.map(_.name)}")
    requireRenameAtomic(archivePath, "receipt ledger / open markers")
    requireArchiveDir(spark, archivePath)
    val users = userIds.distinct.sorted
    stores.foreach(_.namings.foreach(_.beginRun())) // run-scope the memos
    val live = forwardStores(spark, archivePath, stores)
    val priorTombstones = StateErasure.erasureSet(spark, archivePath)
    val marked = openMarkers(spark, archivePath)
    val openSet = users.filter(u => !priorTombstones.contains(u) || marked(u)).toSet
    val done = receiptedOf(spark, archivePath, users)
    val archBy = scopedCountByUser(spark, archiveDf(spark, archivePath), users,
      u => if (openSet(u)) None else priorTombstones.get(u))
    val rows = users.map(u => ("archive", u, archBy.getOrElse(u, 0L), "attributable")) ++
      live.flatMap { s =>
        val pending = users.filterNot(u => done((s.name, u)))
        val by =
          if (pending.isEmpty) Map.empty[Long, Long]
          else s.foundBy(spark, pending.map(_ -> 0L).toMap)
        users.map(u => (s.name, u, by.getOrElse(u, 0L), s.posture))
      }
    val sq = spark
    import sq.implicits._
    rows.toDF("store", "user_id", "found", "posture")
  }

  /** The one call: erase `userIds` from the archive and every configured
    * store, verify every copy, return the completeness report —
    * one row per target: (store, found_before, found_after), `"archive"`
    * first. All-zero `found_after` = the erasure is complete; a re-call
    * is a structural no-op reporting (0, 0) everywhere (receipt-keyed —
    * see the class doc).
    *
    * `liveFeeds`: extra (jdbcUrl, table) pairs whose top ids join the
    * archive-absent cutoff floor. The floor is probed AUTOMATICALLY only
    * through in-place stores ([[TwsInPlace]]/[[TwsInPlaceByTable]] name
    * their feed); a deployment using only offline stores has no reachable
    * feed config, so without explicit probes its floor would be the
    * archive max — leaving the live-ahead restart-replay resurrection
    * window open for archive-absent users. Pass every captured feed here
    * when no in-place store names it.
    */
  def run(spark: SparkSession, archivePath: String, userIds: Seq[Long],
          stores: Seq[Store],
          liveFeeds: Seq[(String, String)] = Seq.empty): DataFrame =
    runDetailed(spark, archivePath, userIds, stores, liveFeeds)._1

  /** [[run]] plus the POST-erasure store configs: the offline-rewrite
    * recipes move each store to the fresh checkpoint its resumed query
    * committed on (the old one is decommissioned), so a deployment that
    * wants to re-verify later must address the moved stores — this is the
    * handle. In-place stores come back unchanged. A config still naming a
    * PAST checkpoint (a crash lost the moved handles) is forwarded
    * through the move journal instead of crashing on the deleted path.
    */
  def runDetailed(spark: SparkSession, archivePath: String, userIds: Seq[Long],
                  stores: Seq[Store],
                  liveFeeds: Seq[(String, String)] = Seq.empty)
      : (DataFrame, Seq[Store]) = {
    require(userIds.nonEmpty, "eraseEverywhere needs at least one entity")
    require(stores.map(_.name).distinct.size == stores.size,
      s"store names must be unique: ${stores.map(_.name)}")
    requireRenameAtomic(archivePath, "receipt ledger / open markers")
    requireArchiveDir(spark, archivePath)
    val users = userIds.distinct.sorted
    stores.foreach(_.namings.foreach(_.beginRun())) // run-scope the memos
    val live = forwardStores(spark, archivePath, stores)

    // request lifecycle: a user is OPEN (archive rows in scope, cutoff may
    // rise) when they have no tombstone yet, an open marker survives from
    // an interrupted call, or revokeReceipts re-opened them; COMPLETED
    // users are out of the archive-side scope — their post-erasure rows
    // are legitimate data the locate pass must not destroy
    val priorTombstones = StateErasure.erasureSet(spark, archivePath)
    val marked = openMarkers(spark, archivePath)
    val openUsers = users.filter(u => !priorTombstones.contains(u) || marked(u))
    // the marker makes the open state durable across the
    // eraseEntities→publishCutoffs window: a crash there must not
    // mis-file the user as completed with an unfloored cutoff
    markOpen(spark, archivePath, openUsers, Some(marked))

    // censuses are cutoff-scoped: a user with no cutoff yet counts in
    // full; one with a cutoff counts only rows at-or-below it (anything
    // there is a leak; rows above are theirs to keep). The request set is
    // bounded but can be thousands, so the scope ships as a BROADCAST
    // join — a per-user OR chain overflows the expression converter at
    // backlog scale (measured at 1k entities) and would not survive 100 TB
    // plans either.
    def archiveScoped(scope: Long => Option[Long]): Long =
      scopedCount(spark, archiveDf(spark, archivePath), users, scope)
    val openSet = openUsers.toSet
    val done = receiptedOf(spark, archivePath, users)
    def pendingOf(s: Store): Set[Long] =
      users.filterNot(u => done((s.name, u))).toSet

    // BEFORE census (cutoffs don't matter to found(); 0L placeholders),
    // store-side scoped to each store's pending users
    val beforeArchive = archiveScoped(u =>
      if (openSet(u)) None else priorTombstones.get(u))
    val beforeStores = live.map { s =>
      val pending = pendingOf(s)
      if (pending.isEmpty) 0L
      else s.found(spark, pending.map(_ -> 0L).toMap)
    }

    // archive erasure + tombstones for the OPEN users only (point-in-time
    // cutoffs, replay guard); completed users' rows are post-erasure data.
    // beforeArchive counts open users in full, so a zero skips the locate
    // without a second scan (a closed-leak-only nonzero costs one no-op
    // locate pass — the leak case is already a reportable anomaly)
    if (openUsers.nonEmpty && beforeArchive > 0)
      graft.sources.Layout.eraseEntities(spark, archivePath, openUsers)

    // cutoff publication, floored at every reachable live feed's top id
    // (durable — see publishCutoffs for why the floor must reach the
    // tombstones); probes skipped when nothing is open. Only in-place
    // stores NAME their feed, so offline-only deployments must pass
    // liveFeeds explicitly (see run()'s doc) — their floor is otherwise
    // just the archive max.
    val liveMax =
      if (openUsers.isEmpty) Nil
      else live.flatMap {
        case t: TwsInPlace        => Seq(JdbcFeed.maxId(t.jdbcUrl, t.table, "event_id"))
        case t: TwsInPlaceByTable => t.tables.map(JdbcFeed.maxId(t.jdbcUrl, _, "event_id"))
        case _                    => Nil
      } ++ liveFeeds.map { case (url, table) => JdbcFeed.maxId(url, table, "event_id") }
    val set = publishCutoffs(spark, archivePath, users, liveMax, openUsers)
    clearOpen(spark, archivePath, openSet, marked ++ openSet)

    val (afterStores, movedStores) =
      dispatch(spark, archivePath, users, live, done)(
        _.name,
        (s: Store, pending: Set[Long]) =>
          s.foundBy(spark, set.filter { case (u, _) => pending.contains(u) }),
        (s: Store, pending: Set[Long]) =>
          s.erase(spark, set.filter { case (u, _) => pending.contains(u) },
            archivePath))

    val sq = spark
    import sq.implicits._
    val report = (("archive", beforeArchive, archiveScoped(u => set.get(u))) +:
      live.zip(beforeStores.zip(afterStores)).map { case (s, (b, a)) =>
        (s.name, b, a)
      }).toDF("store", "found_before", "found_after")
    (report, movedStores)
  }

  // ===== multi-archive form (independent per-table id spaces) =====

  /** One durable store of a MULTI-ARCHIVE deployment (N captured tables,
    * N archives, per-table id spaces independent): recipes receive
    * (table, user) → cutoff, because a user's cutoff in one table says
    * nothing about another's id space.
    */
  sealed trait ByTableStore {
    def name: String
    /** Per-USER artifact counts (summed over tables) — receipts are keyed
      * on (store, user), so attribution is by user even when the state
      * key is (table, user); see [[Store.foundBy]] for why per-user.
      */
    private[graft] def foundBy(spark: SparkSession,
                               erased: Map[(String, Long), Long]): Map[Long, Long]
    private[graft] final def found(spark: SparkSession,
                                   erased: Map[(String, Long), Long]): Long =
      foundBy(spark, erased).values.sum
    private[graft] def erase(spark: SparkSession,
                             erased: Map[(String, Long), Long]): ByTableStore
    /** Preview attribution posture — see [[Store.posture]]. */
    private[graft] def posture: String = "attributable"
  }

  /** By-table transformWithState prev-image state erased in place with
    * PER-(table, user) cutoffs: sentinels are inserted into each table the
    * erasure set names (ids above THAT table's own live max), then the
    * bounce runs `CdcStream.withPrevStateByTableTws(ds, erasedKeys.get)`. Same
    * latest-version scope caveat as [[TwsInPlace]].
    */
  final case class TwsInPlacePerTable(name: String, checkpointDir: String,
                                      jdbcUrl: String,
                                      resumeErasing: Map[(String, Long), Long] => Unit)
      extends ByTableStore {
    private[graft] def foundBy(spark: SparkSession,
                               erased: Map[(String, Long), Long]): Map[Long, Long] =
      countByUser(StateMigration.readPrevImageStateByTableTws(spark, checkpointDir)
        .filter(kv => erased.contains(kv._1))
        .map(_._1._2)(org.apache.spark.sql.Encoders.scalaLong))
    private[graft] def erase(spark: SparkSession,
                             erased: Map[(String, Long), Long]): ByTableStore = {
      erased.groupBy(_._1._1).toSeq.sortBy(_._1).foreach { case (table, keys) =>
        insertSentinels(jdbcUrl, table,
          keys.map { case ((_, u), cutoff) => u -> cutoff })
      }
      resumeErasing(erased)
      this
    }
  }

  /** The multi-archive receipt-ledger location: an EXISTING ledger among
    * the archives wins (so the default stays stable when the captured
    * table set grows — a map-order default would silently move the
    * idempotence key), falling back to the first table's archive;
    * multiple existing ledgers refuse loudly.
    */
  private def resolveLedger(spark: SparkSession, archives: Map[String, String],
                            tables: Seq[String],
                            ledgerPath: Option[String]): String =
    ledgerPath.getOrElse {
      val existing = tables.map(archives).distinct.filter { p =>
        val d = new org.apache.hadoop.fs.Path(p, "_erasure_receipts")
        val f = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
        f.exists(d) ||
          f.exists(new org.apache.hadoop.fs.Path(p, "_erasure_receipts_retired"))
      }
      require(existing.size <= 1,
        s"multiple receipt ledgers found under ${existing.mkString(", ")} — " +
          "pass ledgerPath explicitly")
      existing.headOption.getOrElse(archives(tables.head))
    }

  /** [[preview]] for multi-archive deployments: one row per
    * (`archive:<table>` | store, user) with the count [[runMultiArchive]]'s
    * before-census would read — per-table cutoff scoping (openness is per
    * (table, user), exactly as the destructive form), store counts scoped
    * to unreceipted users. Nothing written; same crash-repair caveat as
    * [[preview]].
    */
  def previewMultiArchive(spark: SparkSession, archives: Map[String, String],
                          userIds: Seq[Long], stores: Seq[ByTableStore],
                          ledgerPath: Option[String] = None): DataFrame = {
    require(userIds.nonEmpty, "erasure preview needs at least one entity")
    require(archives.nonEmpty, "multi-archive preview needs at least one archive")
    require(stores.map(_.name).distinct.size == stores.size,
      s"store names must be unique: ${stores.map(_.name)}")
    val users = userIds.distinct.sorted
    val tables = archives.keys.toSeq.sorted
    (ledgerPath.toSeq ++ tables.map(archives)).distinct
      .foreach(requireRenameAtomic(_, "receipt ledger / open markers"))
    tables.foreach(t => requireArchiveDir(spark, archives(t)))
    val ledger = resolveLedger(spark, archives, tables, ledgerPath)
    val done = receiptedOf(spark, ledger, users)
    val rows = tables.flatMap { t =>
      val prior = StateErasure.erasureSet(spark, archives(t))
      val marked = openMarkers(spark, archives(t))
      val open = users.filter(u => !prior.contains(u) || marked(u)).toSet
      val by = scopedCountByUser(spark, archiveDf(spark, archives(t)), users,
        u => if (open(u)) None else prior.get(u))
      users.map(u => (s"archive:$t", u, by.getOrElse(u, 0L), "attributable"))
    } ++ stores.flatMap { s =>
      val pending = users.filterNot(u => done((s.name, u)))
      val by =
        if (pending.isEmpty) Map.empty[Long, Long]
        else s.foundBy(spark,
          (for { t <- tables; u <- pending } yield (t, u) -> 0L).toMap)
      users.map(u => (s.name, u, by.getOrElse(u, 0L), s.posture))
    }
    val sq = spark
    import sq.implicits._
    rows.toDF("store", "user_id", "found", "posture")
  }

  /** [[run]] for multi-archive deployments: each captured table has its
    * OWN archive and its OWN id space, so cutoffs are published per
    * (table, user) — a recorded tombstone from table t's archive applies
    * only to t, floored at t's own archive/live max and made durable in
    * t's tombstones. A merged cross-table cutoff would either resurrect
    * (too low for the table ahead) or block the entity's future rows (too
    * high for the table behind) — the committedOffsets lesson applied to
    * erasure.
    *
    * The receipt ledger lives under `ledgerPath`; with none given, an
    * EXISTING ledger among the archives wins (so the default stays stable
    * when the captured table set grows — a map-order default would
    * silently move the idempotence key), falling back to the first
    * table's archive; multiple existing ledgers refuse loudly.
    */
  def runMultiArchive(spark: SparkSession, archives: Map[String, String],
                      userIds: Seq[Long], stores: Seq[ByTableStore],
                      ledgerPath: Option[String] = None,
                      liveFeeds: Seq[(String, String)] = Seq.empty)
      : (DataFrame, Seq[ByTableStore]) = {
    require(userIds.nonEmpty, "eraseEverywhere needs at least one entity")
    require(archives.nonEmpty, "multi-archive erasure needs at least one archive")
    require(stores.map(_.name).distinct.size == stores.size,
      s"store names must be unique: ${stores.map(_.name)}")
    val users = userIds.distinct.sorted
    val tables = archives.keys.toSeq.sorted
    // open markers live under every archive; the receipt ledger under
    // ledgerPath — all of them swap by rename, so all must be rename-atomic
    (ledgerPath.toSeq ++ tables.map(archives)).distinct
      .foreach(requireRenameAtomic(_, "receipt ledger / open markers"))
    tables.foreach(t => requireArchiveDir(spark, archives(t)))
    val ledger = resolveLedger(spark, archives, tables, ledgerPath)

    // request lifecycle, PER (table, user): a user is open in table t when
    // t's archive lacks their tombstone, t's marker survives from an
    // interrupted call, or revokeReceipts re-opened them there (pass every
    // archive in its alsoReopen). Openness must not leak across tables — a
    // GLOBAL open bit would let a newly-captured table re-open a user who
    // completed in the original tables, re-locating their legitimate
    // post-erasure rows there and ratcheting the pinned cutoffs; per-table
    // openness confines the standing request to the new table only.
    val priorByTable = tables.map(t =>
      t -> StateErasure.erasureSet(spark, archives(t))).toMap
    val markedByTable = tables.map(t =>
      t -> openMarkers(spark, archives(t))).toMap
    val openByTable: Map[String, Seq[Long]] = tables.map { t =>
      t -> users.filter(u =>
        !priorByTable(t).contains(u) || markedByTable(t)(u))
    }.toMap
    tables.foreach(t =>
      markOpen(spark, archives(t), openByTable(t), Some(markedByTable(t))))

    def archiveScoped(t: String, scope: Long => Option[Long]): Long =
      scopedCount(spark, archiveDf(spark, archives(t)), users, scope)
    val done = receiptedOf(spark, ledger, users)
    def pendingOf(s: ByTableStore): Set[Long] =
      users.filterNot(u => done((s.name, u))).toSet

    val beforeArch = tables.map { t =>
      val open = openByTable(t).toSet
      archiveScoped(t, u => if (open(u)) None else priorByTable(t).get(u))
    }
    val beforeStores = stores.map { s =>
      val pending = pendingOf(s)
      if (pending.isEmpty) 0L
      else s.found(spark,
        (for { t <- tables; u <- pending } yield (t, u) -> 0L).toMap)
    }

    tables.zip(beforeArch).foreach { case (t, before) =>
      if (openByTable(t).nonEmpty && before > 0)
        graft.sources.Layout.eraseEntities(spark, archives(t), openByTable(t))
    }

    // per-table cutoff publication, each floored at ITS archive/live max
    // (SQLStates naming table-absence only — class 42 also covers
    // privilege and syntax errors, which must ABORT rather than silently
    // publish a too-low floor)
    val tableAbsent = Set("42P01", "42S02", "42X05", "42Y07")
    val set: Map[(String, Long), Long] = tables.flatMap { t =>
      val open = openByTable(t)
      val liveMax =
        if (open.isEmpty) Nil
        else stores.flatMap {
          case s: TwsInPlacePerTable =>
            // a deployment may split tables across databases: a store
            // whose DB genuinely lacks table t contributes no floor for t
            // (the absence probe fails FAST — withRetry rethrows class-42
            // SQLStates immediately instead of 5×100 ms backoff per
            // absent (table, store) pair on every call with open users)
            try Some(JdbcFeed.maxId(s.jdbcUrl, t, "event_id"))
            catch {
              case e: java.sql.SQLException
                  if Option(e.getSQLState).exists(tableAbsent) => None
            }
          case _ => None
        } ++ liveFeeds.collect {
          case (url, table) if table == t => JdbcFeed.maxId(url, t, "event_id")
        }
      publishCutoffs(spark, archives(t), users, liveMax, open)
        .map { case (u, cutoff) => (t, u) -> cutoff }
    }.toMap
    tables.foreach { t =>
      val open = openByTable(t).toSet
      clearOpen(spark, archives(t), open, markedByTable(t) ++ open)
    }

    val (afterStores, movedStores) =
      dispatch(spark, ledger, users, stores, done)(
        _.name,
        (s: ByTableStore, pending: Set[Long]) =>
          s.foundBy(spark, set.filter { case ((_, u), _) => pending.contains(u) }),
        (s: ByTableStore, pending: Set[Long]) =>
          s.erase(spark, set.filter { case ((_, u), _) => pending.contains(u) }))

    val sq = spark
    import sq.implicits._
    val report = (tables.zip(beforeArch).map { case (t, b) =>
      (s"archive:$t", b, archiveScoped(t, u => set.get((t, u))))
    } ++ stores.zip(beforeStores.zip(afterStores)).map { case (s, (b, a)) =>
      (s.name, b, a)
    }).toDF("store", "found_before", "found_after")
    (report, movedStores)
  }
}
