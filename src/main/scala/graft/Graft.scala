package graft

import graft.ops.{Dedup, Similarity}
import graft.streaming.CdcStream
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, xxhash64}

/** Public API facade — the library's front door for use OUTSIDE the driver
  * harness. Everything here is a thin delegate to the operator objects
  * (`graft.ops.*`, `graft.streaming.*`, `graft.cdc.*`); use those directly
  * for the full parameter surface. The SQL front end (native `h60`,
  * `word_bigrams`, `json_merge_patch`, `json_redact`, `vec_dot`,
  * `vec_cosine`) registers via
  * `--conf spark.sql.extensions=graft.GraftExtensions`.
  *
  * Input contracts: document frames carry `(doc_id: Long, text: String)`,
  * embedding frames `(vec_id: Long, embedding: Array[Float])` — the same
  * shapes as the testdata tables.
  *
  * See README "Quickstart" for a copy-paste spark-shell session.
  */
object Graft {

  /** A SparkSession builder preconfigured for this engine: native SQL
    * functions registered, ANSI semantics (the oracle contract assumes it),
    * and a codegen cache sized for a many-query workload — Spark's default
    * 100 entries thrash when a session cycles through hundreds of distinct
    * plans (an analytics service, a scheduled sweep), re-compiling and
    * re-JITting generated classes that were hot minutes ago; measured 21%
    * across the full 183-query inventory at sf0.1 (BASELINE.md r11).
    * Streaming checkpoints are written through
    * [[graft.streaming.LocalCheckpointFileManager]], which spares `file:`
    * checkpoints a forked `chmod`/`readlink` per file.
    * `spark.sql.shuffle.partitions` is left to the caller/cluster defaults —
    * size it to your core count ([[Harness.session]] uses one per core).
    */
  def sessionBuilder(): SparkSession.Builder =
    SparkSession.builder()
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .config(graft.streaming.LocalCheckpointFileManager.ConfKey,
        classOf[graft.streaming.LocalCheckpointFileManager].getName)

  // ===== dedup (docs: (doc_id, text)) =====

  /** MinHash+LSH near-duplicate candidate pairs (doc_a < doc_b). Defaults
    * derive from [[Dedup.DefaultTargetJaccard]] — see [[Dedup.tunedRowsPerBand]].
    */
  def dedupPairs(docs: DataFrame): DataFrame = Dedup.minhashCandidatesDf(docs)

  /** Near-duplicate clusters: (doc_id, comp) with comp = the cluster's
    * canonical (minimum) doc id. Docs with no near-dup are absent.
    */
  def dedupClusters(docs: DataFrame): DataFrame =
    Dedup.connectedComponents(Dedup.minhashCandidatesDf(docs))
      .select(col("doc_id"), col("comp"))

  /** The deduplicated corpus: one representative (minimum doc_id) per
    * near-dup cluster, all non-duplicated docs untouched. The membership
    * join is merge-hinted — the cluster table is corpus-derived and must
    * never be broadcast on a size estimate.
    */
  def dedup(docs: DataFrame): DataFrame =
    docs.join(dedupClusters(docs).hint("merge"), Seq("doc_id"), "left")
      .filter(col("comp").isNull || col("comp") === col("doc_id"))
      .drop("comp")

  /** Candidate pairs verified with exact n-gram Jaccard ≥ threshold. */
  def dedupVerified(docs: DataFrame, threshold: Double = 0.2): DataFrame =
    Dedup.dedupVerifyDf(docs, threshold)

  /** ONLINE near-dup candidates over a STREAMING doc frame: band-bucket
    * state keeps one exemplar per bucket (optional TTL = retention window)
    * and emits `(doc_id, dup_of, band_id)` edges as documents arrive. Feed
    * the edges to [[dedupVerified]]-style exact checks downstream. See
    * [[graft.streaming.DedupStream]].
    */
  def dedupStream(docs: DataFrame,
                  stateTtl: Option[String] = None): Dataset[graft.streaming.DedupStream.Candidate] = {
    import docs.sparkSession.implicits._
    graft.streaming.DedupStream.candidates(
      graft.streaming.DedupStream.bandRows(docs)
        .as[graft.streaming.DedupStream.BandRow], stateTtl)
  }

  /** [[dedupStream]] with the exact-Jaccard VERIFY stage composed in-stream:
    * edges leave already verified (≥ threshold, batch-parity jaccard), at
    * the price of per-bucket exemplar hash-set state. See
    * [[graft.streaming.DedupStream.verifiedCandidates]].
    */
  def dedupStreamVerified(docs: DataFrame, threshold: Double = 0.2,
                          stateTtl: Option[String] = None): Dataset[graft.streaming.DedupStream.Verified] = {
    import docs.sparkSession.implicits._
    graft.streaming.DedupStream.verifiedCandidates(
      graft.streaming.DedupStream.bandRowsWithSets(docs)
        .as[graft.streaming.DedupStream.BandRowV], threshold, stateTtl)
  }

  /** Online SEMANTIC near-dup judgment — batch SemDeDup's greedy, streamed:
    * nearest-centroid assignment against a static centroid broadcast, then
    * per-cluster exemplar state with the rounded-cosine drop predicate.
    * Row-for-row batch parity pinned by `SemDedupStreamSpec`. `vecs` is a
    * streaming (vec_id, v: array<double>) frame; `staticCorpus` supplies
    * the centroids (the batch rule: `nlist` lowest-id vectors).
    */
  def semDedupStream(vecs: DataFrame, staticCorpus: DataFrame, nlist: Int = 16,
                     tau: Double = 0.4, clusterCap: Int = 256,
                     stateTtl: Option[String] = None): Dataset[graft.streaming.SemDedupStream.Judged] = {
    import vecs.sparkSession.implicits._
    graft.streaming.SemDedupStream.judged(
      graft.streaming.SemDedupStream.assign(vecs,
        graft.streaming.SemDedupStream.centroids(staticCorpus, nlist))
        .as[graft.streaming.SemDedupStream.VecRow],
      tau, clusterCap, stateTtl)
  }

  /** Online MEDIA near-dup — images/audio deduped as the crawl lands,
    * completing the modality set (text [[dedupStreamVerified]], embeddings
    * [[semDedupStream]]): real-codec fingerprints per arriving row, Hamming
    * band buckets, and class-grain exemplar state that emits the batch
    * twins' lossless star factorization online (pair-for-pair parity with
    * `Multimodal.imagePhashPairs`/`audioFpPairs` pinned by
    * `MediaDedupStreamSpec`). `media` is a streaming
    * (doc_id, media: binary, media_type) frame of PNGs or WAVs.
    */
  def mediaDedupStream(media: Dataset[graft.ops.Multimodal.MediaRow],
                       image: Boolean = true, maxHamming: Int = 3,
                       stateTtl: Option[String] = None): Dataset[graft.streaming.DedupStream.FpEdge] = {
    val fps =
      if (image) graft.streaming.DedupStream.imageFingerprints(media)
      else graft.streaming.DedupStream.audioFingerprints(media)
    val banding =
      if (image) graft.streaming.DedupStream.ImageBanding
      else graft.streaming.DedupStream.AudioBanding
    graft.streaming.DedupStream.fpVerifiedPairs(
      graft.streaming.DedupStream.fpBandRows(fps, banding), maxHamming, stateTtl)
  }

  // ===== similarity (embeddings: (vec_id, embedding)) =====

  /** Brute-force cosine top-k neighbors of vector `queryId` (fused native
    * kernel, broadcast query row, TakeOrderedAndProject heap).
    */
  def similarTopK(embeddings: DataFrame, queryId: Long, k: Int = 10): DataFrame =
    Similarity.topKDf(embeddings, queryId, k)

  /** ANN top-k — one batched serve for Q query ids over a PQ `layout`
    * (one codes scan per batch, per-query top-k as a map-side-heap partial
    * aggregation, exact-cosine rerank); a single query is a batch of one.
    * Layouts: `Flat` (the persisted sampled codes artifact — build/refresh
    * it with [[graft.ops.Similarity.ensurePqCodes]] /
    * [[graft.ops.Similarity.refreshPqCodes]]), `Ivf`, `IvfTrained`,
    * `IvfResidual` (IVF-pruned artifacts) and `Opq` (inline permuted
    * encode). See [[graft.ops.Similarity.serve]].
    */
  def annTopK(spark: SparkSession, sfDir: String, queryIds: Seq[Long],
              k: Int = 10, layout: Similarity.Layout = Similarity.Flat): DataFrame =
    Similarity.serve(spark, sfDir, layout, queryIds, k)

  /** The ONLINE ANN endpoint: a streaming frame of `query_id`s, one batched
    * serve per micro-batch against the codes artifact, results under
    * `outDir/batch_id=<n>/` with exactly-once batch-keyed overwrite. See
    * [[graft.streaming.AnnServe]].
    */
  def annServe(spark: SparkSession, sfDir: String, queries: DataFrame,
               outDir: String, checkpointDir: String, k: Int = 10,
               layout: Similarity.Layout = Similarity.Flat)
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.streaming.AnnServe.serve(spark, sfDir, queries, outDir, checkpointDir,
      k, layout = layout)

  /** Recall@k scorecard for named serve layouts vs brute-force exact
    * cosine — (variant, query_id, hits, recall), oracle-checked. The
    * default scores flat PQ and the three IVF layouts; pass e.g.
    * `Seq("pq" -> Similarity.Flat, "opq" -> Similarity.Opq)` for the
    * permutation question alone. See [[graft.ops.Similarity.annRecall]].
    */
  def annRecall(spark: SparkSession, sfDir: String,
                queryIds: Seq[Long] = Seq(0L, 1L, 2L, 3L),
                layouts: Seq[(String, Similarity.Layout)] = Similarity.RecallLayouts)
      : DataFrame =
    Similarity.annRecall(spark, sfDir, queryIds, layouts = layouts)

  /** The nprobe calibration curve — (nprobe, query_id, hits, recall,
    * scanned) per grid point, both axes integer-exact and oracle-checked:
    * run on a sample, pick the cheapest nprobe meeting the recall target,
    * freeze it into the endpoint. See [[graft.ops.Similarity.ivfCalib]].
    */
  def annCalibrate(spark: SparkSession, sfDir: String,
                   queryIds: Seq[Long] = Seq(0L, 1L, 2L, 3L),
                   grid: Seq[Int] = Seq(1, 2, 4, 16)): DataFrame =
    Similarity.ivfCalib(spark, sfDir, queryIds, grid = grid)

  /** Codes-artifact maintenance: coalesce list partitions fragmented by
    * incremental refreshes (every standing artifact, stage-and-swap — a
    * concurrent reader sees old or new in full, never a torn mix;
    * `vacuum = false` retains superseded files for in-flight readers
    * until [[annVacuumCodes]]). Returns list partitions compacted. See
    * [[graft.ops.Similarity.compactPqCodes]].
    */
  def annCompactCodes(spark: SparkSession, sfDir: String,
                      maxFilesPerList: Int = 4, vacuum: Boolean = true): Long =
    Similarity.compactPqCodes(spark, sfDir, maxFilesPerList, vacuum)

  /** Reclaim files superseded by deferred-vacuum maintenance commits, per
    * registered codes layout. Default honors each artifact's standing
    * retention policy ([[annSetCodesRetention]]); an explicit `keepLast`
    * overrides it for this call. See
    * [[graft.ops.Similarity.vacuumPqCodes]].
    */
  def annVacuumCodes(spark: SparkSession, sfDir: String,
                     keepLast: Option[Int] = None): Map[String, Seq[String]] =
    Similarity.vacuumPqCodes(spark, sfDir, keepLast)

  /** Standing snapshot-retention policy for the codes layouts — how many
    * versions default vacuums (including compaction's in-call one) keep
    * time-travel readable; erasure ignores it by design. See
    * [[graft.ops.Similarity.setCodesRetention]].
    */
  def annSetCodesRetention(spark: SparkSession, sfDir: String,
                           keepLast: Int): Seq[String] =
    Similarity.setCodesRetention(spark, sfDir, keepLast)

  /** The retained snapshot commit log per registered codes layout —
    * (layout, kind, version, n_files, bytes). See
    * [[graft.ops.Similarity.codesHistory]].
    */
  def annCodesHistory(spark: SparkSession, sfDir: String): DataFrame =
    Similarity.codesHistory(spark, sfDir)

  /** Time-travel read of a codes layout at a pinned retained snapshot
    * version. See [[graft.ops.Similarity.readCodesAsOf]].
    */
  def annCodesAsOf(spark: SparkSession, sfDir: String, kind: String,
                   version: Int): DataFrame =
    Similarity.readCodesAsOf(spark, sfDir, kind, version)

  /** The measure→DECIDE step over [[annCalibrate]]'s curve: the cheapest
    * nprobe whose mean recall meets `recallTarget` (loud failure when the
    * grid never reaches it). One row: (nprobe, total_hits, mean_recall,
    * total_scanned). See [[graft.ops.Similarity.ivfChoose]].
    */
  def annChoose(spark: SparkSession, sfDir: String,
                recallTarget: Double = 0.8,
                queryIds: Seq[Long] = Seq(0L, 1L, 2L, 3L),
                grid: Seq[Int] = Seq(1, 2, 4, 16)): DataFrame =
    Similarity.ivfChoose(spark, sfDir, recallTarget, queryIds, grid = grid)

  /** The ONLINE INGEST loop — the other half of [[annServe]]'s duplex: the
    * corpus directory is watched as a streaming file source and every
    * micro-batch of newly landed embedding files triggers a delta-only,
    * snapshot-committed refresh of the named codes layouts. See
    * [[graft.streaming.AnnIngest]].
    */
  def annIngest(spark: SparkSession, sfDir: String, checkpointDir: String,
                layouts: Seq[String] = Seq(graft.ops.Similarity.CodesKind.Sampled),
                ledgerDir: Option[String] = None,
                maxFilesPerTrigger: Int = 16)
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.streaming.AnnIngest.ingest(spark, sfDir, checkpointDir, layouts,
      ledgerDir, maxFilesPerTrigger)

  /** The ingest growth ledger — (batch_id, layout, rows_added). See
    * [[graft.streaming.AnnIngest.ledger]].
    */
  def annIngestLedger(spark: SparkSession, ledgerDir: String): DataFrame =
    graft.streaming.AnnIngest.ledger(spark, ledgerDir)

  /** The served results' consumer view: the LATEST answer per query over
    * [[annServe]]'s batch-keyed output. See [[graft.streaming.AnnServe.latest]].
    */
  def annLatest(spark: SparkSession, outDir: String): DataFrame =
    graft.streaming.AnnServe.latest(spark, outDir)

  /** Retention over the served batch dirs — metadata-only, never drops a
    * batch still carrying some query's only answer; idempotent. See
    * [[graft.streaming.AnnServe.sweepServed]].
    */
  def annSweepServed(spark: SparkSession, outDir: String,
                     keepBatches: Int = 3): DataFrame =
    graft.streaming.AnnServe.sweepServed(spark, outDir, keepBatches)

  /** Sub-document boilerplate detection: content-defined chunking rollup —
    * (chunk_hash, n_copies, n_docs, chunk_len) for chunk content appearing
    * in ≥ 2 places. See [[Dedup.contentChunksDf]].
    */
  def sharedChunks(docs: DataFrame): DataFrame = Dedup.contentChunksDf(docs)

  // ===== bloom membership (build/probe + the streaming gate) =====

  /** Build a Bloom filter over a LONG key column (pre-hash strings with
    * `xxhash64`): one fixed bit array to the driver, partial-agg mergeable.
    * Probe with [[bloomMightContain]]; size with
    * [[graft.functions.Bloom.forExpected]].
    */
  def bloomBuild(df: DataFrame, key: Column,
                 p: graft.functions.Bloom.Params): Array[Long] = {
    import df.sparkSession.implicits._
    df.agg(graft.functions.Bloom.agg(p)(key)).as[Array[Long]].head()
  }

  /** Scan-level membership probe: false ⇒ DEFINITELY not in the built set
    * (no false negatives — the exact-composition contract), true ⇒ present
    * or the ~fpp sliver. Native codegen'd expression.
    */
  def bloomMightContain(key: Column, bits: Array[Long],
                        p: graft.functions.Bloom.Params): Column =
    graft.functions.Bloom.mightContain(key, bits, p)

  /** Streaming constant-state novelty gate: tag each arriving document
    * definitely_new (exact) or maybe_seen (route ONLY these into the exact
    * dedup stream). State = 2^shardBits fixed per-shard filters, forever.
    * `p` sizes ONE shard. For UNBOUNDED key flow pass a
    * [[graft.streaming.BloomNovelty.Rotation]] (and size `p` with
    * [[graft.functions.Bloom.forRotation]]): generations rotate at sized
    * capacity so the realized fpp never climbs past the ask — no false
    * negatives within the retention window, state still constant. See
    * [[graft.streaming.BloomNovelty]].
    */
  def noveltyGate(docs: DataFrame, p: graft.functions.Bloom.Params,
                  shardBits: Int = 8,
                  rot: graft.streaming.BloomNovelty.Rotation =
                    graft.streaming.BloomNovelty.Rotation.none)
      : Dataset[graft.streaming.BloomNovelty.Tagged] =
    graft.streaming.BloomNovelty.tagged(
      graft.streaming.BloomNovelty.keyed(docs, shardBits), p, rot)

  // ===== CDC (column functions + streaming source) =====

  /** RFC 7386 JSON merge patch from `newDoc` to `oldDoc` (the reference's
    * `changes` field direction) — native codegen'd expression.
    */
  def mergePatch(newDoc: Column, oldDoc: Column): Column =
    graft.functions.MergePatch.json_merge_patch(newDoc, oldDoc)

  /** Streaming CDC feed over any table with a monotone id column: one row
    * per captured change, exactly-once w.r.t. the checkpoint. See
    * [[graft.streaming.CdcSource]] for offsets/rescan semantics.
    */
  def cdcStream(spark: SparkSession, jdbcUrl: String, table: String,
                numPartitions: Int = 4): DataFrame =
    spark.readStream.format("graft.streaming.CdcSourceProvider")
      .option("jdbcUrl", jdbcUrl).option("jdbcTable", table)
      .option("numPartitions", numPartitions.toString).load()

  /** Stateful prev-image enrichment: each change becomes a full CDC event
    * (op, payload, previous, RFC 7386 changes) keyed on user_id.
    */
  def withPrevImages(changes: Dataset[CdcStream.RawChange]): Dataset[CdcStream.CdcEvent] =
    CdcStream.withPrevState(changes)

  /** Millisecond-class live tail (measured p50 1 ms commit→sink,
    * BASELINE.md r7): a diff-free subscriber view — (event_id, ts, jsonpb
    * Event envelope) — wired for `Trigger.Continuous`. Start it with
    * {{{
    * Graft.liveTail(spark, url, "events")
    *   .select(lit("events").as("table"), col("event")) // the (table, event) wire shape
    *   .writeStream.foreach(ListenSink.continuousWriter(host, port))
    *   .trigger(Trigger.Continuous("5 seconds")).start()
    * }}}
    * ([[graft.streaming.ListenSink.continuousWriter]] reads rows as
    * (table, event) strings — the select is the adapter between the tail's
    * (event_id, ts, event) probe shape and the wire.)
    * Delivery is at-least-once at epoch grain; only projections/filters may
    * be added on top (Spark's continuous-mode restriction). Subscribers
    * that need `previous`/`changes` use [[cdcStream]] + [[withPrevImages]]
    * on a micro-batch trigger instead.
    */
  def liveTail(spark: SparkSession, jdbcUrl: String, table: String,
               redactions: graft.cdc.Redactions.FieldRedactions = Map.empty,
               pollMs: Int = 2): DataFrame = {
    import spark.implicits._
    CdcStream.statelessEvents(
      spark.readStream.format("graft.streaming.CdcSourceProvider")
        .option("jdbcUrl", jdbcUrl).option("jdbcTable", table)
        .option("continuousPollMs", pollMs.toString).load()
        .as[CdcStream.RawChange],
      redactions, table = table)
  }

  /** Batch BOOTSTRAP → stream handoff — the day-one problem of every CDC
    * deployment: the table already holds history, and "subscribe from
    * now" loses it while "replay the log from id 0" may be impossible
    * (the log is the table; there is no separate retained log). One call
    * returns both halves of the standard answer:
    *
    *  - `snapshot`: a PARTITIONED batch read of everything up to the
    *    cutoff (`MAX(event_id)` at call time) — `numPartitions` parallel
    *    range scans, the plain Spark JDBC partitioning path, so a
    *    billion-row backfill is a normal batch job with a normal plan;
    *  - `tail`: the streaming source starting exactly AFTER the cutoff
    *    (`startAfterId` — the same resume handle checkpoint migration
    *    uses), so batch and stream compose to exactly-once over the
    *    table's whole lifetime: every id ≤ cutoff in the snapshot, every
    *    id > cutoff in the stream, no seam.
    *
    * Visibility caveat (the same monotone-id assumption as
    * `rescanWindow = 0`): a transaction holding an id ≤ cutoff that
    * COMMITS after the snapshot read is visible to neither half. For
    * multi-writer logs pass `overlap > 0`: the tail then starts at
    * `cutoff − overlap`, redelivering the boundary window (at-least-once
    * there — compose with [[CdcStream.dedupeReplays]], or an idempotent
    * sink keyed on event_id, to restore exactly-once).
    */
  def bootstrap(spark: SparkSession, jdbcUrl: String, table: String,
                numPartitions: Int = 4, overlap: Long = 0L,
                maxIdsPerTrigger: Long = 0L): (DataFrame, DataFrame) = {
    require(graft.streaming.JdbcFeed.isSafeIdent(table), s"unsafe table identifier: $table")
    require(overlap >= 0L, s"overlap must be >= 0, got $overlap")
    val cutoff = new graft.streaming.JdbcFeed(jdbcUrl, table).latestId()
    val snapshot =
      if (cutoff < 0L) // empty table: nothing to backfill
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          graft.streaming.CdcSource.schema)
      else spark.read.format("jdbc")
        .option("url", jdbcUrl)
        .option("dbtable",
          s"(SELECT event_id, ts, user_id, event_type, props FROM $table" +
            s" WHERE event_id <= $cutoff) snap")
        .option("partitionColumn", "event_id")
        .option("lowerBound", "0")
        .option("upperBound", math.max(cutoff, 1L).toString)
        .option("numPartitions", numPartitions.toString)
        .load()
    val tail = spark.readStream.format("graft.streaming.CdcSourceProvider")
      .option("jdbcUrl", jdbcUrl).option("jdbcTable", table)
      .option("numPartitions", numPartitions.toString)
      .option("startAfterId", math.max(cutoff - overlap, -1L).toString)
      .option("maxIdsPerTrigger", maxIdsPerTrigger.toString)
      .load()
    (snapshot, tail)
  }

  /** Day-one CDC for a table of ANY shape — [[bootstrap]]'s schema-generic
    * sibling, built from the machinery the generic path already has
    * instead of a typed JDBC snapshot read: the backfill IS the generic
    * capture under `Trigger.AvailableNow` (history drained to the tail
    * recorded at start, in admission-capped bites, through the SAME
    * RowJson serializer as live capture — so snapshot payloads and tail
    * payloads are byte-compatible BY CONSTRUCTION, where a separate typed
    * read would re-implement the serialization and drift), landed as
    * parquet at `snapshotPath`; the returned live tail starts exactly
    * after the drained offset (read back from the drain's own checkpoint
    * commit — the [[graft.streaming.StateMigration.committedOffset]]
    * handoff), so the table's lifetime is exactly-once end to end with no
    * seam. Returns (snapshot DataFrame re-read from parquet, live tail).
    */
  def bootstrapGeneric(spark: SparkSession, jdbcUrl: String, table: String,
                       idColumn: String, snapshotPath: String,
                       checkpointPath: String, numPartitions: Int = 4,
                       maxIdsPerTrigger: Long = 0L,
                       maxBytesPerTrigger: Long = 0L): (DataFrame, DataFrame) = {
    def reader = spark.readStream.format("graft.streaming.CdcSourceProvider")
      .option("jdbcUrl", jdbcUrl).option("jdbcTable", table)
      .option("capture", "generic").option("idColumn", idColumn)
      .option("numPartitions", numPartitions.toString)
      .option("maxIdsPerTrigger", maxIdsPerTrigger.toString)
      .option("maxBytesPerTrigger", maxBytesPerTrigger.toString)
    val drain = reader.load()
      .writeStream.format("parquet").option("path", snapshotPath)
      .option("checkpointLocation", checkpointPath)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .outputMode("append").start()
    drain.awaitTermination()
    val cutoff = graft.streaming.StateMigration.committedOffset(spark, checkpointPath)
    val tail = reader.option("startAfterId", cutoff.toString).load()
    (spark.read.parquet(snapshotPath), tail)
  }

  /** Online schema-drift alerts over a dynamic-JSON payload stream: one
    * alert per novel (group, key) pair, on the micro-batch where it first
    * lands — the operational form of the batch key census
    * (`cdc_key_first_seen`; replay-pinned equal in `SchemaDriftSpec`).
    * `stream` needs (group, event_id, doc) columns — e.g.
    * `cdcStream(...).select(lit("events").as("group"), col("event_id"),
    * col("props").as("doc"))`.
    */
  def schemaDriftAlerts(stream: DataFrame, stateTtl: Option[String] = None)
      : Dataset[graft.streaming.SchemaDrift.KeyAlert] =
    graft.streaming.SchemaDrift.alerts(
      graft.streaming.SchemaDrift.keyRows(stream), stateTtl)

  /** Online corpus-novelty monitor over a streaming frame with (group,
    * content) columns: per micro-batch and group, the estimated all-time
    * distinct before/after and the novel delta — k longs of state per
    * group forever ([[graft.streaming.WindowSketches.kmvNovelty]]; feed
    * `est_novel` to [[graft.streaming.WindowSketches.cusumAlerts]] via
    * `noveltySeries` to page on novelty collapse).
    */
  def noveltyMonitor(stream: DataFrame, groupCol: String = "group",
                     contentCol: String = "text")
      : Dataset[graft.streaming.WindowSketches.NoveltyPoint] = {
    val spark = stream.sparkSession
    import spark.implicits._
    graft.streaming.WindowSketches.kmvNovelty(
      stream.select(col(groupCol).cast("string").as("group"),
        xxhash64(col(contentCol)).as("h"))
        .as[graft.streaming.WindowSketches.HashRow])
  }

  /** Integer-logit quality gate over a documents frame: (doc_id,
    * logit_micro, keep) under the published fixed weights — bit-exact at
    * any parallelism, one narrow scan
    * ([[graft.ops.TextStats.qualityLogit]] / the trained loop in
    * [[graft.ops.QualityModel]]).
    */
  def qualityGate(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.TextStats.qualityLogit(spark, sfDir)

  /** The quality-gate yield curve and its decision: the highest distilled
    * threshold meeting a yield floor, read off the hash-gated curve —
    * the `annChoose` discipline for the curation knob. See
    * [[graft.ops.Curation.qualityCurve]] / [[graft.ops.Curation.qualityChoose]].
    */
  def qualityChoose(spark: SparkSession, sfDir: String,
                    yieldTargetPermille: Long = 500L): DataFrame =
    graft.ops.Curation.qualityChoose(spark, sfDir, yieldTargetPermille)

  /** The MEASURED training-prep pipeline: gate at the chosen quality
    * threshold, dedup, mix at the water-filled rates of the CLEANED
    * inventory, pack — every knob chosen by measurement, the whole
    * composition (decisions included) behind one hash gate. See
    * [[graft.ops.Curation.trainPrepMeasured]].
    */
  def trainPrepMeasured(spark: SparkSession, sfDir: String,
                        yieldTargetPermille: Long = 300L): DataFrame =
    graft.ops.Curation.trainPrepMeasured(spark, sfDir, yieldTargetPermille)

  /** Feasible-mix solver: the largest corpus achievable at the target
    * domain weights without repeating data (epochs ≤ 1), water-filled
    * from the binding domain — per-domain takes and sampling rates, all
    * exact integers. See [[graft.ops.Curation.mixSolve]].
    */
  def mixSolve(spark: SparkSession, sfDir: String,
               weights: Seq[(String, Long)] =
                 graft.ops.Curation.MixWeightsPermille): DataFrame =
    graft.ops.Curation.mixSolve(spark, sfDir, weights)

  /** GDPR erasure against a (day, op) archive: remove the entities'
    * history (only affected partitions rewritten, null keys survive,
    * tombstones block replay resurrection) and return the per-(user,
    * day) audit ([[graft.sources.Layout.eraseEntities]]).
    */
  def erase(spark: SparkSession, archivePath: String, userIds: Seq[Long]): DataFrame =
    graft.sources.Layout.eraseEntities(spark, archivePath, userIds)

  /** Hot-key promotion, both halves: advise with the `cdc_key_promotion`
    * census, then materialize advisor rows into typed columns
    * ([[graft.cdc.Promotion.materialize]]).
    */
  def promoteKeys(docs: DataFrame, docCol: String,
                  keys: Seq[(String, String)]): DataFrame =
    graft.cdc.Promotion.materialize(docs, docCol, keys)

  /** Wire-ready `pqs.Event` protobuf frames from the jsonpb envelope
    * columns ([[graft.streaming.ProtoWire.eventFrames]]); decode a
    * pqstream feed with [[graft.streaming.ProtoWire.decodeEvent]].
    */
  def protoFrames(envelope: DataFrame): Dataset[Array[Byte]] =
    graft.streaming.ProtoWire.eventFrames(envelope)

  /** ENCODE-ONCE proto frame as a codegen'd pipeline column (varint-framed
    * base64) — ship as the Listen ingest line's third field so N proto
    * subscribers fan out one shared encode
    * ([[graft.streaming.ProtoWire.eventFrames]], the Column overload).
    */
  def protoFrameColumn(schema: Column, table: Column, op: Column, id: Column,
                       payload: Column, changes: Column): Column =
    graft.streaming.ProtoWire.eventFrames(schema, table, op, id, payload, changes)

  /** The archive's recorded erasure set (user → cutoff event id) — feeds
    * `CdcStream.withPrevStateTws(ds, erased)` (in-place targeted key removal
    * on an existing transformWithState checkpoint) and the offline
    * rewrites in [[graft.streaming.StateErasure]]; see that object for
    * the complete erase-to-durable-state recipe both stateful APIs get.
    */
  def erasureSet(spark: SparkSession, archivePath: String): Map[Long, Long] =
    graft.streaming.StateErasure.erasureSet(spark, archivePath)

  /** ONE-CALL entity erasure across the archive and EVERY configured
    * durable state store, with a completeness report — archive erase →
    * tombstone/erasure-set publication → sentinel insertion through the
    * real feed → per-store recipe dispatch (in-place transformWithState;
    * offline rewrites for classic/generic; fingerprint-store filters) →
    * a verification pass reading every target. Returns one row per
    * target: (store, found_before, found_after); all-zero `found_after`
    * is the done signal, and a re-call is a no-op reporting (0, 0).
    * Store constructors: [[graft.streaming.EraseEverywhere.TwsInPlace]],
    * `ClassicOffline`, `GenericOffline`, `DedupBuckets`, `MediaDedup`,
    * `SemDedup`, `PqCodes` (the persisted PQ codes artifact —
    * partition-scoped rewrite), `BloomGate` (hash-only novelty gate:
    * zero census, stated posture) — see
    * [[graft.streaming.EraseEverywhere]] for each recipe's contract.
    */
  /** NON-MUTATING per-(store, user) preview of [[eraseEverywhere]] — the
    * compliance "what would this request find, where" before the
    * destructive call. One (store, user_id, found, posture) row per store
    * × requested user, counts exactly the destructive form's
    * before-census; nothing written. `posture` states each store's
    * attribution contract — "attributable" for erasable stores, and the
    * explicit no-attributable-state note for hash-only gates
    * ([[graft.streaming.EraseEverywhere.BloomGate]]), so a configured gate
    * appears in the census instead of being silently absent.
    * Multi-archive twin: [[erasurePreviewMultiArchive]].
    */
  def erasurePreview(spark: SparkSession, archivePath: String,
                     userIds: Seq[Long],
                     stores: Seq[graft.streaming.EraseEverywhere.Store]): DataFrame =
    graft.streaming.EraseEverywhere.preview(spark, archivePath, userIds, stores)

  def erasurePreviewMultiArchive(spark: SparkSession,
                                 archives: Map[String, String],
                                 userIds: Seq[Long],
                                 stores: Seq[graft.streaming.EraseEverywhere.ByTableStore]): DataFrame =
    graft.streaming.EraseEverywhere.previewMultiArchive(spark, archives, userIds, stores)

  def eraseEverywhere(spark: SparkSession, archivePath: String,
                      userIds: Seq[Long],
                      stores: Seq[graft.streaming.EraseEverywhere.Store],
                      liveFeeds: Seq[(String, String)] = Seq.empty): DataFrame =
    graft.streaming.EraseEverywhere.run(spark, archivePath, userIds, stores,
      liveFeeds)

  /** [[eraseEverywhere]] for MULTI-ARCHIVE deployments (one archive per
    * captured table, per-table id spaces independent): cutoffs are
    * published per (table, user) so a tombstone from one table's archive
    * never resurrects data in — or blocks the entity's future rows from —
    * another table's id space. Store constructor:
    * [[graft.streaming.EraseEverywhere.TwsInPlacePerTable]]; see
    * [[graft.streaming.EraseEverywhere.runMultiArchive]] for the contract.
    */
  def eraseEverywhereMultiArchive(spark: SparkSession,
                                  archives: Map[String, String],
                                  userIds: Seq[Long],
                                  stores: Seq[graft.streaming.EraseEverywhere.ByTableStore],
                                  liveFeeds: Seq[(String, String)] = Seq.empty): DataFrame =
    graft.streaming.EraseEverywhere.runMultiArchive(spark, archives, userIds,
      stores, liveFeeds = liveFeeds)._1
}
