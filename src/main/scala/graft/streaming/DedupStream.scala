package graft.streaming

import graft.ops.{Dedup, Hashing}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupState

/** ONLINE near-duplicate detection — the streaming face of the MinHash/LSH
  * dedup family: documents arrive on a stream, and each is judged against
  * the ENTIRE history seen so far, in one pass, with state bounded by the
  * number of distinct band buckets (not documents²).
  *
  * This is the production shape of "dedup the crawl as it lands" (the batch
  * analog is [[graft.ops.Dedup.incrementalDedupDf]], which probes a static
  * corpus index): no nightly re-scan of the corpus, no candidate self-join —
  * a new document shuffles to its `b` band buckets and compares against one
  * stored exemplar per bucket.
  *
  *  - Signatures are computed IN-ROW (`array_min` over the permuted shingle
  *    hashes — no per-document groupBy on the hot path, unlike the batch
  *    [[Dedup.minhashSignatures]] whose exploded-shingle aggregation shape
  *    is the right call when the corpus is at rest). `DedupStreamSpec` pins
  *    the two signature paths equal row-for-row.
  *  - State per bucket = the FIRST document id that exhibited the band
  *    signature (first-writer-wins, deterministic min-id within a
  *    micro-batch). Later arrivals emit a `(doc_id, dup_of, band_id)`
  *    CANDIDATE edge — a star around the exemplar, exactly the
  *    candidate→verify contract of the batch family: downstream either
  *    exact-verifies (Jaccard/edit distance) or trusts the banding S-curve
  *    ([[Dedup.tunedRowsPerBand]] derives the config from a target, and the
  *    same derivation applies here).
  *  - At-least-once candidates by construction (a doc in `b` buckets can
  *    emit up to `b` edges; replays re-emit) — correct for dedup, where the
  *    verify stage is idempotent. State TTL is the retention knob: a
  *    `stateTtl` evicts exemplars the business no longer dedups against
  *    (e.g. "only dedup within a 30-day crawl window"), keeping the store
  *    proportional to the ACTIVE bucket population.
  *
  * 100 TB posture: the only shuffle is the groupByKey on the band key —
  * identical key-hash partitioning to the batch band join; bucket state is
  * one long per key; skewed buckets (boilerplate bands) concentrate writes
  * but state stays one exemplar regardless of bucket popularity.
  */
object DedupStream {

  case class Doc(doc_id: Long, text: String)
  case class BandRow(key: String, doc_id: Long, band_id: Int)
  case class Candidate(doc_id: Long, dup_of: Long, band_id: Int)

  /** Band row carrying the doc's sorted distinct shingle-hash set — the
    * payload the VERIFY stage needs ([[BandRow]] plus `hs`).
    */
  case class BandRowV(key: String, doc_id: Long, band_id: Int, hs: Seq[Long])
  case class Exemplar(doc_id: Long, hs: Seq[Long])
  case class Verified(doc_id: Long, dup_of: Long, band_id: Int, jaccard: Double)

  /** In-row MinHash band rows for streaming documents: shingle → permuted
    * min per hash → band signature strings, all inside whole-stage codegen;
    * one output row per (doc, band). Documents too short to shingle pass
    * through with zero rows (they can never band-collide — the batch family
    * filters them identically).
    */
  def bandRows(docs: DataFrame, numHashes: Int = Dedup.DefaultNumHashes,
               rowsPerBand: Int = 2): DataFrame = {
    val numBands = numHashes / rowsPerBand
    val sh = Dedup.shingleArray(col("text"))
    val perms = Hashing.permutations(numHashes)
    val mins = perms.zipWithIndex.map { case ((a, b), j) =>
      array_min(transform(col("sh"),
        s => (Hashing.h60modP(s) * a + b) % Hashing.P)).as(s"m$j")
    }
    val sig = docs
      .withColumn("sh", sh)
      .filter(size(col("sh")) >= 1)
      .select(col("doc_id") +: mins: _*)
    val bands = (0 until numBands).map { b =>
      val parts = (0 until rowsPerBand).map(r => col(s"m${b * rowsPerBand + r}").cast("string"))
      struct(lit(b).as("band_id"),
        concat_ws("-", lit(b.toString) +: parts: _*).as("key"))
    }
    sig.select(col("doc_id"), explode(array(bands: _*)).as("band"))
      .select(col("band.key").as("key"), col("doc_id"), col("band.band_id").as("band_id"))
  }

  /** [[bandRows]] plus the per-doc sorted distinct shingle-hash set carried
    * in-row — the payload the composed candidate→VERIFY stage needs. The
    * set is EXACTLY the batch verify stage's per-doc table
    * ([[Dedup.dedupVerifyDf]]'s `sort_array(collect_set(h60(shingle)))`),
    * built here as one in-row projection so the stream stays a single
    * narrow pass into the band shuffle.
    */
  def bandRowsWithSets(docs: DataFrame, numHashes: Int = Dedup.DefaultNumHashes,
                       rowsPerBand: Int = 2): DataFrame = {
    val numBands = numHashes / rowsPerBand
    val sh = Dedup.shingleArray(col("text"))
    val perms = Hashing.permutations(numHashes)
    val mins = perms.zipWithIndex.map { case ((a, b), j) =>
      array_min(transform(col("sh"),
        s => (Hashing.h60modP(s) * a + b) % Hashing.P)).as(s"m$j")
    }
    val sig = docs
      .withColumn("sh", sh)
      .filter(size(col("sh")) >= 1)
      .withColumn("hs",
        sort_array(array_distinct(transform(col("sh"), s => Hashing.h60(s)))))
      .select(col("doc_id") +: col("hs") +: mins: _*)
    val bands = (0 until numBands).map { b =>
      val parts = (0 until rowsPerBand).map(r => col(s"m${b * rowsPerBand + r}").cast("string"))
      struct(lit(b).as("band_id"),
        concat_ws("-", lit(b.toString) +: parts: _*).as("key"))
    }
    sig.select(col("doc_id"), col("hs"), explode(array(bands: _*)).as("band"))
      .select(col("band.key").as("key"), col("doc_id"),
        col("band.band_id").as("band_id"), col("hs"))
  }

  /** The composed candidate→VERIFY pipeline in ONE stateful stage: bucket
    * state holds the exemplar's (doc_id, shingle-hash set), and every later
    * arrival is exact-Jaccard-verified against it IN the state handler —
    * no second corpus join, no separate verify job. Emitted edges are
    * exactly the batch contract's verified pairs restricted to the star
    * around each bucket exemplar ([[Candidate]]'s shape with the batch
    * [[Dedup.dedupVerifyDf]] jaccard attached, same unrounded-threshold /
    * round-6-output discipline — `DedupStreamSpec` pins edge-for-edge
    * equality against the batch stage on a replayed corpus).
    *
    * The retention trade vs [[candidates]]: bucket state grows from one
    * long to one doc's hash set (the batch verify stage's per-doc row — KB
    * not bytes), in exchange for candidates leaving the stream already
    * verified. The same `stateTtl` eviction bounds the store; at-least-once
    * edges as before (verification is idempotent).
    */
  def verifiedCandidates(bands: Dataset[BandRowV], threshold: Double = 0.2,
                         stateTtl: Option[String] = None): Dataset[Verified] = {
    import bands.sparkSession.implicits._
    KeyedState.classic(bands.groupByKey(_.key), stateTtl, None)(
      (_: String, rows: Iterator[BandRowV], state: GroupState[Exemplar]) =>
        onBucketVerified(rows, state, stateTtl, threshold))
  }

  /** Per-bucket transition of the verified path — same TTL discipline as
    * [[onBucket]]; the jaccard math mirrors [[Dedup.dedupVerifyDf]] exactly
    * (distinct-set intersection over union, threshold on the UNROUNDED
    * value, HALF_UP round-6 on the output).
    */
  private[graft] def onBucketVerified(rows: Iterator[BandRowV],
                                      state: GroupState[Exemplar],
                                      stateTtl: Option[String],
                                      threshold: Double): Iterator[Verified] =
    if (state.hasTimedOut) { state.remove(); Iterator.empty }
    else {
      // O(n) min scan, not a sort — see onBucket
      val rs = rows.toSeq
      val ex = if (state.exists) state.get else {
        val m = rs.minBy(_.doc_id)
        val e = Exemplar(m.doc_id, m.hs)
        state.update(e)
        e
      }
      stateTtl.foreach(state.setTimeoutDuration)
      val exSet = ex.hs.toSet
      rs.iterator
        .filter(_.doc_id != ex.doc_id)
        .flatMap { r =>
          val inter = r.hs.count(exSet.contains)
          val j = inter.toDouble / (r.hs.size + ex.hs.size - inter).toDouble
          if (j >= threshold)
            // BigDecimal.valueOf (the Double.toString path) — the same
            // conversion Spark's Round uses for doubles; the raw binary
            // `new BigDecimal(double)` constructor can round differently
            Some(Verified(r.doc_id, ex.doc_id, r.band_id,
              java.math.BigDecimal.valueOf(j)
                .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()))
          else None
        }
    }

  // ===== media modality: fingerprint streams through the SAME machinery =====
  // "Dedup the crawl as it lands" for images/audio: the batch side
  // ([[graft.ops.Multimodal.imagePhashPairs]] / [[Multimodal.audioFpPairs]])
  // is real-codec fingerprint -> Hamming banding; the streaming side runs
  // the identical fingerprint kernels per arriving row (the codec pass is a
  // narrow mapPartitions — exactly as batch) and reuses the bucket-exemplar
  // state machine above. Media state is CHEAPER than the text verify stage:
  // the exemplar carries one 64-bit fingerprint instead of a shingle-hash
  // set, and verification in the handler is one XOR+popcount — so the
  // verified edge stream costs what the text path's candidates-only mode
  // costs. Like the batch twins, candidates are generated by pigeonhole
  // banding (any pair within `maxHamming` shares >= 1 full band), so a
  // near-dup of a bucket exemplar is never missed at the threshold.

  case class FpRow(doc_id: Long, fp: Long)
  case class FpBandRow(key: String, doc_id: Long, band_id: Int, fp: Long)
  case class FpExemplar(doc_id: Long, fp: Long)
  case class FpEdge(doc_id: Long, dup_of: Long, band_id: Int, hamming: Long)

  /** A modality's Hamming banding: fingerprint width, bits per band, and a
    * key prefix so image and audio buckets can share one state store
    * without colliding. The configs mirror the batch pair generators
    * bit-for-bit (image: 56-bit dHash in 4x14; audio: 31-bit energy
    * envelope in 8+8+8+7).
    */
  final case class FpBanding(nBits: Int, bandBits: Int, prefix: String) {
    def numBands: Int = (nBits + bandBits - 1) / bandBits
  }
  val ImageBanding: FpBanding = FpBanding(56, 14, "img")
  val AudioBanding: FpBanding = FpBanding(31, 8, "aud")

  /** Streaming fingerprint stage, image: the REAL PNG codec kernel
    * ([[graft.ops.Multimodal.pngPhash]]) per arriving media row — identical
    * bits to the batch fingerprint table by construction (same function).
    */
  def imageFingerprints(media: Dataset[graft.ops.Multimodal.MediaRow]): Dataset[FpRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions(graft.ops.Multimodal.pngPhash)
      .map(r => FpRow(r.doc_id, r.phash))
  }

  /** Streaming fingerprint stage, audio: the REAL WAV codec kernel
    * ([[graft.ops.Multimodal.wavFingerprint]]).
    */
  def audioFingerprints(media: Dataset[graft.ops.Multimodal.MediaRow]): Dataset[FpRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions(graft.ops.Multimodal.wavFingerprint)
      .map(r => FpRow(r.doc_id, r.afp))
  }

  /** Hamming band rows for a fingerprint stream — one narrow codegen'd
    * projection (shift/mask/concat), one row per (doc, band), feeding the
    * band-key shuffle exactly like [[bandRows]] does for text.
    */
  def fpBandRows(fps: Dataset[FpRow], banding: FpBanding): Dataset[FpBandRow] = {
    import fps.sparkSession.implicits._
    val mask = (1L << banding.bandBits) - 1
    val bands = (0 until banding.numBands).map { b =>
      struct(lit(b).as("band_id"),
        concat_ws("-", lit(banding.prefix), lit(b.toString),
          shiftright(col("fp"), b * banding.bandBits).bitwiseAND(mask).cast("string"))
          .as("key"))
    }
    fps.toDF().select(col("doc_id"), col("fp"), explode(array(bands: _*)).as("band"))
      .select(col("band.key").as("key"), col("doc_id"),
        col("band.band_id").as("band_id"), col("fp"))
      .as[FpBandRow]
  }

  case class FpBucketState(exemplars: Seq[FpExemplar])

  /** The media candidate→verify stage in ONE stateful pass, producing the
    * batch twins' LOSSLESS STAR FACTORIZATION online. Bucket state is the
    * list of distinct fingerprints seen in the bucket (one 16-byte entry
    * per fingerprint CLASS — the r7 class-grain design rule applied to
    * state: a viral image with 10^6 copies costs one entry, because exact
    * dups match an exemplar at Hamming 0 and never join the list). An
    * arriving row is XOR+popcount-verified against each stored exemplar:
    *
    *  - exact match (h = 0): emit ONLY the within-class edge to the class
    *    rep — the member's other relations are implied via its rep,
    *    exactly the batch factorization's within star;
    *  - novel fingerprint: emit a verified edge per stored exemplar within
    *    `maxHamming` (the batch's rep-level class pairs) and join the list.
    *
    * On an id-ordered replay this reproduces [[graft.ops.Multimodal
    * .imagePhashPairs]]/`audioFpPairs` pair-for-pair (the parity spec pins
    * set equality, hamming included). Exemplar-per-class (vs the text
    * stages' single exemplar) is what makes the guarantee hold: a far
    * fingerprint that happens to share a band can never occlude a later
    * near-dup's true partner. `bucketCap` bounds the state row for
    * degenerate buckets — beyond it new fingerprints still verify against
    * the stored set (edges keep flowing) but stop enrolling, the streaming
    * analog of the batch star fallback. At-least-once per band (a pair
    * sharing k bands emits k copies — identical hamming, idempotent
    * downstream); same TTL retention knob as the text stages. `initial`
    * seeds MIGRATED bucket state ([[StateMigration.readMediaDedupState]]) —
    * relocating the media exemplar store keeps its class history, same
    * rationale as [[candidates]].
    */
  def fpVerifiedPairs(bands: Dataset[FpBandRow], maxHamming: Int = 3,
                      stateTtl: Option[String] = None,
                      bucketCap: Int = 10000,
                      initial: Option[Dataset[(String, FpBucketState)]] = None)
      : Dataset[FpEdge] = {
    import bands.sparkSession.implicits._
    KeyedState.classic(bands.groupByKey(_.key), stateTtl, initial)(
      (_: String, rows: Iterator[FpBandRow], state: GroupState[FpBucketState]) =>
        onFpBucket(rows, state, stateTtl, maxHamming, bucketCap))
  }

  /** Per-bucket transition of the media path — [[onBucket]]'s TTL
    * discipline (no re-arm on expiry) with class-grain exemplar enrollment
    * and the in-handler Hamming verify. Rows are processed in doc_id order
    * for within-micro-batch determinism (min id claims each class, like
    * the batch `min(doc_id)` rep).
    */
  private[graft] def onFpBucket(rows: Iterator[FpBandRow],
                                state: GroupState[FpBucketState],
                                stateTtl: Option[String],
                                maxHamming: Int,
                                bucketCap: Int): Iterator[FpEdge] =
    if (state.hasTimedOut) { state.remove(); Iterator.empty }
    else {
      val rs = rows.toSeq.sortBy(_.doc_id)
      var exs = (if (state.exists) state.get.exemplars else Seq.empty).toVector
      // O(1) exact-dup probe: exact matches are the DOMINANT arrival mode
      // (every copy of a viral asset lands here), so class membership must
      // not pay a linear sweep per row — one fp→rep hash map, built once
      // per (bucket, batch) and maintained as classes enroll, makes the
      // hot path O(batch) instead of O(batch × classes). The linear sweep
      // below survives only where it is irreducible: a NOVEL fingerprint's
      // Hamming verify genuinely compares against every stored class.
      var reps = exs.iterator.map(e => e.fp -> e.doc_id).toMap
      val enrolled = exs.size
      val out = Vector.newBuilder[FpEdge]
      rs.foreach { r =>
        reps.get(r.fp) match {
          case Some(repId) => // exact dup: the within-class star edge only
            if (repId != r.doc_id)
              out += FpEdge(r.doc_id, repId, r.band_id, 0L)
          case None => // novel class: rep-level pairs + enrollment
            exs.foreach { e =>
              val h = java.lang.Long.bitCount(r.fp ^ e.fp).toLong
              if (h <= maxHamming) out += FpEdge(r.doc_id, e.doc_id, r.band_id, h)
            }
            if (exs.size < bucketCap) {
              exs = exs :+ FpExemplar(r.doc_id, r.fp)
              reps = reps.updated(r.fp, r.doc_id)
            }
        }
      }
      if (exs.size != enrolled) state.update(FpBucketState(exs))
      stateTtl.foreach(state.setTimeoutDuration)
      out.result().iterator
    }

  /** First-writer-wins bucket state over the band-row stream. `initial`
    * seeds a fresh checkpoint with MIGRATED bucket-exemplar state
    * ([[StateMigration.readDedupBucketState]]): relocating a long-lived
    * dedup store keeps its exemplar history, so the new query keeps
    * flagging against the SAME exemplars instead of re-claiming buckets
    * (which would silently re-admit every historical near-dup whose
    * exemplar evicted).
    */
  def candidates(bands: Dataset[BandRow],
                 stateTtl: Option[String] = None,
                 initial: Option[Dataset[(String, Long)]] = None): Dataset[Candidate] = {
    import bands.sparkSession.implicits._
    KeyedState.classic(bands.groupByKey(_.key), stateTtl, initial)(
      (_: String, rows: Iterator[BandRow], state: GroupState[Long]) =>
        onBucket(rows, state, stateTtl))
  }

  /** The per-bucket state transition, factored out so the TTL paths are
    * unit-testable with `TestGroupState` — a live ProcessingTimeTimeout
    * query runs micro-batches continuously to evaluate timers, so a
    * wall-clock eviction test is nondeterministic by construction.
    */
  private[graft] def onBucket(rows: Iterator[BandRow], state: GroupState[Long],
                              stateTtl: Option[String]): Iterator[Candidate] =
    // TTL expiry fires the handler with an EMPTY iterator — remove and do
    // NOT re-arm: re-arming a timed-out key writes the entry back and it
    // re-fires forever, so the store never shrinks (the same trap
    // documented at CdcStream's classic prev-image fold)
    if (state.hasTimedOut) { state.remove(); Iterator.empty }
    else {
      // deterministic within a micro-batch: the min doc_id claims an
      // unclaimed bucket, everyone else pairs with the exemplar. The batch
      // must be buffered (each row emits an edge against the eventual
      // exemplar), but an O(n) min scan replaces the O(n log n) sort — a
      // boilerplate band concentrating a huge micro-batch pays only the
      // buffer, not a sort of it
      val rs = rows.toSeq
      val exemplar = if (state.exists) state.get else {
        val ex = rs.iterator.map(_.doc_id).min
        state.update(ex)
        ex
      }
      stateTtl.foreach(state.setTimeoutDuration)
      rs.iterator
        .filter(_.doc_id != exemplar)
        .map(r => Candidate(r.doc_id, exemplar, r.band_id))
    }
}
