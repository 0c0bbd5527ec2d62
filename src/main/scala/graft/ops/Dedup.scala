package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType}

/** Deduplication operators for large-scale training-data pipelines.
  *
  * Four tiers, in increasing fuzziness:
  *  - exact key dedup (hash groupBy — one shuffle on the dedup key),
  *  - exact content dedup (md5 of the text — same shape, content-derived key),
  *  - MinHash+LSH near-dup candidates (shingle -> seeded min-hash signature ->
  *    band -> bucket self-join: the classic O(n·bands) candidate generation
  *    that avoids the O(n^2) all-pairs comparison at 100 TB),
  *  - n-gram Jaccard verification via an inverted-index join (explode shingles,
  *    join on shingle, count co-occurrences — only pairs sharing >= 1 shingle
  *    are ever materialized).
  *
  * SimHash lives here too: a 60-bit bitwise-majority fingerprint whose Hamming
  * distance approximates cosine similarity of the token multisets.
  */
object Dedup {

  /** Exact dedup on a key set: keep the first row (min event_id) per key.
    * Deterministic alternative to `dropDuplicates` (which keeps an arbitrary
    * row and therefore can't be oracle-checked).
    */
  def dedupKeys(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.load(spark, sfDir, "events")
    ev.groupBy(col("user_id"), col("event_type"))
      .agg(min(col("event_id")).as("keep_id"), count(lit(1)).as("n_dups"))
  }

  /** Exact content dedup: md5(text) as the content key. */
  def dedupContent(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
    docs.groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
  }

  /** Word n-gram shingle array. Built by zipping the token array with its
    * shifted slices rather than indexing with `element_at(split(...), i)`
    * inside a lambda — the lambda form re-evaluates `split` on every element
    * access (~3x shingle count per row), the slice form splits a handful of
    * times per ROW. Measured 3x faster on the shingle-heavy queries.
    */
  def shingleArray(textCol: Column, n: Int = 3): Column = {
    val t = split(textCol, " ")
    val outLen = greatest(size(t) - lit(n - 1), lit(0))
    val parts = (0 until n).map(k => slice(t, lit(k + 1), outLen))
    array_distinct(parts.reduce((acc, p) => zip_with(acc, p, (x, y) => concat(x, lit(" "), y))))
  }

  /** All ordered pairs (a < b) from a sorted id array — used to emit candidate
    * pairs inside a bucket without a self-join, so the expensive upstream
    * (shingling, signatures) is computed ONCE instead of once per join side.
    * Higher-order functions only; stays in codegen.
    */
  def pairsOf(sortedIds: Column): Column =
    flatten(transform(sortedIds, (x, i) =>
      transform(slice(sortedIds, i + lit(2), size(sortedIds)), y =>
        struct(x.as("doc_a"), y.as("doc_b")))))

  /** Skew guard for candidate generation: all pairs while the bucket is within
    * `cap`, a star (hub = lowest id, one pair per other member) beyond it. A
    * cluster of c identical documents lands every member in one bucket; naive
    * explosion emits O(c^2) pairs — at 100 TB a single viral boilerplate page
    * is a job-killing straggler. The star keeps every member connected to the
    * cluster hub, so connected-components dedup still collapses the whole
    * cluster, while pair output drops to O(c). Deterministic (ids sorted), so
    * results are oracle-checkable whenever the cap is not hit.
    */
  def cappedPairs(sortedIds: Column, cap: Int): Column =
    when(size(sortedIds) <= cap, pairsOf(sortedIds))
      .otherwise(transform(slice(sortedIds, lit(2), size(sortedIds)), y =>
        struct(element_at(sortedIds, 1).as("doc_a"), y.as("doc_b"))))

  /** [[cappedPairs]] semantics WITHOUT the O(c) ids row for degenerate
    * buckets. `rows` is (keys..., m) at member grain; output is one `p =
    * (doc_a, doc_b)` struct column with exactly the pairs [[cappedPairs]]
    * would emit — all pairs while the bucket is within `cap`, the min-hub
    * star beyond it. The difference is WHERE the over-cap bucket lives:
    * `cappedPairs` first collects every member into one array cell (an
    * unspillable single-row aggregation buffer — 8-16 B/member is survivable
    * at 10^6 but unbounded in principle), here the bucket census is a
    * constant-size partial agg (`count` + `min` = the hub), and over-cap
    * buckets emit their star as per-member ROWS off the census join — no
    * task ever holds a row proportional to the bucket. In-cap buckets still
    * collect (bounded by `cap` by construction, because the census filter
    * runs BEFORE the collect). The one shuffle of `rows` by the bucket key
    * is made explicit (`repartition`) so the census aggregate, the census
    * join, and the in-cap collect all reuse the same exchange. The census
    * side is corpus-derived — merge hint, never broadcast. The `c > 1`
    * census cut also drops singleton buckets (the vast majority) before the
    * join, so only collision rows flow downstream.
    */
  private[graft] def bucketedCappedPairs(rows: DataFrame, keys: Seq[String],
                                         cap: Int): DataFrame = {
    val ks = keys.map(col)
    val part = rows.repartition(ks: _*)
    val census = part.groupBy(ks: _*)
      .agg(count(lit(1)).as("c"), min(col("m")).as("hub"))
      .filter(col("c") > 1)
    val joined = part.join(census.hint("merge"), keys)
    // the hub.isNotNull residual is a semantic no-op (min over a non-empty
    // group of non-null structs) but keeps `hub` referenced in this branch:
    // without it column pruning specializes the census subtree per union
    // branch into two DIFFERENT canonical exchanges, and the upstream
    // band/fingerprint pass runs once per branch instead of once per query
    // (pinned by PlanSpec's one-runtime-scan check)
    val inCap = joined.filter(col("c") <= cap && col("hub").isNotNull)
      .groupBy(ks: _*)
      .agg(sort_array(collect_list(col("m"))).as("ids"))
      .select(explode(pairsOf(col("ids"))).as("p"))
    val star = joined.filter(col("c") > cap && col("m") =!= col("hub"))
      .select(struct(col("hub").as("doc_a"), col("m").as("doc_b")).as("p"))
    inCap.unionByName(star)
  }

  /** Distinct word 3-gram shingles per document: (doc_id, shingle) rows.
    * Narrow (no shuffle) until the downstream aggregation.
    */
  def shingles(docs: DataFrame, n: Int = 3): DataFrame =
    docs
      .filter(size(split(col("text"), " ")) >= n)
      .select(col("doc_id"), explode(shingleArray(col("text"), n)).as("shingle"))

  /** MinHash signatures: numHashes permuted min-hashes per doc in one
    * aggregation pass (map-side combine keeps shuffle volume at docs x
    * numHashes longs). Each shingle is md5-hashed ONCE; the permutation family
    * h_j(x) = (x*a_j + b_j) mod P is integer-only (16x fewer md5 calls than a
    * seeded-hash-per-permutation design — measured 4x faster end to end).
    */
  def minhashSignatures(sh: DataFrame, numHashes: Int): DataFrame = {
    val perms = Hashing.permutations(numHashes)
    val withH = sh.withColumn("h0", Hashing.h60modP(col("shingle")))
    val mins = perms.zipWithIndex.map { case ((a, b), j) =>
      min((col("h0") * a + b) % Hashing.P).as(s"m$j")
    }
    withH.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
  }

  // ===== closed-loop LSH banding tuning =====
  // The banding config is DERIVED from a similarity target, not hardcoded,
  // and [[flagMistunedBanding]] closes the loop against the MEASURED curve
  // from [[lshCalibrationDf]] — a config that cannot meet its target (or a
  // corpus that breaks the S-curve model's assumptions) is flagged before a
  // 100 TB dedup pass commits to it.

  /** Theoretical candidate probability of (numHashes/rowsPerBand bands × r
    * rows) banding at Jaccard j: 1 - (1 - j^r)^b (MMDS §3.4).
    */
  def bandingRecall(j: Double, numHashes: Int, rowsPerBand: Int): Double =
    1.0 - math.pow(1.0 - math.pow(j, rowsPerBand), numHashes.toDouble / rowsPerBand)

  /** Derive rowsPerBand for a similarity target within a hash budget: the
    * LARGEST divisor of numHashes whose theoretical recall at the target
    * still clears `requiredMilli` — larger rows-per-band = sharper S-curve =
    * fewer sub-threshold false-positive candidates, so maximizing r subject
    * to the recall promise is the selectivity-optimal choice. Falls back to
    * r = 1 (every hash its own band, maximum recall) if nothing clears.
    */
  def tunedRowsPerBand(targetJaccard: Double, numHashes: Int = DefaultNumHashes,
                       requiredMilli: Long = RequiredRecallMilli): Int =
    (1 to numHashes).filter(numHashes % _ == 0)
      .filter(r => bandingRecall(targetJaccard, numHashes, r) * 1000 >= requiredMilli)
      .maxOption.getOrElse(1)

  /** The contract the default banding is derived FROM: catch pairs at
    * Jaccard ≥ 0.5 with ≥ 85% probability using 16 min-hashes. 16/2 — the
    * historical hardcoded default — is exactly what falls out
    * (recall(0.5, 16, 2) = 89.99%; r = 4 would drop to 22.8%).
    */
  val DefaultNumHashes = 16
  val DefaultTargetJaccard = 0.5
  val RequiredRecallMilli = 850L
  val DefaultRowsPerBand: Int = tunedRowsPerBand(DefaultTargetJaccard)

  /** One flagged decile of a measured calibration curve — see
    * [[flagMistunedBanding]].
    */
  case class BandingFlag(bucket: Long, expectedMilli: Long,
                         measuredMilli: Option[Long], reason: String)

  /** Closed-loop config check: for every similarity decile at/above the
    * target, the config must PROMISE the recall floor (S-curve at the
    * decile's lower edge ≥ requiredMilli — otherwise the config is
    * mistuned for the target no matter what the corpus looks like), and
    * where the measured curve has pairs, it must DELIVER within
    * `slackMilli` of the promise (a larger gap means the corpus broke the
    * model's independence assumptions — e.g. correlated permutations or
    * capped buckets). Pure function over the collected (tiny, ≤ 11-row)
    * calibration frame: `measured` = bucket → recall_milli from
    * [[lshCalibrationDf]]. Empty result = config fits the target.
    */
  def flagMistunedBanding(measured: Map[Long, Long], targetJaccard: Double,
                          numHashes: Int = DefaultNumHashes,
                          rowsPerBand: Int = DefaultRowsPerBand,
                          requiredMilli: Long = RequiredRecallMilli,
                          slackMilli: Long = 150): Seq[BandingFlag] = {
    val fromBucket = math.ceil(targetJaccard * 10).toLong
    (fromBucket to 10L).flatMap { b =>
      val expected = (bandingRecall(b / 10.0, numHashes, rowsPerBand) * 1000).toLong
      val got = measured.get(b)
      if (expected < requiredMilli)
        Some(BandingFlag(b, expected, got,
          s"config cannot meet target: theory ${expected}m < required ${requiredMilli}m"))
      else got match {
        case Some(m) if m < expected - slackMilli =>
          Some(BandingFlag(b, expected, got,
            s"measured ${m}m below theory ${expected}m - slack ${slackMilli}m"))
        case _ => None
      }
    }
  }

  /** LSH banding: split the signature into bands of `rowsPerBand` hashes; docs
    * agreeing on any full band become candidate pairs. Bucketing is a
    * groupBy on (band_id, sig) with in-bucket pair explosion — one shuffle
    * keyed by the band bucket, never all-pairs, and the signature subtree is
    * evaluated once (a self-join would compute it per side). Defaults derive
    * from [[DefaultTargetJaccard]] via [[tunedRowsPerBand]].
    */
  def minhashCandidates(spark: SparkSession, sfDir: String,
                        numHashes: Int = DefaultNumHashes,
                        rowsPerBand: Int = DefaultRowsPerBand,
                        bucketCap: Int = 10000): DataFrame =
    minhashCandidatesDf(Tables.load(spark, sfDir, "documents"),
      numHashes, rowsPerBand, bucketCap)

  /** DataFrame-level core of [[minhashCandidates]]. `bucketCap` bounds
    * per-bucket pair output (star fallback, [[bucketedCappedPairs]]): buckets
    * are min-hash collisions, so a c-sized cluster of near-identical docs
    * fills one bucket per band — without the cap that is numBands x O(c^2)
    * pairs, and without the census-first shape a viral bucket is also an
    * O(c) unspillable aggregation row. The default cap is far above any
    * natural bucket in the testdata (sf0.1 has 5k docs total), so verified
    * results are cap-invariant there.
    */
  def minhashCandidatesDf(docs: DataFrame, numHashes: Int = DefaultNumHashes,
                          rowsPerBand: Int = DefaultRowsPerBand,
                          bucketCap: Int = 10000): DataFrame =
    bucketedCappedPairs(
      bandFrame(docs, numHashes, rowsPerBand)
        .select(col("band.band_id").as("band_id"), col("band.sig").as("sig"),
          col("doc_id").as("m")),
      Seq("band_id", "sig"), bucketCap)
      .select(col("p.doc_a"), col("p.doc_b"))
      .distinct()

  /** Per-doc LSH band rows (doc_id, band.band_id, band.sig): the join key
    * material of MinHash banding, shared by the self-pairing candidate
    * generator ([[minhashCandidatesDf]]) and the batch-vs-index incremental
    * path ([[incrementalDedupDf]]).
    */
  private[graft] def bandFrame(docs: DataFrame, numHashes: Int,
                             rowsPerBand: Int): DataFrame = {
    val sig = minhashSignatures(shingles(docs), numHashes)
    val numBands = numHashes / rowsPerBand
    val bands = (0 until numBands).map { b =>
      val parts = (0 until rowsPerBand).map(r => col(s"m${b * rowsPerBand + r}").cast("string"))
      struct(lit(b).as("band_id"), concat_ws("-", parts: _*).as("sig"))
    }
    sig.select(col("doc_id"), explode(array(bands: _*)).as("band"))
  }

  /** Inverted-index posting lists (key, sorted doc ids) with a
    * BUFFER-BOUNDED document-frequency cut: the native capped collect
    * ([[graft.functions.CollectCapped]]) stops appending at dfCap + 1
    * elements, so a stop-shingle present in the whole corpus costs a
    * (dfCap+1)-long buffer — never an O(corpus) `collect_list` cell (the
    * single-task OOM a filter placed ABOVE a plain collect cannot prevent:
    * that buffer fills before the row is discarded). The size filter then
    * reads length dfCap+1 as "over cap" and drops the key, exactly the
    * semantics of filtering a full collect — results identical, oracles
    * untouched — while the plan stays the original ONE-shuffle
    * ObjectHashAggregate (a count-first semi-join variant measured 2.3×
    * slower at the x100 corpus: second pass over the keyed rows + the
    * merge-join sort of the probe side; BASELINE.md r8).
    */
  private[graft] def cappedPostings(keyed: DataFrame, key: String,
                                    dfCap: Int): DataFrame = {
    val cc = graft.functions.CollectCapped.collect(dfCap)
    keyed.groupBy(col(key))
      .agg(cc(col("doc_id")).as("ids0"))
      .filter(size(col("ids0")) > 1 && size(col("ids0")) <= dfCap)
      .select(col(key), sort_array(col("ids0")).as("ids"))
  }

  /** Exact n-gram Jaccard similarity via inverted-index join: only pairs
    * sharing at least one shingle are generated; Jaccard from integer
    * intersection/union counts (deterministic double division).
    */
  def ngramJaccard(spark: SparkSession, sfDir: String,
                   threshold: Double = 0.05, dfCap: Int = 5000): DataFrame =
    ngramJaccardDf(Tables.load(spark, sfDir, "documents"), threshold, dfCap)

  /** DataFrame-level core of [[ngramJaccard]]. `dfCap` is a document-frequency
    * cut on the inverted index: a shingle appearing in more than `dfCap` docs
    * (a stop-shingle — boilerplate, license headers) is dropped from the index
    * entirely, because one n-doc posting list explodes into O(n^2) pairs while
    * contributing almost no discriminative signal. This is the standard df cut
    * from near-dup literature; applied BUFFER-BOUNDED ([[cappedPostings]]) it
    * bounds BOTH the posting-row size and the pair blowup — the over-cap key's
    * aggregation buffer is capped at dfCap+1 by construction, so no task ever
    * holds a corpus-scale row. Jaccard for surviving pairs then underestimates by at most
    * the dropped shingles' mass — with the default cap above the corpus size
    * at test SF, results are exact there.
    */
  def ngramJaccardDf(docs: DataFrame, threshold: Double = 0.05,
                     dfCap: Int = 5000): DataFrame = {
    // inverted index: group docs per shingle, explode in-posting pairs —
    // only pairs sharing >= 1 shingle are ever materialized, shingling runs
    // once. The index key is the 60-bit md5 hash of the shingle, not the
    // string: the shuffle carries 8-byte longs instead of ~20-byte strings
    // (the oracle keys on the identical hash, so a collision — ~1e-10 at
    // this cardinality — cannot break parity). The per-doc set size RIDES
    // THE POSTING as (doc_id, n_sh) structs ([[sizedSharedCounts]]), so the
    // pair stage reads both sizes off the pair itself — the former design
    // joined the exploded pair frame back against a per-doc size table
    // twice (two shuffles of the query's largest frame, plus two extra
    // shingle passes to build the size table's broadcast).
    sizedSharedCounts(docs, dfCap)
      .withColumn("jaccard",
        col("n_shared").cast("double") / (col("n_a") + col("n_b") - col("n_shared")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** The shared candidate-pair core of [[ngramJaccardDf]] and
    * [[containmentDf]]: df-capped inverted index over 8-byte shingle
    * hashes with the per-doc distinct-shingle count carried IN the posting
    * element, in-posting pair explosion, partial-agg intersection counts.
    * One shingle pass total (n_sh = size of the same array the explode
    * consumes), zero post-explosion joins. Returns
    * (doc_a, doc_b, n_shared, n_a, n_b).
    */
  private def sizedSharedCounts(docs: DataFrame, dfCap: Int): DataFrame = {
    val cc = graft.functions.CollectCapped.collectPairs(dfCap)
    val keyed = docs
      .filter(size(split(col("text"), " ")) >= 3)
      .withColumn("sh_arr", shingleArray(col("text")))
      .select(col("doc_id"), size(col("sh_arr")).cast("long").as("n_sh"),
        explode(col("sh_arr")).as("shingle"))
      .select(Hashing.h60(col("shingle")).as("shingle"), col("doc_id"), col("n_sh"))
    keyed.groupBy(col("shingle"))
      .agg(cc(col("doc_id"), col("n_sh")).as("ids0"))
      .filter(size(col("ids0")) > 1 && size(col("ids0")) <= dfCap)
      // struct sort = doc_id sort (ids distinct), the same canonical order
      // the id-only posting used
      .select(explode(pairsOf(sort_array(col("ids0")))).as("p"))
      // group on the four SCALAR fields, not the two nested structs: same
      // groups (n_sh is functionally dependent on doc_id), but UnsafeRow
      // hashing/equality over four longs beats nested-struct keys (A/B'd)
      .select(col("p.doc_a._1").as("doc_a"), col("p.doc_a._2").as("n_a"),
        col("p.doc_b._1").as("doc_b"), col("p.doc_b._2").as("n_b"))
      .groupBy(col("doc_a"), col("n_a"), col("doc_b"), col("n_b"))
      .agg(count(lit(1)).as("n_shared"))
      .select(col("doc_a"), col("doc_b"), col("n_shared"), col("n_a"), col("n_b"))
  }

  /** Asymmetric shingle CONTAINMENT — |A∩B|/|A| and |A∩B|/|B| per candidate
    * pair — the near-dup case Jaccard structurally misses: a short document
    * quoted wholesale inside a much longer one has tiny Jaccard (union is
    * dominated by the long side) but containment ≈ 1 on the short side.
    * Curation pipelines drop the CONTAINED side (it adds no novel text);
    * [[ngramJaccardDf]] would keep both.
    *
    * Shape: identical machinery to the Jaccard pass — df-capped inverted
    * index over 8-byte shingle hashes, in-posting pair explosion, partial-agg
    * intersection counts, two joins against the per-doc set sizes — so the
    * scale properties (bucket-local candidates, no all-pairs, stop-shingle
    * cut) carry over unchanged; only the final ratio differs. The threshold
    * keeps a pair when EITHER direction crosses it (the interesting direction
    * is whichever side is smaller).
    */
  def containment(spark: SparkSession, sfDir: String,
                  threshold: Double = 0.5, dfCap: Int = 5000): DataFrame =
    containmentDf(Tables.load(spark, sfDir, "documents"), threshold, dfCap)

  /** DataFrame-level core of [[containment]] — see [[ngramJaccardDf]] for the
    * shared index/cap design notes.
    */
  def containmentDf(docs: DataFrame, threshold: Double = 0.5,
                    dfCap: Int = 5000): DataFrame = {
    val ns = col("n_shared").cast("double")
    sizedSharedCounts(docs, dfCap)
      .filter(greatest(ns / col("n_a"), ns / col("n_b")) >= threshold)
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        round(ns / col("n_a"), 6).as("cont_a"),
        round(ns / col("n_b"), 6).as("cont_b"))
  }

  /** The full two-stage near-dup pipeline composed: MinHash+LSH candidate
    * generation ([[minhashCandidatesDf]]) followed by EXACT n-gram Jaccard
    * verification of only those candidates — the standard candidate-verify
    * split (generate cheaply with recall, verify exactly with precision).
    *
    * Verification cost is O(candidates), not O(pairs sharing a shingle): each
    * doc's distinct shingle-hash set is aggregated once (sorted for
    * determinism), the candidate pair joins its two sets and the exact
    * Jaccard is an in-row `array_intersect` — no inverted-index pair
    * explosion in the verify stage at all. At 100 TB this is the shape that
    * survives: candidates are ~linear in corpus size by LSH design (and
    * capped under skew), so the two id-keyed joins are the only shuffles.
    */
  def dedupVerify(spark: SparkSession, sfDir: String,
                  threshold: Double = 0.2): DataFrame =
    dedupVerifyDf(Tables.load(spark, sfDir, "documents"), threshold)

  /** The verify stage is a diamond — the per-doc shingle-hash set feeds BOTH
    * sides of the candidate join — so the set frame is built once and
    * persisted (at 100 TB: the materialized set/signature table a real
    * pipeline keeps bucketed on doc_id between stages). Candidates come from
    * [[minhashCandidatesDf]] unchanged: its explode + partial-agg min shape
    * stays fully codegen'd, whereas deriving signatures in-row from the
    * collected set (`array_min(transform(...))` x 16) benched ~60% SLOWER
    * end-to-end — higher-order lambdas are interpreted, the same measured
    * trade documented at [[simhash]]. One extra shingle pass is the cheaper
    * side of that trade.
    *
    * Cache lifecycle: the persisted frame is never unpersisted here (the
    * result is lazy, so there is no in-function point where it is safe);
    * it is LRU-evictable and spillable, and the harness runs one session
    * per invocation. A long-lived session calling this repeatedly should
    * `spark.catalog.clearCache()` between runs — or materialize the set
    * frame as a bucketed table, which is the real 100 TB shape anyway.
    */
  def dedupVerifyDf(docs: DataFrame, threshold: Double = 0.2,
                    numHashes: Int = DefaultNumHashes, rowsPerBand: Int = DefaultRowsPerBand,
                    bucketCap: Int = 10000): DataFrame = {
    val cands = minhashCandidatesDf(docs, numHashes, rowsPerBand, bucketCap)
    val sets = shingles(docs)
      .select(col("doc_id"), Hashing.h60(col("shingle")).as("h"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("h"))).as("hs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val inter = size(array_intersect(col("ha"), col("hb")))
    // filter on the UNROUNDED value (matching ngramJaccardDf and the oracle);
    // rounding only the projected output — filtering post-round would admit
    // boundary values the oracle rejects
    val jaccard = inter.cast("double") /
      (size(col("ha")) + size(col("hb")) - inter).cast("double")
    cands
      .join(sets.select(col("doc_id").as("doc_a"), col("hs").as("ha")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("hs").as("hb")), "doc_b")
      .filter(jaccard >= threshold)
      .select(col("doc_a"), col("doc_b"), round(jaccard, 6).as("jaccard"))
  }

  /** Train/test near-dup LEAKAGE AUDIT — the eval-integrity check every
    * benchmark split needs (Lee et al. 2022 found benchmark answers
    * near-duplicated in training corpora; PAPERS.md): assign documents to
    * train/test by seeded content-free hash (90/10), then report every
    * VERIFIED near-dup pair that STRADDLES the split — exactly the pairs
    * that inflate eval scores. Composition of proven stages:
    * [[dedupVerifyDf]] (banded candidates → exact Jaccard) + the split
    * assignment — which derives IN-ROW from doc_id, so attaching it to both
    * pair sides is a pure projection, zero shuffle beyond the dedup pass
    * itself. At 100 TB this runs at the
    * cost of the dedup pass you already run, and the output is the
    * decontamination worklist (drop the train-side doc or re-assign it).
    */
  def crossSplitLeaks(spark: SparkSession, sfDir: String,
                      threshold: Double = 0.2): DataFrame = {
    val split = (id: Column) =>
      when(Hashing.h60(concat(lit("split:"), id.cast("string"))) % 10 < 9, lit("train"))
        .otherwise(lit("test"))
    dedupVerifyDf(Tables.load(spark, sfDir, "documents"), threshold)
      .withColumn("split_a", split(col("doc_a")))
      .withColumn("split_b", split(col("doc_b")))
      .filter(col("split_a") =!= col("split_b"))
      .select(col("doc_a"), col("doc_b"), col("split_a"), col("split_b"), col("jaccard"))
  }

  /** Connected-components closure over near-dup candidate pairs — the
    * cluster-collapse step the candidate stages exist FOR: near-duplication
    * is transitive in practice (A~B, B~C → one cluster), so dedup must keep
    * ONE canonical doc per component, not one per pair. [[cappedPairs]]'s
    * star fallback deliberately preserves hub connectivity for exactly this
    * closure: capped buckets still collapse to one component.
    *
    * Algorithm: alternating LARGE-STAR / SMALL-STAR (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond" — see PAPERS.md), the
    * shape that survives 100 TB: convergence is O(log² n) rounds proven
    * (~log n observed) INDEPENDENT OF GRAPH DIAMETER, unlike min-label
    * propagation whose round count is the diameter (a pathological near-dup
    * chain — boilerplate drifting one edit per page — can chain thousands
    * deep). Each round:
    *
    *  - large-star: every node u links each LARGER neighbor v to the
    *    smallest node of u's closed neighborhood — `(v, min(Γ(u) ∪ u))` for
    *    v > u. One groupBy(min) over the symmetrized edges + one key join.
    *    Output is child>parent oriented and self-loop free by construction.
    *  - small-star: every node u links its smaller neighbors (and itself)
    *    to their collective minimum — for oriented edges grouped by child u
    *    with m = min(parents): `(u, m)` plus `(p, m)` for the other parents.
    *    Expressed per-edge as `when(parent == m, child).otherwise(parent)`,
    *    so no collect_list — a hub with millions of members never builds an
    *    in-memory array; both phases are pure groupBy+join, skew handled by
    *    AQE like any other hot key.
    *
    * Both phases only ever re-point nodes at smaller component members, so
    * component membership is invariant and the fixpoint is the star forest:
    * every node points directly at its component minimum. Convergence is
    * tested by a scalar witness that is EXACT here, not heuristic: each
    * phase maps every input edge to exactly one output edge whose endpoints
    * are componentwise ≤ the input's (large-star: (c,p) → (c, min(Γ⁺(p)));
    * small-star: (c,p) → (c,m) or (p,m), m = min of c's parents < c ≤ the
    * replaced endpoint), and `distinct` only removes rows — so BOTH
    * count(edges) and sum(child+parent) are non-increasing per round, and
    * the pair is unchanged iff every edge mapped to itself and nothing
    * merged, i.e. iff the edge set is the fixpoint. One scalar agg is the
    * round's only action. `localCheckpoint(eager = false)` swaps each
    * round's plan for a LogicalRDD barrier while deferring materialization,
    * so that probe materializes the round and the cached RDD it leaves is
    * what the next round (and both sides of the self-joins) read — without
    * the barrier the plan doubles per round.
    *
    * SIZE-DERIVED FINISH: the witness count is exact, so the loop knows
    * when the remaining edge set fits ONE task (≤ 2^20 rows, the
    * [[loopParts]] / [[Tables.sizedCoalesce]] rule). From the first witness
    * that fits — the initial one included — a distributed round only adds
    * jobs and checkpoints, so the loop stops there and the closure finishes
    * as union-find over those edges in a single task (`coalesce(1)` +
    * `mapPartitions`, primitive arrays). The finish is lazy: it runs when
    * the labels are executed, and building the frame ends at the witness.
    * Both phases keep the vertex set and component membership invariant, so
    * union-find over any round's edges yields the labels the fixpoint
    * would: one row per vertex, comp = component minimum. Above the
    * threshold the rounds run as before, so the production-scale path is
    * unchanged.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25): DataFrame =
    connectedComponentsWithRounds(pairs, maxIter)._1

  /** Pair rows one loop task carries: ~1M rows of two longs, the
    * [[Tables.sizedCoalesce]] rule.
    */
  private val RowsPerTask = 1L << 20

  /** SIZE-DERIVED loop-frame task count: the loop's groupBy/join exchanges
    * inherit the session's shuffle-partition count, so a few-hundred-edge
    * graph would schedule cores-wide micro-stages six times per round.
    * The witness already paid for an exact row count, so derive the task
    * count from it, floored at 1. `coalesce` is a narrow merge of the
    * reduce stage (no extra exchange), and it can only REDUCE a stage's
    * task count — at production scale rows/1M exceeds the session
    * parallelism and every coalesce in the loop is a no-op, so nothing
    * here is a local-mode constant. Exactness is unaffected: all loop math
    * is long/decimal (order-free).
    */
  private def loopParts(rows: Long): Int =
    math.max(1L, math.min(Int.MaxValue.toLong, (rows + RowsPerTask - 1) / RowsPerTask)).toInt

  /** [[connectedComponents]] plus the number of distributed rounds it ran —
    * exposed for the bounds spec (a 1000-node chain must converge in
    * ~log2(1000) ≈ 10 rounds, the property that distinguishes star
    * alternation from diameter-bound propagation).
    *
    * @param finishEdges the largest witness edge count the one-task
    *   union-find finish takes over at; the default is the largest count
    *   [[loopParts]] gives one task. Tests pass 0 to force the distributed
    *   loop to its fixpoint.
    */
  private[graft] def connectedComponentsWithRounds(
      pairs: DataFrame, maxIter: Int = 25,
      finishEdges: Long = RowsPerTask): (DataFrame, Int) = {
    // lazy checkpoint of the candidate subtree: the barrier means the
    // symmetrize union reads ONE cached RDD instead of computing the whole
    // LSH candidate generation twice
    var edges = pairs
      .select(col("doc_a").as("child"), col("doc_b").as("parent"))
      .localCheckpoint(false)
    val initial = edges
    // decimal accumulator: a long sum over ~1e12 edges of ~1e12 ids would
    // overflow (ANSI mode makes that a job-killing error, not a wrap); the
    // self-loop count rides the same aggregation (only the initial one can
    // be non-zero: a round's output is child>parent oriented)
    def witness(e: DataFrame): (Long, java.math.BigDecimal, Long) = {
      val r = e.agg(count(lit(1)),
        sum(col("child").cast("decimal(38,0)") + col("parent").cast("decimal(38,0)")),
        count(when(col("child") === col("parent"), lit(1)))).first()
      (r.getLong(0), if (r.isNullAt(1)) java.math.BigDecimal.ZERO else r.getDecimal(1),
        r.getLong(2))
    }
    var prev = witness(edges)
    val selfLoops = prev._3
    var converged = prev._1 == 0L // empty candidate graph: nothing to close
    var rounds = 0
    // the finish works on long ids; other id types run the loop throughout
    val idType = edges.select(col("child").as("id"))
      .union(edges.select(col("parent").as("id"))).schema.head.dataType
    val finishable = idType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    def fits = finishable && prev._1 <= finishEdges
    if (!converged && !fits) edges = edges.coalesce(loopParts(prev._1))
    while (!converged && !fits && rounds < maxIter) {
      val parts = loopParts(prev._1)
      // ---- large-star ----
      // no distinct needed: each undirected input edge is emitted exactly
      // once (from its smaller endpoint's group), so the output stays
      // duplicate-free whenever the input is
      val sym = edges.select(col("child").as("u"), col("parent").as("v"))
        .union(edges.select(col("parent").as("u"), col("child").as("v")))
      val mins = sym.groupBy(col("u"))
        .agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val large = sym.join(mins, "u")
        .where(col("v") > col("u"))
        .select(col("v").as("child"), col("m").as("parent"))
        .coalesce(parts)
        .localCheckpoint(false)
      // ---- small-star (input already child>parent oriented) ----
      val mins2 = large.groupBy(col("child").as("c")).agg(min(col("parent")).as("m"))
      val next = large.join(mins2, col("child") === col("c"))
        .select(
          when(col("parent") === col("m"), col("child")).otherwise(col("parent")).as("child"),
          col("m").as("parent"))
        .distinct()
        .coalesce(parts)
        .localCheckpoint(false)
      // ---- fixpoint witness (the round's only action; exact — see scaladoc)
      val cur = witness(next)
      converged = cur == prev
      prev = cur
      edges = next
      rounds += 1
    }
    val labels =
      if (!converged && fits) unionFindFinish(edges, idType)
      else {
        require(converged, s"connected components did not converge in $maxIter rounds")
        edges.select(col("child").as("doc_id"), col("parent").as("comp"))
          .union(edges.select(col("parent").as("doc_id"), col("parent").as("comp")).distinct())
      }
    // the first large-star drops self-loops, so after a round a vertex
    // whose only edges are self-loops has no label: it is its own component
    if (selfLoops == 0L || rounds == 0) (labels, rounds)
    else {
      val loners = initial.where(col("child") === col("parent"))
        .select(col("child").as("doc_id")).distinct()
        .join(labels, Seq("doc_id"), "left_anti")
      (labels.union(loners.select(col("doc_id"), col("doc_id").as("comp"))), rounds)
    }
  }

  /** The one-task finish of [[connectedComponentsWithRounds]]: the labels
    * of the loop's fixpoint, computed by union-find over `edges` in a
    * single task. Null endpoints are dropped first, as the first
    * large-star drops them; a self-loop is a vertex union-find labels
    * itself.
    */
  private def unionFindFinish(edges: DataFrame, idType: DataType): DataFrame = {
    // boxed output encoder: nullable columns, as the loop's min/when-derived
    // label columns are
    val labelEnc = Encoders.tuple(Encoders.LONG, Encoders.LONG)
    edges.where(col("child").isNotNull && col("parent").isNotNull)
      .select(col("child").cast(LongType), col("parent").cast(LongType))
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
      .coalesce(1)
      .mapPartitions(it => unionFindLabels(it).map { case (v, c) =>
        (java.lang.Long.valueOf(v), java.lang.Long.valueOf(c)) })(labelEnc)
      .select(col("_1").cast(idType).as("doc_id"), col("_2").cast(idType).as("comp"))
  }

  /** Union-find over one partition's edges: one `(vertex, component
    * minimum)` per distinct endpoint. Vertices are the sorted distinct
    * endpoints, so a vertex's index orders like its id; linking the larger
    * root under the smaller keeps every root its component's minimum, and
    * path halving keeps the trees shallow. State is three primitive arrays
    * (endpoints, sorted vertices, int parents) — no boxed map.
    */
  private[graft] def unionFindLabels(it: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    var ends = new Array[Long](1024)
    var n = 0
    it.foreach { case (a, b) =>
      if (n + 2 > ends.length) ends = java.util.Arrays.copyOf(ends, ends.length * 2)
      ends(n) = a; ends(n + 1) = b; n += 2
    }
    val verts = java.util.Arrays.copyOf(ends, n)
    java.util.Arrays.sort(verts)
    var m = 0
    var i = 0
    while (i < n) {
      if (m == 0 || verts(m - 1) != verts(i)) { verts(m) = verts(i); m += 1 }
      i += 1
    }
    val parent = Array.range(0, m)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    def index(id: Long): Int = java.util.Arrays.binarySearch(verts, 0, m, id)
    var e = 0
    while (e < n) {
      val a = find(index(ends(e)))
      val b = find(index(ends(e + 1)))
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
      e += 2
    }
    Iterator.range(0, m).map(v => (verts(v), verts(find(v))))
  }

  /** The dedup capstone: MinHash+LSH candidates → connected components →
    * canonical doc per near-dup cluster (comp = min doc_id reachable).
    * Output: one row per doc appearing in any candidate pair, labeled with
    * its cluster's canonical id — `doc_id != comp` rows are the drop list.
    */
  def dedupCc(spark: SparkSession, sfDir: String): DataFrame =
    connectedComponents(minhashCandidates(spark, sfDir))
      .select(col("doc_id"), col("comp"))

  /** Distributed ORACLE-FREE audit of a [[connectedComponents]] labeling —
    * the verification path for corpora where the DuckDB recursive-CTE
    * oracle cannot follow (it OOM'd at 32 GiB on the x100 phash graph,
    * BASELINE.md r8). Every check is a join/agg over the edge and label
    * frames — no collect, so the audit scales exactly as far as the
    * operator it audits. Violation counts returned; all-zero = the
    * labeling is a valid canonical CC assignment:
    *
    *  - `unlabeled` / `dup_labels` / `spurious_labels`: the label frame's
    *    vertex set IS the edge frame's, with exactly one label row per
    *    vertex — `unlabeled` counts edge vertices with no label (including
    *    entire components the labeling omitted: the neighbor join is a
    *    left join precisely so those surface), `spurious_labels` counts
    *    label rows for vertices no edge touches.
    *  - `edge_inconsistent`: endpoints of every edge share a component
    *    (counted at vertex grain — vertices with a violating incident
    *    edge; zero iff the per-edge count is zero) — zero means NO
    *    UNDER-MERGE. Over-merge is structurally impossible
    *    for the star-alternation algorithm (both phases only re-point
    *    nodes at minima REACHED ALONG EDGES, so a label never crosses
    *    between true components); under-merge is the failure mode a bug
    *    would actually produce, and this catches it.
    *  - `non_min_root`: each component's label is its minimum member id
    *    (the canonical-rep contract downstream keep/drop lists rely on).
    *  - `star_min_violation`: every member's component equals the minimum
    *    component over its closed star — the fixpoint property of the
    *    star forest, asserted directly.
    *  - `count_identity_violation`: components = vertices − non-root rows
    *    (each non-root contributes exactly one star-forest edge), as a
    *    0/1 flag.
    *
    * Idempotence (re-running CC on the star forest reproduces the labels)
    * is a frame comparison, exposed separately via [[ccIdempotenceDiff]].
    */
  def auditComponents(pairs: DataFrame, cc: DataFrame): Map[String, Long] = {
    val edges = pairs.select(col("doc_a"), col("doc_b"))
    val lab = cc.select(col("doc_id"), col("comp"))
    // job 1 — label-frame census in one pass: row count, distinct
    // vertices, distinct components, non-root rows
    val r1 = lab.agg(
      count(lit(1)).as("n"),
      countDistinct(col("doc_id")).as("verts"),
      countDistinct(col("comp")).as("comps"),
      sum(when(col("doc_id") =!= col("comp"), 1L).otherwise(0L)).as("nonroot"))
      .first()
    val (nLabels, nVerts, nComps, nonRoots) =
      (r1.getLong(0), r1.getLong(1), r1.getLong(2), r1.getLong(3))
    // job 2 — per-component grouping: every component's label must be its
    // minimum member id
    val nonMinRoot = lab.groupBy(col("comp")).agg(min(col("doc_id")).as("mn"))
      .filter(col("comp") =!= col("mn")).count()
    // job 3 — one symmetrized-neighborhood pass carries the edge-facing
    // checks together (counts are VERTEX-grain — vertices with a violating
    // incident edge — zero iff the per-edge counts are zero). The neighbor
    // label join is a LEFT join so a vertex whose every neighbor is
    // unlabeled still surfaces (an inner join here would let a labeling
    // that omits an entire component pass all-zero), and the final join is
    // FULL OUTER so the edge-frame vertex set and the label-frame vertex
    // set reconcile both ways: a grouped row with no label is `unlabeled`,
    // a label row with no incident edge is `spurious_labels`.
    val neigh = edges.select(col("doc_a").as("x"), col("doc_b").as("y"))
      .union(edges.select(col("doc_b").as("x"), col("doc_a").as("y")))
    val r3 = neigh
      .join(lab.select(col("doc_id").as("y"), col("comp").as("comp_y")),
        Seq("y"), "left")
      .groupBy(col("x"))
      .agg(min(col("comp_y")).as("mn_n"), max(col("comp_y")).as("mx_n"),
        // non-null on every grouped row — doubles as the edge-side
        // presence marker after the full outer join below
        max(when(col("comp_y").isNull, 1L).otherwise(0L)).as("null_neigh"))
      .join(lab.select(col("doc_id").as("x"), col("comp")), Seq("x"), "full_outer")
      .agg(
        sum(when(col("null_neigh").isNotNull && col("comp").isNull, 1L)
          .otherwise(0L)).as("unlabeled"),
        // inconsistent: an endpoint unlabeled (own or any neighbor), or a
        // labeled neighbor's comp differing — every disjunct is non-null
        // in its failure case, so nulls from min/max-over-empty are safe
        sum(when(col("null_neigh").isNotNull &&
          (col("comp").isNull || col("null_neigh") === 1L ||
            col("mn_n") =!= col("comp") || col("mx_n") =!= col("comp")), 1L)
          .otherwise(0L)).as("inconsistent"),
        sum(when(col("comp").isNotNull && col("mn_n") < col("comp"), 1L)
          .otherwise(0L)).as("star_viol"),
        sum(when(col("null_neigh").isNull, 1L).otherwise(0L))
          .as("spurious"))
      .first()
    Map(
      "vertices" -> nVerts,
      "components" -> nComps,
      "dup_labels" -> (nLabels - nVerts),
      "unlabeled" -> r3.getLong(0),
      "edge_inconsistent" -> r3.getLong(1),
      "non_min_root" -> nonMinRoot,
      "star_min_violation" -> r3.getLong(2),
      "spurious_labels" -> r3.getLong(3),
      "count_identity_violation" -> (if (nComps == nVerts - nonRoots) 0L else 1L))
  }

  /** Idempotence probe: re-run the closure on the star forest the labeling
    * IS (non-root rows as edges) and count label rows that changed in
    * either direction. Zero = the labeling is a fixpoint of its own
    * algorithm — the re-run pin for scale corpora with no oracle.
    */
  def ccIdempotenceDiff(cc: DataFrame): Long = {
    val lab = cc.select(col("doc_id"), col("comp"))
    val forest = lab.filter(col("doc_id") =!= col("comp"))
      .select(col("doc_id").as("doc_a"), col("comp").as("doc_b"))
    val rerun = connectedComponents(forest).select(col("doc_id"), col("comp"))
    // isolated roots (comp == doc_id, no forest edge) legitimately vanish
    // from the re-run's vertex set; compare over the forest's vertices
    val base = lab.filter(col("doc_id") =!= col("comp"))
      .select(col("doc_id"), col("comp"))
      .union(lab.filter(col("doc_id") =!= col("comp"))
        .select(col("comp").as("doc_id"), col("comp")).distinct())
    base.exceptAll(rerun).count() + rerun.exceptAll(base).count()
  }

  /** INDEPENDENT reference closure for the engine-side scale parity check
    * ([[graft.CcParity]]): textbook min-label propagation — every vertex
    * starts labeled with itself, each round takes the min of its own and
    * its neighbors' labels, until nothing changes. Shares nothing with the
    * production star-alternation loop but the DataFrame algebra: different
    * recurrence, different fixpoint argument, different convergence bound
    * (O(diameter) rounds, not O(log n)) — so an implementation bug in
    * either cannot reproduce in the other, which is what makes their
    * agreement at x10 a verification (the same role the driver's DuckDB
    * recursive CTE plays at small SF, where it OOMs past x1).
    *
    * Deliberately NOT a production operator: diameter-bound rounds are
    * exactly what [[connectedComponents]] exists to avoid at 100 TB. Output
    * contract matches it exactly — one (doc_id, comp) row per vertex
    * appearing in any pair, comp = min reachable id.
    */
  def connectedComponentsByPropagation(pairs: DataFrame,
                                       maxIter: Int = 1000): DataFrame = {
    val sym = pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
      .union(pairs.select(col("doc_b").as("u"), col("doc_a").as("v")))
      .distinct().localCheckpoint(false)
    var labels = sym.select(col("u").as("doc_id")).distinct()
      .select(col("doc_id"), col("doc_id").as("comp")).localCheckpoint(false)
    var rounds = 0
    var changed = labels.limit(1).count() // enter the loop iff any vertex
    while (changed > 0 && rounds < maxIter) {
      val nbr = sym
        .join(labels.select(col("doc_id").as("u"), col("comp")), "u")
        .groupBy(col("v").as("doc_id")).agg(min(col("comp")).as("nc"))
      val next = labels.join(nbr, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("comp"), coalesce(col("nc"), col("comp"))).as("comp"))
        .localCheckpoint(false)
      changed = next
        .join(labels.select(col("doc_id"), col("comp").as("old")), "doc_id")
        .filter(col("comp") =!= col("old")).count()
      labels = next
      rounds += 1
    }
    require(changed == 0, s"propagation did not converge in $maxIter rounds")
    labels
  }

  /** Quality-aware cluster collapse: for each near-dup cluster (CC over the
    * LSH candidate graph), keep the highest-QUALITY member instead of the
    * min-id one — the policy real curation pipelines want (among near-dups
    * of a page, keep the cleanest crawl). Composition of three existing
    * pieces, no new machinery: [[connectedComponents]] for the clusters,
    * [[TextStats.bigramFamiliarity]]'s integer corpus-familiarity score for
    * quality (integer ⇒ the argmax is hash-exact cross-engine), and a
    * per-component row_number argmax with a doc_id tie-break. The groupBy
    * that follows the window reuses the window's comp-partitioning — one
    * shuffle for both.
    */
  def dedupKeepBest(spark: SparkSession, sfDir: String): DataFrame =
    dedupKeepBestWith(spark, sfDir, connectedComponents(_))

  /** [[dedupKeepBest]] with the closure pluggable — [[graft.CcParity]]
    * re-runs the collapse over the independent propagation closure to
    * engine-verify this query at scales the DuckDB oracle cannot reach.
    */
  private[graft] def dedupKeepBestWith(spark: SparkSession, sfDir: String,
                                       close: DataFrame => DataFrame): DataFrame = {
    val cc = close(minhashCandidates(spark, sfDir))
    val scores = TextStats.bigramFamiliarity(spark, sfDir)
      .select(col("doc_id"), col("avg_freq"))
    val byComp = Window.partitionBy(col("comp"))
      .orderBy(col("avg_freq").desc, col("doc_id").asc)
    cc.join(scores.hint("merge"), "doc_id")
      .withColumn("rk", row_number().over(byComp))
      .groupBy(col("comp"))
      .agg(
        count(lit(1)).as("n_members"),
        max(when(col("rk") === 1, col("doc_id"))).as("keep_doc"),
        max(when(col("rk") === 1, col("avg_freq"))).as("keep_score"))
  }

  /** PageRank over the near-dup candidate graph: importance scoring of docs
    * by how centrally they sit in their near-duplicate neighborhood —
    * canonical-doc election beyond min-id (keep the most-linked variant),
    * and the representative iterative-graph-analytics shape beside the CC
    * closure.
    *
    * Fixed-round power iteration in INTEGER math: scores scaled by 1e12,
    * per-edge contribution `pr div deg` (floor), damping folded as
    * `17 * (sum div 20)` (= 0.85 exactly). Integer sums are
    * order-independent, so the result is bit-exact in any engine — a
    * floating PageRank's partition-ordered double accumulation could never
    * hash-match a sequential oracle. Overflow headroom: total mass is
    * conserved at ~massPerNode per node, so a hub's received sum is
    * bounded by component_mass ≈ |component|·massPerNode — beyond int64
    * at ~9e6-node components at the default mass, so every per-round
    * quantity (contribution, received sum, damped score) accumulates in
    * decimal(38,0): exact to 1e38, same shuffle-width class as two longs,
    * and under ANSI mode a (physically implausible) 1e38 breach throws
    * instead of silently wrapping. Floor-division is kept exact in the
    * decimal domain as (x - x % d) / d — IntegralDivide would collapse the
    * operands back to int64, which is precisely the hazard being removed.
    *
    * Shape: symmetrized edges + degree are computed ONCE and lazily
    * checkpointed (the LSH candidate subtree must not re-run per round);
    * each round is one key-shuffled join (scores onto edge sources) + one
    * partial-agg'd groupBy(dst) — the Pregel message-passing shape, 2
    * shuffles per round, nothing driver-side.
    */
  def pagerank(spark: SparkSession, sfDir: String): DataFrame =
    // int64 cast at the OUTPUT only (the oracle contract is BIGINT): the
    // iteration itself is decimal-exact, and a component large enough to
    // push a final score past int64 throws under ANSI instead of wrapping
    pagerankDf(minhashCandidates(spark, sfDir))
      .select(col("doc_id"), col("pr").cast("long").as("pr"))

  /** Core of [[pagerank]] over any (doc_a, doc_b) undirected pair frame.
    * Returns `pr` as decimal(38,0) — exact for components far beyond the
    * int64 mass bound (see the overflow note above).
    */
  def pagerankDf(pairs: DataFrame, iters: Int = 5,
                 massPerNode: Long = 1000000000000L): DataFrame = {
    // sizedCoalesce (r16 verdict #4 pattern): the symmetrized graph is
    // pair-sized; without it the 5-round score/message cascade reads a
    // cores-wide checkpoint every round
    val edges = graft.Tables.sizedCoalesce(pairs
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .localCheckpoint(false))
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    // merge hints, same reason as lineDedup's membership join: deg and the
    // per-round score table are NODE-count-sized, corpus-derived agg outputs —
    // the tiny-SF size estimate would broadcast what grows unboundedly
    val withDeg = edges.join(deg.hint("merge"), "src").localCheckpoint(false)
    val teleport = massPerNode / 20L * 3L // 0.15 · mass, exact for mass % 20 == 0
    var pr = deg.select(col("src").as("doc_id"),
      lit(massPerNode).cast("decimal(38,0)").as("pr"))
    (1 to iters).foreach { _ =>
      pr = withDeg.join(pr.hint("merge"), withDeg("src") === pr("doc_id"))
        // decimal floor-division: remainder subtraction keeps the quotient an
        // exact integer, so the scale-6 division result casts back losslessly
        .select(col("dst"),
          expr("CAST((pr - pr % deg) / deg AS DECIMAL(38,0))").as("c"))
        .groupBy(col("dst"))
        .agg(sum(col("c")).as("s"))
        .select(col("dst").as("doc_id"),
          expr(s"CAST($teleport + 17 * CAST((s - s % 20) / 20 AS DECIMAL(38,0)) AS DECIMAL(38,0))")
            .as("pr"))
    }
    pr
  }

  /** SimHash near-dup pairs via Hamming banding — the third candidate
    * generator beside MinHash+LSH and the inverted index, and the cheapest:
    * state per doc is ONE 64-bit fingerprint. Pigeonhole banding: split the
    * 60-bit fingerprint into 4 disjoint 15-bit bands; two fingerprints within
    * Hamming distance 3 MUST agree on at least one full band, so grouping by
    * (band_id, band value) has perfect recall at distance <= 3 (and partial
    * recall beyond). Candidates are verified in-row with the EXACT Hamming
    * distance — `bit_count(a XOR b)` — so precision is exact; like the other
    * generators, pair explosion is bucket-local (one groupBy shuffle keyed on
    * the band, [[bucketedCappedPairs]]-guarded against viral-boilerplate
    * buckets — census-first, so the viral bucket never collects),
    * never all-pairs.
    */
  /** Content-defined chunking dedup (the FastCDC/LBFS rolling-window family,
    * PAPERS.md): cut a document wherever the hash of the trailing `k`-char
    * window hits `0 mod modulus` — cut points depend only on LOCAL content,
    * so an insertion early in a document shifts ONE chunk instead of
    * re-aligning every fixed-size block (the property that makes CDC the
    * backbone of dedup storage, and of sub-document boilerplate detection
    * in crawl corpora: shared chunks = shared template fragments, found
    * WITHOUT any pairwise comparison). Expected chunk length ≈ `modulus`.
    *
    * Output: one row per chunk CONTENT seen in ≥ 2 places — its hash, copy
    * count, distinct-document spread, and length. Shape: chunking is
    * entirely IN-ROW (cut-point filter + boundary slicing over codegen'd
    * higher-order functions — each position's verdict is independent, no
    * sequential scan state); the only shuffle is the final hash groupBy,
    * partial-aggregated. The 100 TB cost is one narrow pass + one
    * chunk-keyed count — the exact-dedup plan at sub-document grain.
    */
  def contentChunks(spark: SparkSession, sfDir: String,
                    k: Int = 4, modulus: Int = 32): DataFrame =
    contentChunksDf(Tables.load(spark, sfDir, "documents"), k, modulus)

  /** Per-chunk rows of [[contentChunks]] BEFORE the dedup rollup —
    * (doc_id, chunk_hash, len); exposed so the shift-resilience property
    * (an edit perturbs O(1) chunks) is spec-testable on arbitrary frames.
    */
  def chunkRows(docs: DataFrame, k: Int = 4, modulus: Int = 32): DataFrame = {
    val cp = filter(sequence(lit(k), length(col("text"))),
      i => Hashing.h60(col("text").substr(i - (k - 1), lit(k))) % modulus === 0)
    val bounds = concat(array(lit(0)), cp, array(length(col("text"))))
    docs.filter(length(col("text")) >= k)
      .withColumn("b", bounds)
      .select(col("doc_id"), explode(
        filter(
          transform(sequence(lit(1), size(col("b")) - 1), { j =>
            val st = element_at(col("b"), j) + 1
            val ln = element_at(col("b"), j + 1) - element_at(col("b"), j)
            struct(Hashing.h60(col("text").substr(st, ln)).as("chunk_hash"),
              ln.cast("long").as("len"))
          }),
          c => c("len") > 0)).as("c"))
      .select(col("doc_id"), col("c.chunk_hash"), col("c.len"))
  }

  def contentChunksDf(docs: DataFrame, k: Int = 4, modulus: Int = 32): DataFrame =
    chunkRows(docs, k, modulus)
      .groupBy(col("chunk_hash"))
      .agg(count(lit(1)).as("n_copies"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("len")).as("chunk_len"))
      .filter(col("n_copies") >= 2)

  def simhashPairs(spark: SparkSession, sfDir: String,
                   maxHamming: Int = 3, bucketCap: Int = 10000): DataFrame = {
    val bandBits = 15
    val fp = simhash(spark, sfDir)
    val mask = (1L << bandBits) - 1
    val bands = (0 until 60 / bandBits).map { b =>
      struct(lit(b).as("band_id"),
        shiftright(col("simhash"), b * bandBits).bitwiseAND(mask).as("key"))
    }
    val hamming = bit_count(col("p.doc_a.simhash").bitwiseXOR(col("p.doc_b.simhash")))
      .cast("long")
    // struct member orders by doc_id (first field) — deterministic pair ids
    // and a deterministic min-hub, same as the sorted-collect it replaces
    bucketedCappedPairs(
      fp.select(col("doc_id"), col("simhash"), explode(array(bands: _*)).as("band"))
        .select(col("band.band_id").as("band_id"), col("band.key").as("key"),
          struct(col("doc_id"), col("simhash")).as("m")),
      Seq("band_id", "key"), bucketCap)
      .select(col("p.doc_a.doc_id").as("doc_a"), col("p.doc_b.doc_id").as("doc_b"),
        hamming.as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Exact duplicated-substring detection, rolling-window form: find every
    * w-token window whose exact text occurs more than once ANYWHERE in the
    * corpus (cross-doc or within-doc), then report per affected doc the
    * duplicated-window count and the interval-union token coverage — the
    * "what fraction of this doc is verbatim-repeated training text" number
    * that substring-level dedup policies threshold on (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better", use
    * suffix arrays for variable-length matches; the fixed-width rolling
    * window is the standard shuffle-friendly form of the same test — any
    * duplicated run of length >= w is found, reported as its cover of
    * w-windows).
    *
    * Shape at 100 TB: window hashes are computed IN-ROW (one projection,
    * ~n_tokens 8-byte hashes per doc — same row-growth class as the bigram
    * LM and inverted-index queries); the only shuffles are the groupBy(h)
    * duplicate census and the hash-join back, both on 8-byte keys. Coverage
    * is a per-doc sort-merge window: union of [pos, pos+w) intervals =
    * w + sum(min(w, gap)) over consecutive duplicated positions — no
    * per-doc collect, no quadratic interval logic.
    */
  def substringDup(spark: SparkSession, sfDir: String, w: Int = 5): DataFrame =
    substringDupDf(Tables.load(spark, sfDir, "documents"), w)

  /** Core of [[substringDup]] over any (doc_id, text) frame. */
  def substringDupDf(docs: DataFrame, w: Int = 5): DataFrame = {
    val base = docs
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .withColumn("n_tokens", size(col("tk")))
      .filter(col("n_tokens") >= w)
    val wins = base.select(
      col("doc_id"), col("n_tokens"),
      posexplode(transform(
        sequence(lit(0), col("n_tokens") - w),
        i => Hashing.h60(array_join(slice(col("tk"), i + lit(1), lit(w)), " "))))
        .as(Seq("pos", "h")))
    val dupHashes = wins.groupBy(col("h"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1)
      .select(col("h"))
    // merge hint for the same reason as lineDedup's membership join: the
    // duplicated-hash set is corpus-derived (an agg output Catalyst can't
    // size) and grows with the data — broadcasting it would be the scale bug
    val dup = wins.join(dupHashes.hint("merge"), "h")
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    dup
      .withColumn("gap", col("pos") - lag(col("pos"), 1).over(byDoc))
      .withColumn("cov", when(col("gap").isNull, lit(w)).otherwise(least(lit(w), col("gap"))))
      .groupBy(col("doc_id"))
      .agg(
        max(col("n_tokens")).cast("long").as("n_tokens"),
        count(lit(1)).as("dup_windows"),
        sum(col("cov")).cast("long").as("covered_tokens"))
      .select(
        col("doc_id"), col("n_tokens"), col("dup_windows"), col("covered_tokens"),
        round(col("covered_tokens") / col("n_tokens"), 6).as("dup_frac"))
  }

  /** SimHash: 60-bit fingerprint. Bit i of the fingerprint is the majority
    * vote of bit i across the token multiset's 60-bit hashes. Integer-only
    * math -> bit-exact against any engine.
    */
  def simhash(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
    val toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .withColumn("h", Hashing.h60(col("tok")))
    // one vote column per bit: a single hash-agg pass with map-side combine —
    // the shuffle carries only docs x 61 longs per map partition (partial
    // agg), and the whole pipeline stays in codegen. A narrow fold via
    // higher-order `aggregate` per bit benched ~30% slower (interpreted
    // lambdas), so the explode + partial-agg shape is the keeper.
    val votes = (0 until 60).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$i")
    }
    val fingerprint = (0 until 60)
      .map(i => when(col(s"b$i") > 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)
    toks.groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), fingerprint.as("simhash"))
  }

  /** Incremental dedup — an arriving BATCH checked against the standing
    * CORPUS without ever re-pairing the corpus with itself: the batch's band
    * signatures join the corpus's band index on (band_id, sig), and only
    * those cross candidates get the exact shingle-set verify. This is how a
    * dedup pass actually runs day over day at 100 TB — the corpus side of
    * the band index is a materialized table keyed on (band_id, sig) that
    * the nightly batch probes; only the probe join and the O(candidates)
    * verify touch compute, never a corpus self-join. Here both sides derive
    * from one signature pass over the documents table (batch = doc_id % 10
    * == 0 plays the arriving slice), which also means the index build cost
    * is measured, not hidden.
    *
    * Oversized corpus buckets (boilerplate signatures) are dropped at
    * `bucketCap` before the probe — same df-cut rationale as
    * [[ngramJaccardDf]]: a degenerate bucket multiplies every probing batch
    * doc by its size while carrying no discriminative signal.
    */
  def incrementalDedup(spark: SparkSession, sfDir: String): DataFrame =
    incrementalDedupDf(Tables.load(spark, sfDir, "documents"))

  /** Core of [[incrementalDedup]]; batch membership = doc_id % 10 == 0. */
  def incrementalDedupDf(docs: DataFrame, threshold: Double = 0.2,
                         numHashes: Int = DefaultNumHashes, rowsPerBand: Int = DefaultRowsPerBand,
                         bucketCap: Int = 10000): DataFrame = {
    val isBatch = col("doc_id") % 10 === 0
    val bands = bandFrame(docs, numHashes, rowsPerBand)
      .select(col("doc_id"), col("band.band_id").as("band_id"), col("band.sig").as("sig"))
    val batchBands = bands.filter(isBatch).select(col("doc_id").as("batch_id"),
      col("band_id"), col("sig"))
    val corpusBands = bands.filter(!isBatch)
    // cap corpus buckets before the probe join (count rides a window over
    // the already-shuffled key — no second aggregation pass)
    val cw = org.apache.spark.sql.expressions.Window.partitionBy(col("band_id"), col("sig"))
    val corpusIdx = corpusBands
      .withColumn("bsize", count(lit(1)).over(cw))
      .filter(col("bsize") <= bucketCap)
      .select(col("doc_id").as("corpus_id"), col("band_id"), col("sig"))
    val cands = batchBands.join(corpusIdx, Seq("band_id", "sig"))
      .select(col("batch_id"), col("corpus_id")).distinct()
    val sets = shingles(docs)
      .select(col("doc_id"), Hashing.h60(col("shingle")).as("h"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("h"))).as("hs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val inter = size(array_intersect(col("ha"), col("hb")))
    val jaccard = inter.cast("double") /
      (size(col("ha")) + size(col("hb")) - inter).cast("double")
    cands
      .join(sets.select(col("doc_id").as("batch_id"), col("hs").as("ha")), "batch_id")
      .join(sets.select(col("doc_id").as("corpus_id"), col("hs").as("hb")), "corpus_id")
      .filter(jaccard >= threshold)
      .select(col("batch_id"), col("corpus_id"), round(jaccard, 6).as("jaccard"))
  }

  /** LSH calibration — measured recall of the MinHash banding against exact
    * ground truth, per similarity decile: for every doc pair sharing ≥ 1
    * shingle with exact Jaccard ≥ 0.1, was it surfaced as an LSH candidate?
    * This is the tuning artifact for the (numHashes, rowsPerBand) trade: the
    * S-curve P(candidate) = 1-(1-j^b)^r is theory; this measures it on YOUR
    * corpus, per decile, next to the false-positive mass (candidates below
    * the truth floor, bucket -1). Run it on a sample before committing a
    * banding config to a 100 TB dedup pass.
    *
    * Exactness: the decile is integer math off the exact intersection
    * ((10 * |A∩B|) div |A∪B|) — no float boundary can disagree between
    * engines — and recall_milli is an integer permille. Ground-truth pair
    * enumeration is the df-capped inverted index (same bound and caveat as
    * [[ngramJaccardDf]]: stop-shingles beyond the cap are dropped, which is
    * also what you'd do at 100 TB); candidates come from
    * [[minhashCandidatesDf]] unchanged. The truth↔candidate comparison is a
    * pair-keyed FULL OUTER join — key-local, no fan-out beyond the pair sets
    * themselves.
    */
  def lshCalibration(spark: SparkSession, sfDir: String,
                     dfCap: Int = 5000): DataFrame =
    lshCalibrationDf(Tables.load(spark, sfDir, "documents"), dfCap)

  /** DataFrame-level core of [[lshCalibration]] over any (doc_id, text)
    * frame — also the spec's entry point for controlled-overlap corpora
    * (the testdata's planted dups are all ≥ 90% similar, so only the top
    * decile shows there; `DedupBoundsSpec` drives the mid-similarity range).
    */
  def lshCalibrationDf(docs: DataFrame, dfCap: Int = 5000,
                       numHashes: Int = DefaultNumHashes,
                       rowsPerBand: Int = DefaultRowsPerBand): DataFrame = {
    // truth pass with the per-doc DISTINCT-hash count carried IN the posting
    // element (the [[sizedSharedCounts]] §8 shape applied to the calibration
    // truth): one doc-keyed set aggregation replaces the old distinct +
    // persist `hv` frame, its separate size census, AND the two size joins
    // against the exploded pair frame — the largest frame in the query,
    // which at 100 TB would re-shuffle per join. Semantics preserved
    // exactly: `shingles` is per-doc distinct already, `collect_set` folds
    // the (astronomically rare) h60 collision the old `.distinct()` folded,
    // n_sh = the set's size = the old count-distinct census, and the
    // posting's (doc_id, n_sh) struct sort = doc_id order (ids distinct per
    // key), so pair enumeration and the integer decile are unchanged.
    val cc = graft.functions.CollectCapped.collectPairs(dfCap)
    val keyed = shingles(docs)
      .select(col("doc_id"), Hashing.h60(col("shingle")).as("h"))
      .groupBy(col("doc_id"))
      .agg(collect_set(col("h")).as("hs"))
      .select(col("doc_id"), size(col("hs")).cast("long").as("n_sh"),
        explode(col("hs")).as("h"))
    val truth = keyed.groupBy(col("h"))
      .agg(cc(col("doc_id"), col("n_sh")).as("ids0"))
      .filter(size(col("ids0")) > 1 && size(col("ids0")) <= dfCap)
      .select(explode(pairsOf(sort_array(col("ids0")))).as("p"))
      // scalar group keys, not nested structs — same groups (n_sh is
      // functionally dependent on doc_id), faster UnsafeRow hashing (the
      // sizedSharedCounts A/B)
      .select(col("p.doc_a._1").as("doc_a"), col("p.doc_a._2").as("n_a"),
        col("p.doc_b._1").as("doc_b"), col("p.doc_b._2").as("n_b"))
      .groupBy(col("doc_a"), col("n_a"), col("doc_b"), col("n_b"))
      .agg(count(lit(1)).as("n_shared"))
      .select(col("doc_a"), col("doc_b"),
        expr("10 * n_shared div (n_a + n_b - n_shared)").as("bucket"))
      .filter(col("bucket") >= 1)
    val cands = minhashCandidatesDf(docs, numHashes, rowsPerBand)
      .withColumn("is_cand", lit(1L))
    truth.join(cands, Seq("doc_a", "doc_b"), "full_outer")
      .groupBy(coalesce(col("bucket"), lit(-1L)).as("bucket"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(coalesce(col("is_cand"), lit(0L))).as("n_cand"))
      .select(col("bucket"), col("n_pairs"), col("n_cand"),
        expr("1000 * n_cand div n_pairs").as("recall_milli"))
  }

  /** Triangle count + local clustering coefficient over the near-dup
    * candidate graph — the graph-density diagnostic PageRank doesn't give:
    * a high-coefficient node sits inside a clique-like dup cluster (safe to
    * collapse), a high-degree low-coefficient node is a hub stitching
    * UNRELATED docs together (an LSH false-positive magnet — exactly the
    * node you want flagged before transitive closure merges its neighbors).
    *
    * Scale shape — degree-ordered orientation (the standard distributed
    * triangle algorithm): each undirected edge orients from its (degree,
    * id)-smaller endpoint to the larger, so every node's OUT-degree is
    * O(sqrt(m)) regardless of its raw degree, and the wedge self-join's
    * per-key fan-out is bounded by that — a billion-edge graph with a
    * degree-10^6 hub generates sqrt-bounded wedges instead of 10^12. The
    * wedge list joins the oriented edges once more for closure; each
    * triangle materializes exactly once (src ranked below both dsts, dsts
    * mutually ranked). Edges are localCheckpointed once and shared by the
    * degree census, both wedge sides, and the closure probe — the expensive
    * LSH candidate generation runs once, not four times.
    */
  def triangles(spark: SparkSession, sfDir: String): DataFrame =
    trianglesDf(minhashCandidates(spark, sfDir))

  /** Core of [[triangles]] over any distinct (doc_a < doc_b) pair frame. */
  def trianglesDf(pairs: DataFrame): DataFrame = {
    // sizedCoalesce: the candidate graph is pair-sized (hundreds of rows at
    // test SF), yet inherits cores-wide checkpoint partitioning — degree,
    // orientation, and both wedge-join scans would each schedule cores-wide
    // micro-stages (r16 verdict #4 pattern)
    val edges = graft.Tables.sizedCoalesce(
      pairs.select(col("doc_a"), col("doc_b")).localCheckpoint(false))
    val deg = edges.select(col("doc_a").as("v"))
      .union(edges.select(col("doc_b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    // merge hints: deg is a corpus-derived agg output (same estimate hazard
    // as pagerankDf's) — never broadcast what grows with the graph
    val withDeg = edges
      .join(deg.hint("merge").select(col("v").as("doc_a"), col("deg").as("deg_a")), "doc_a")
      .join(deg.hint("merge").select(col("v").as("doc_b"), col("deg").as("deg_b")), "doc_b")
    val aFirst = struct(col("deg_a"), col("doc_a")) < struct(col("deg_b"), col("doc_b"))
    val oriented = withDeg.select(
        when(aFirst, col("doc_a")).otherwise(col("doc_b")).as("src"),
        when(aFirst, col("doc_b")).otherwise(col("doc_a")).as("dst"),
        when(aFirst, col("deg_b")).otherwise(col("deg_a")).as("ddeg"))
      .localCheckpoint(false)
    val e1 = oriented.select(col("src"), col("dst").as("v"), col("ddeg").as("rv"))
    val e2 = oriented.select(col("src"), col("dst").as("w"), col("ddeg").as("rw"))
    val wedges = e1.join(e2, Seq("src"))
      .filter(struct(col("rv"), col("v")) < struct(col("rw"), col("w")))
    val closed = wedges.join(
      oriented.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"))
    val triCounts = closed
      .select(explode(array(col("src"), col("v"), col("w"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
    deg.join(triCounts.hint("merge"), deg("v") === triCounts("node"), "left")
      .select(col("v").as("doc_id"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .select(col("doc_id"), col("deg"), col("n_tri"),
        when(col("deg") > 1,
          expr("2000 * n_tri div (deg * (deg - 1))")).otherwise(lit(0L))
          .as("cc_milli"))
  }

  /** Edit-distance verification of LSH candidates — the character-level
    * complement to the shingle-set verify ([[dedupVerifyDf]]): near-dup
    * curation sometimes wants "how much EDITING separates these two docs"
    * (template instantiations, boilerplate with substitutions) rather than
    * set overlap, which is blind to ordering and repetition.
    *
    * Scale shape: candidates come from [[minhashCandidatesDf]] unchanged
    * (bucket-local, capped — linear in corpus size by LSH design), and the
    * quadratic-cost Levenshtein runs ONLY on those pairs, with the
    * banded-DP threshold form (`levenshtein(a, b, maxDist)`, codegen'd
    * built-in): cost per pair is O(maxDist · min_len), not O(len²), and
    * pairs further apart than the curation bound report -1 without paying
    * for an exact count they'd never use. Texts join onto the pair list
    * through two id-keyed shuffles — the same two-join diamond as the
    * set verify, no text ever moves except for candidate rows.
    *
    * Output keeps the decision-grade normalized form alongside the raw
    * count: permille of the LONGER text (integer division, engine-exact),
    * -1 propagated for over-threshold pairs.
    */
  def editVerify(spark: SparkSession, sfDir: String, maxDist: Int = 200): DataFrame =
    editVerifyDf(Tables.load(spark, sfDir, "documents"), maxDist)

  def editVerifyDf(docs: DataFrame, maxDist: Int = 200,
                   numHashes: Int = DefaultNumHashes, rowsPerBand: Int = DefaultRowsPerBand,
                   bucketCap: Int = 10000): DataFrame = {
    val cands = minhashCandidatesDf(docs, numHashes, rowsPerBand, bucketCap)
    val texts = docs.select(col("doc_id"), col("text"))
    cands
      .join(texts.select(col("doc_id").as("doc_a"), col("text").as("text_a")), Seq("doc_a"))
      .join(texts.select(col("doc_id").as("doc_b"), col("text").as("text_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("text_a"), col("text_b"), maxDist).cast("long").as("edit_dist"),
        greatest(length(col("text_a")), length(col("text_b"))).cast("long").as("max_len"))
      .select(col("doc_a"), col("doc_b"), col("edit_dist"), col("max_len"),
        when(col("edit_dist") >= 0,
          expr("edit_dist * 1000 div max_len")).otherwise(lit(-1L))
          .as("dist_permille"))
  }
}
