package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (`Array[Float]` vectors).
  *
  * Public background (PAPERS.md): REPOSE (ICDE 2021) for distributed top-k
  * similarity search via per-partition pruning structures — our top-k is
  * likewise partition-local heaps merged on the driver — and "Incremental
  * ... Top-K Similarity Search" (EDBT 2020) for candidate-pruned exact
  * verification, the shape of [[ivfTopK]] and [[nearDupPairs]].
  *
  * Two paths, per the standard ANN playbook:
  *  - brute-force cosine top-k against ONE query vector — O(n), the exactness
  *    baseline; top-k via sort+limit (Spark plans TakeOrderedAndProject — a
  *    per-partition heap + driver merge, no global sort at 100 TB);
  *  - LSH (random hyperplane / signed random projection) bucketing for the
  *    all-pairs near-duplicate problem — candidate pairs only form inside a
  *    bucket, turning O(n^2) into O(sum of bucket^2).
  *
  * Determinism: vector math uses codegen'd higher-order functions
  * (`zip_with` + `aggregate` = an ordered left fold), float widened to double
  * first. Hyperplane components are md5-derived integers precomputed on the
  * driver (a constant — never recomputed per row) and embedded as array
  * literals, so the SQL oracle can inline the identical constants.
  */
object Similarity {

  val Dim = 64

  /** Ordered left-fold dot product of two double-array columns. */
  // native codegen'd kernels since round 4 — bit-identical to the
  // aggregate(zip_with(...)) higher-order chains they replaced (left-to-right
  // accumulation, same operand order; see functions/VectorExprs.scala), so
  // every cosine oracle is unchanged; the higher-order forms ran their lambda
  // bodies interpreted per element
  def dot(a: Column, b: Column): Column = graft.functions.VectorExprs.dot(a, b)

  def toDouble(a: Column): Column = transform(a, x => x.cast("double"))

  def cosine(a: Column, b: Column): Column = graft.functions.VectorExprs.cosine(a, b)

  /** Brute-force cosine top-k neighbors of the vector with vec_id = queryId.
    * Deterministic tie-break on vec_id (SURVEY §7.4 #5).
    */
  def topK(spark: SparkSession, sfDir: String,
           queryId: Long = 0L, k: Int = 10): DataFrame =
    topKDf(Tables.load(spark, sfDir, "embeddings"), queryId, k)

  /** DataFrame-level core of [[topK]] over any (vec_id, embedding) frame. */
  def topKDf(embeddings: DataFrame, queryId: Long = 0L, k: Int = 10): DataFrame = {
    val emb = embeddings.select(col("vec_id"), toDouble(col("embedding")).as("v"))
    val q = emb.filter(col("vec_id") === queryId).select(col("v").as("qv"))
    emb.filter(col("vec_id") =!= queryId)
      .join(broadcast(q))
      .select(col("vec_id"), round(cosine(col("v"), col("qv")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Hybrid retrieval — BM25 lexical top-n fused with dense cosine top-n by
    * reciprocal-rank fusion (Cormack et al., SIGIR 2009: score(d) =
    * Σ_rankers 1/(k0 + rank_d), k0 = 60), the standard way production
    * retrieval stacks combine a keyword index with an embedding index. Doc
    * `queryId` plays the query role: its embedding is the dense query, and
    * it is excluded from BOTH rankers' corpora (see [[TextStats.bm25Search]]'s
    * `exclude` — corpus stats shift with it, as they must).
    *
    * Hash-exact across engines: both rank keys are already deterministic
    * integers (BM25 micro-unit scores; cosine rounded to 6 dp, each with a
    * doc-id tie-break), and the RRF sum is computed in integer
    * parts-per-billion via BIGINT division — 1e9 div (k0 + rank) — so no
    * float ever enters. A ranker miss contributes exactly 0 (rank sentinel
    * 0), the standard RRF-over-the-union semantics.
    *
    * Scale shape: each ranker is its own distributed top-n ending in a
    * TakeOrderedAndProject heap (per-partition heaps + driver merge — no
    * global sort at 100 TB); everything downstream of those two heaps (the
    * rank windows, the full-outer fusion join, the final top-k) touches at
    * most 2n rows, so the single-partition windows and the fusion join are
    * k-sized by construction, never data-sized. The fusion cost is fixed no
    * matter how large the corpus grows — the rankers are the whole cost.
    */
  // Registry/oracle defaults for hybridRrf, shared with the DuckDB twin
  // (TextOracles "ops_hybrid_rrf" interpolates these) so a default change
  // cannot silently fork the Spark query from its oracle.
  val RrfQueryId: Long = 0L
  val RrfN: Int = 50
  val RrfK: Int = 20
  val RrfK0: Int = 60

  def hybridRrf(spark: SparkSession, sfDir: String, queryId: Long = RrfQueryId,
                n: Int = RrfN, k: Int = RrfK, k0: Int = RrfK0): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val sparse = TextStats
      .bm25Search(spark, sfDir, TextStats.searchTerms, n, exclude = Some(queryId))
      .select(col("doc_id"),
        row_number().over(w.orderBy(col("score_micro").desc, col("doc_id")))
          .cast("long").as("r_sparse"))
    val dense = topK(spark, sfDir, queryId, n)
      .select(col("vec_id").as("doc_id"),
        row_number().over(w.orderBy(col("cos_sim").desc, col("vec_id")))
          .cast("long").as("r_dense"))
    sparse.join(dense, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("r_sparse"), lit(0L)).as("r_sparse"),
        coalesce(col("r_dense"), lit(0L)).as("r_dense"))
      .withColumn("rrf_ppb", expr(
        s"""CAST(CASE WHEN r_sparse > 0 THEN 1000000000 div ($k0 + r_sparse) ELSE 0 END
           |   + CASE WHEN r_dense  > 0 THEN 1000000000 div ($k0 + r_dense)  ELSE 0 END
           | AS BIGINT)""".stripMargin).as("rrf_ppb"))
      .orderBy(col("rrf_ppb").desc, col("doc_id"))
      .limit(k)
  }

  /** Deterministic hyperplane component for (plane p, dim d): first 15 hex
    * chars of md5("p,d") as a 60-bit int, mapped into [-1000, 1000]. Same
    * formula as [[Hashing.h60]] so any engine can reproduce it.
    */
  def planeComponent(p: Int, d: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$p,$d".getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.take(15)
    (java.lang.Long.parseLong(hex, 16) % 2001 - 1000).toDouble
  }

  /** The constant hyperplane family, starting at global plane index
    * `offset` — hash table t of an L-table LSH uses offset = t * numPlanes,
    * giving every table an independent plane set from the same deterministic
    * md5 stream.
    */
  def planes(offset: Int, numPlanes: Int): Seq[Array[Double]] =
    (offset until offset + numPlanes)
      .map(p => Array.tabulate(Dim)(d => planeComponent(p, d)))

  def planes(numPlanes: Int): Seq[Array[Double]] = planes(0, numPlanes)

  /** LSH bucket id for hash table `table`: bit p = sign(v . plane_(t*k+p)). */
  def lshBucketAt(v: Column, table: Int, numPlanes: Int): Column =
    planes(table * numPlanes, numPlanes).zipWithIndex.map { case (plane, p) =>
      val planeLit = array(plane.map(lit): _*)
      when(dot(v, planeLit) > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  def lshBucket(v: Column, numPlanes: Int): Column = lshBucketAt(v, 0, numPlanes)

  /** Typed UDAF surface (`Aggregator[IN, BUF, OUT]`): element-wise vector
    * mean — the centroid-update step of k-means, i.e. how the IVF coarse
    * quantizer ([[ivfTopK]]) would be TRAINED at scale rather than sampled.
    * The buffer is (running sum, count); `merge` is associative+commutative so
    * Spark runs it as partial agg with map-side combine — centroid update over
    * 100 TB is one shuffle of nlist x dim doubles per map partition.
    * (No DuckDB oracle: float mean depends on summation order; the spec tests
    * it on exactly-representable values instead.)
    */
  object VectorMean extends org.apache.spark.sql.expressions.Aggregator[
      Array[Double], (Array[Double], Long), Array[Double]] {
    override def zero: (Array[Double], Long) = (Array.empty[Double], 0L)
    override def reduce(b: (Array[Double], Long), v: Array[Double]): (Array[Double], Long) =
      if (b._2 == 0L) (v.clone(), 1L)
      else { var i = 0; while (i < v.length) { b._1(i) += v(i); i += 1 }; (b._1, b._2 + 1) }
    override def merge(a: (Array[Double], Long), b: (Array[Double], Long)): (Array[Double], Long) =
      if (a._2 == 0L) b
      else if (b._2 == 0L) a
      else { var i = 0; while (i < a._1.length) { a._1(i) += b._1(i); i += 1 }; (a._1, a._2 + b._2) }
    override def finish(r: (Array[Double], Long)): Array[Double] =
      if (r._2 == 0L) Array.empty[Double] else r._1.map(_ / r._2)
    override def bufferEncoder: org.apache.spark.sql.Encoder[(Array[Double], Long)] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Array[Double], Long)]()
    override def outputEncoder: org.apache.spark.sql.Encoder[Array[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
  }

  /** Coarse-quantizer ASSIGNMENT against a collected `cents` row — the
    * (cosine desc, cid asc) argmax as an `array_min` over (−cosine, cid)
    * structs: identical to the head of the ascending sort every ranking
    * site uses (cids are distinct ⇒ unique minimum), without sorting an
    * nlist-struct array per corpus row. Ranking sites that need a PREFIX
    * (query routing) still sort; assignment — the per-row corpus-scale
    * path — only needs the argmin.
    */
  private def centArgmaxCos(v: Column): Column =
    array_min(transform(col("cents"),
      c => struct((-cosine(v, c("cv"))).as("neg"), c("cid").as("cid"))))("cid")

  /** One k-means centroid-update iteration over the IVF assignment: vectors
    * grouped by their current bucket, new centroid = [[VectorMean]] of each
    * group. Returns (bucket, centroid, n_members).
    */
  def centroidStep(spark: SparkSession, sfDir: String, nlist: Int = 16): DataFrame = {
    import spark.implicits._
    val emb = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    val cents = emb.filter(col("vec_id") < nlist)
      .agg(sort_array(collect_list(struct(col("vec_id").as("cid"), col("v").as("cv"))))
        .as("cents"))
    emb.join(broadcast(cents))
      .select(centArgmaxCos(col("v")).as("bucket"), col("v"))
      .as[(Long, Array[Double])]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(VectorMean.toColumn.name("centroid"),
           count(lit(1)).as("n_members").as[Long])
      .toDF("bucket", "centroid", "n_members")
  }

  /** IVF (inverted-file) top-k: the scale path for single-query search.
    *
    * A coarse quantizer of `nlist` centroids (deterministically sampled: the
    * vectors with vec_id < nlist — sampling is a standard k-means init, and
    * keeping it data-derived-but-SQL-expressible makes the oracle exact)
    * partitions the corpus into inverted lists; a query probes only its
    * `nprobe` nearest lists, so the exact-cosine scan touches ~nprobe/nlist of
    * the data instead of all of it. At 100 TB the assignment is a narrow map
    * over the corpus (centroids ride along as ONE broadcast row — no shuffle,
    * no driver collect), the probe filter prunes before the expensive exact
    * cosine, and top-k plans as TakeOrderedAndProject (per-partition heap +
    * driver merge of k rows, never a global sort). Persisting `assigned`
    * bucket-partitioned would amortize the quantizer across queries — here it
    * is recomputed because the harness is one-shot.
    */
  def ivfTopK(spark: SparkSession, sfDir: String, queryId: Long = 0L, k: Int = 10,
              nlist: Int = 16, nprobe: Int = 4): DataFrame = {
    val emb = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    val cents = emb.filter(col("vec_id") < nlist)
      .agg(sort_array(collect_list(struct(col("vec_id").as("cid"), col("v").as("cv"))))
        .as("cents"))
    // centroids ranked by (cosine desc, cid asc) for a vector — in-row argmax
    def ranked(v: Column): Column =
      array_sort(transform(col("cents"),
        c => struct((-cosine(v, c("cv"))).as("neg"), c("cid").as("cid"))))
    val assigned = emb.join(broadcast(cents))
      .withColumn("bucket", centArgmaxCos(col("v")))
    val q = assigned.filter(col("vec_id") === queryId)
      .select(col("v").as("qv"),
        transform(slice(ranked(col("v")), 1, nprobe), c => c("cid")).as("probes"))
    assigned.join(broadcast(q))
      .filter(array_contains(col("probes"), col("bucket")) && col("vec_id") =!= queryId)
      .select(col("vec_id"), round(cosine(col("v"), col("qv")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Int8 scalar quantization of the embedding column — the compression step
    * that makes a 100 TB vector corpus storable/searchable: per-vector
    * absmax scaling (code_i = floor(x_i / absmax * 127) ∈ [-128, 127]) cuts
    * float32 vectors 4× with bounded error, and the per-vector scale rides
    * along for dequantization.
    *
    * Scale shape: everything is IN-ROW over codegen'd higher-order functions
    * (transform/aggregate/zip_with) — zero shuffle, a pure map stage that
    * composes with any downstream ANN index build. Determinism: float widened
    * to double first; floor() of an IEEE division is bit-stable in any
    * engine, so codes are hash-matchable (unlike round-half-to-even
    * variations). Output pins every code without shipping the array:
    * qsum = Σ code_i and qdot = Σ i·code_i fix the multiset AND its order;
    * recon_err is the dequantized L2 gap, the number a pipeline would alert
    * on.
    */
  def quantizeInt8(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    val absmax = array_max(transform(col("v"), x => abs(x)))
    val codes = transform(col("v"), x => floor(x / col("am") * 127).cast("long"))
    val idx = sequence(lit(0L), lit(Dim - 1L))
    emb
      .withColumn("am", absmax)
      // an all-zero vector has no scale; quantize to all-zero codes
      .withColumn("codes",
        when(col("am") === 0d, transform(col("v"), _ => lit(0L))).otherwise(codes))
      .select(
        col("vec_id"),
        round(col("am"), 6).as("scale"),
        aggregate(col("codes"), lit(0L), (a, x) => a + x).as("qsum"),
        aggregate(zip_with(col("codes"), idx, (c, i) => c * i), lit(0L), (a, x) => a + x)
          .as("qdot"),
        array_min(col("codes")).as("qmin"),
        array_max(col("codes")).as("qmax"),
        round(sqrt(aggregate(
          zip_with(col("v"), col("codes"), (x, c) => {
            val d = x - c.cast("double") * col("am") / 127d
            d * d
          }),
          lit(0.0), (a, x) => a + x)), 6).as("recon_err"))
  }

  /** All-pairs near-duplicate search via multi-table LSH: pairs sharing a
    * bucket in ANY hash table are verified with exact cosine; emits pairs
    * with cosine >= threshold.
    */
  def nearDupPairs(spark: SparkSession, sfDir: String,
                   numPlanes: Int = 8, threshold: Double = 0.3,
                   bucketCap: Int = 4096, numTables: Int = 2): DataFrame =
    nearDupPairsDf(
      Tables.load(spark, sfDir, "embeddings")
        .select(col("vec_id"), toDouble(col("embedding")).as("v")),
      numPlanes, threshold, bucketCap, numTables)

  /** DataFrame-level core of [[nearDupPairs]], same candidate shape as
    * [[Dedup.minhashCandidatesDf]]: ONE scan computes all L x k hyperplane
    * dot products per vector and explodes (table, bucket) pairs, then one
    * shuffle groups (vec_id, v) per (table, bucket) and explodes in-bucket
    * pairs — a self-join on bucket would run the scan + hyperplane subtree
    * twice. Pairs found by several tables collapse via distinct on the
    * rounded output.
    *
    * Standard L-table design (`numTables` independent plane sets): sharing a
    * bucket means only agreeing on k hyperplane signs — NOT near-identity —
    * so recall needs multiple chances; it also de-risks the skew cap below,
    * because a pair truncated out of an over-full bucket in one table gets
    * an independent draw in every other table.
    *
    * In-bucket pairing is bounded: `bucketCap` truncates each (table,
    * bucket) to its lowest-id members BEFORE the vectors are collected
    * (row_number over the same shuffle partitioning — no extra exchange), so
    * both the collected row (cap x dim doubles) and the pair output (cap^2)
    * stay bounded when a degenerate hash region would otherwise collect an
    * O(c)-sized row and emit O(c^2) pairs. Members beyond a cap lose
    * candidacy in THAT table only. Default cap is above any natural bucket
    * at test SF: results there are cap-invariant.
    */
  def nearDupPairsDf(emb: DataFrame, numPlanes: Int = 8,
                     threshold: Double = 0.3, bucketCap: Int = 4096,
                     numTables: Int = 2): DataFrame = {
    val tb = array((0 until numTables).map(t =>
      struct(lit(t).as("t"), lshBucketAt(col("v"), t, numPlanes).as("b"))): _*)
    val bucketed = emb.select(col("vec_id"), col("v"), explode(tb).as("tb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("tb.t"), col("tb.b")).orderBy(col("vec_id"))
    bucketed
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= bucketCap)
      .groupBy(col("tb.t"), col("tb.b"))
      .agg(sort_array(collect_list(struct(col("vec_id"), col("v")))).as("items"))
      .filter(size(col("items")) > 1)
      .select(explode(Dedup.pairsOf(col("items"))).as("p"))
      .select(col("p.doc_a.vec_id").as("vec_a"), col("p.doc_b.vec_id").as("vec_b"),
        round(cosine(col("p.doc_a.v"), col("p.doc_b.v")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
      .distinct()
  }

  /** Embedding near-dup clustering — the similarity-side capstone, mirroring
    * [[Dedup.dedupCc]]: ANN/LSH candidate pairs ([[nearDupPairs]]) closed
    * under transitivity by [[Dedup.connectedComponents]]; canonical vector =
    * min vec_id per component. This is the standard embedding-dedup pipeline
    * (cluster near-identical embeddings, keep one representative): candidate
    * generation is bucket-local and cap-guarded, the closure converges in
    * O(log diameter) pointer-jumping rounds, and near-dup cluster diameters
    * are small in practice — so the composition inherits both stages' 100 TB
    * posture unchanged.
    */
  def embedClusters(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.connectedComponents(
      nearDupPairs(spark, sfDir)
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
      .select(col("doc_id").as("vec_id"), col("comp"))

  /** SemDeDup (Abbas et al. 2023, PAPERS.md): semantic deduplication via
    * coarse k-clustering + WITHIN-CLUSTER cosine pruning — the embedding
    * analog of MinHash dedup, catching paraphrases that share no shingles.
    * Pipeline: (1) assign every vector to its nearest of `nlist` centroids
    * (the [[ivfTopK]] quantizer — deterministically sampled centroids ride
    * along as ONE broadcast row, assignment is an in-row argmax: zero
    * shuffle); (2) pairs form ONLY inside a cluster (the paper's point: the
    * O(n²) pair space collapses to Σ cluster², and `nlist` grows with the
    * corpus so cluster size — and so this join's output — stays bounded at
    * 100 TB); (3) greedy keep-lowest-id: a vector is dropped iff a
    * smaller-id vector in its cluster exceeds `tau` (deterministic,
    * recursion-free — the paper keeps one exemplar per ε-ball; the greedy
    * variant needs no transitive closure, and [[embedClusters]] covers the
    * CC-closed alternative).
    *
    * The driver corpus is near-orthogonal (max organic within-cluster cosine
    * ≈ 0.49), so the test plants semantic clones — scale-doubled copies of
    * every `plantStride`-th vector (cosine is scale-invariant, so the clone
    * reads exactly 1.0 without any float tolerance) — and `tau` = 0.4 sits
    * below the organic tail so BOTH planted and organic drops exercise the
    * path. Threshold compare is on `round(cos, 6)`, the same guard every
    * similarity oracle here uses.
    */
  def semDedup(spark: SparkSession, sfDir: String, nlist: Int = 16,
               tau: Double = 0.4, plantStride: Long = 7L,
               clusterCap: Int = 256): DataFrame = {
    val base = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    val planted = base.filter(col("vec_id") % plantStride === 0)
      .select((col("vec_id") + 100000L).as("vec_id"),
        transform(col("v"), x => x * lit(2.0)).as("v"))
    semDedupDf(base.unionAll(planted), nlist, tau, clusterCap)
  }

  /** DataFrame-level core of [[semDedup]] over any (vec_id, v) frame —
    * centroids are the `nlist` lowest-id vectors, judgment is bounded by
    * `clusterCap` (see [[semDedup]]'s scaladoc for the cap semantics).
    */
  def semDedupDf(e: DataFrame, nlist: Int = 16, tau: Double = 0.4,
                 clusterCap: Int = 256): DataFrame = {
    val cents = e.filter(col("vec_id") < nlist)
      .agg(sort_array(collect_list(struct(col("vec_id").as("cid"), col("v").as("cv"))))
        .as("cents"))
    val assigned = e.join(broadcast(cents))
      .withColumn("bucket", centArgmaxCos(col("v")))
      .select(col("vec_id"), col("v"), col("bucket"))
    // Bounded in-bucket judgment — the same `row_number <= cap` discipline
    // as [[nearDupPairsDf]]: the collected per-cluster row holds only the
    // cluster's `clusterCap` LOWEST-id members (the exemplar set), so no
    // hot centroid — dense semantic region, dead centroids concentrating
    // mass — can ever materialize a corpus-scale row in one task. Every
    // member (capped or not) is then judged against that exemplar row via
    // a bucket-keyed shuffle-hash join: dropped iff a smaller-id exemplar
    // clears tau. For members inside the cap this is EXACTLY the full
    // greedy semantics (all their smaller-id cluster-mates are exemplars
    // by construction); members beyond the cap are judged against the cap
    // lowest ids only — the deterministic truncation trade every capped
    // sibling operator makes, and cap-invariant at test SF where no
    // cluster approaches the cap. Two shuffles on the cluster key total
    // (member side + exemplar window), zero pairwise self-join.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bucket")).orderBy(col("vec_id"))
    val exemplars = assigned
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= clusterCap)
      .groupBy(col("bucket"))
      .agg(sort_array(collect_list(struct(col("vec_id"), col("v")))).as("ex"))
    assigned.join(exemplars.hint("shuffle_hash"), Seq("bucket"))
      .select(col("vec_id"), col("bucket"),
        not(exists(col("ex"), y =>
          y("vec_id") < col("vec_id") &&
            round(cosine(col("v"), y("v")), 6) >= tau)).as("kept"))
  }

  /** Exact integer Gram matrix over int8-quantized embeddings — the
    * reduction half of distributed PCA, done as ONE aggregation pass: every
    * vector contributes its d(d+1)/2 upper-triangle code products in-row
    * (nested transform + flatten builds the 2080-entry grid per row, one
    * generator explodes it), and a partial-agg groupBy on (i, j) sums them —
    * the shuffle carries at most #partitions x 2080 rows no matter how many
    * billions of vectors reduce. Quantization reuses [[quantizeInt8]]'s
    * per-vector absmax scheme, so every product is exact BIGINT math and the
    * result hash-matches any engine.
    *
    * This is the scale pattern for covariance/PCA at 100 TB: the cluster
    * reduces data-sized input to a d x d summary, the driver eigen-solves
    * the TINY matrix (64 x 64 — microseconds), and the projection broadcasts
    * back as a constant. `StatsSpec` drives that driver-side half (breeze
    * eigSym: PSD check, spectral reconstruction) against this operator's
    * output; the cluster-side reduction here is the only part that touches
    * the corpus.
    */
  def embedGram(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.load(spark, sfDir, "embeddings")
      .select(toDouble(col("embedding")).as("v"))
    val absmax = array_max(transform(col("v"), x => abs(x)))
    val codes = transform(col("v"), x => floor(x / col("am") * 127).cast("long"))
    val withCodes = emb.withColumn("am", absmax)
      .withColumn("codes",
        when(col("am") === 0d, transform(col("v"), _ => lit(0L))).otherwise(codes))
    // two stacked posexplode generators stay in whole-stage codegen; the
    // nested-transform + struct-array form of the same grid ran ~3x slower
    // (interpreted higher-order lambdas building 2080 structs per row —
    // the simhash/dedupVerify trade-off, measured again here)
    withCodes
      .select(col("codes"), posexplode(col("codes")).as(Seq("i", "ci")))
      .select(col("i"), col("ci"), posexplode(col("codes")).as(Seq("j", "cj")))
      .filter(col("j") >= col("i"))
      .groupBy(col("i").cast("long").as("i"), col("j").cast("long").as("j"))
      .agg(sum(col("ci") * col("cj")).as("s"))
  }

  /** Product-quantization top-k (Jégou, Douze, Schmid, "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011) — the third leg
    * of the ANN family after brute force and IVF, and the compression the
    * IVF lists carry at 100 TB: each normalized vector is encoded as `m`
    * codebook ids (8×5 bits = 5 bytes here vs 256 for the float vector —
    * defaults picked by a measured sweep: m=8/ksub=32/rerank=100 reaches
    * candidate-recall 1.0 on the fixture where 4/16/50 sat at 0.3; random
    * synthetic embeddings are the adversarial case for PQ, clusterless by
    * construction), the query
    * builds one m×ksub table of subspace distances, and every candidate's
    * approximate distance is m integer table lookups — asymmetric distance
    * computation (ADC). The top `rerank` by ADC are then re-ranked by exact
    * cosine, so the OUTPUT is exact cosine over an algorithm-defined
    * candidate set.
    *
    * Determinism discipline (what makes the DuckDB oracle exact):
    *  - codebook m = the first `ksub` vectors' m-th subvectors — the same
    *    deterministically-sampled quantizer as [[ivfTopK]]'s centroids (a
    *    standard init, SQL-expressible, no float k-means to replicate);
    *  - subspace distances are ordered index-folds of (x−y)·(x−y) — the
    *    cosineSql bit-equality contract — then floored to integer
    *    MICRO-units, so the ADC sum is a sum of integers: order-free,
    *    engine-free (a raw double sum would expose SQL SUM's arbitrary
    *    accumulation order at the candidate boundary);
    *  - ties (same micro distance) break by codeword/vec id ascending.
    *
    * Scale shape: encoding is one narrow map over the corpus with the
    * codebooks riding as ONE broadcast row (at 100 TB you persist `codes`
    * — 5 bytes/vector — and this stage amortizes; [[ensurePqCodes]] +
    * [[serve]] over [[Flat]] are exactly that deployment); the query side touches
    * each candidate for m lookups, no shuffle anywhere until the
    * TakeOrderedAndProject heap for the rerank cut.
    */
  /** One subspace of a vector: elements [mi·sub, mi·sub + sub). */
  private def pqSubSlice(v: Column, mi: Int, sub: Int): Column =
    slice(v, mi * sub + 1, sub)

  /** Ordered index-fold L2² of one subspace, floored to integer MICRO-units
    * — the cross-engine determinism device both PQ forms share (an integer
    * sum is order-free; a raw double SUM exposes SQL accumulation order).
    * Native codegen'd kernel since r16 ([[graft.functions.L2SqMicro]]) —
    * bit-identical to the `floor(aggregate(zip_with(...)) * 1e6)` chain it
    * replaces (property-pinned incl. forced codegen); the chain ran its
    * lambda bodies interpreted per element, × ksub codewords × m subspaces
    * per encoded row in every PQ encode/ADC/routing hot path.
    */
  private def pqL2Micro(a: Column, b: Column): Column =
    graft.functions.VectorExprs.l2sqMicro(a, b)

  def pqTopK(spark: SparkSession, sfDir: String, queryId: Long = 0L,
             k: Int = 10, m: Int = 8, ksub: Int = 32,
             rerank: Int = 100): DataFrame = {
    require(Dim % m == 0, s"m=$m must divide Dim=$Dim")
    val sub = Dim / m
    val emb = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    val base = emb
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .withColumn("vn", // native normalize kernel (bit-identical to the
        // transform divide chain incl. its null algebra - PropertySpec)
        graft.functions.VectorExprs.divScalar(col("v"), col("nrm")))
    // The positional `cb[cid+1]` lookups below assume the sampled codebook
    // is EXACTLY vec_ids [0, ksub) — a gap (sparse id space) would silently
    // resolve the wrong codeword while the oracle joins by cid VALUE. The
    // guard turns that divergence into a loud plan-time error: When-branch
    // type coercion accepts raise_error's NullType against the array.
    val cbRow = sort_array(collect_list(struct(col("vec_id").as("cid"), col("vn").as("cv"))))
    val cb = base.filter(col("vec_id") < ksub)
      .agg(when(size(cbRow) === ksub, cbRow)
        .otherwise(raise_error(concat(
          lit("pqTopK: codebook has "), size(cbRow).cast("string"),
          lit(s" entries, expected $ksub — vec_id space must cover [0,$ksub) contiguously"))))
        .as("cb"))

    def subSlice(v: Column, mi: Int): Column = pqSubSlice(v, mi, sub)
    def l2micro(a: Column, b: Column): Column = pqL2Micro(a, b)

    // encode: per subspace, the (micro-dist, cid)-min codeword — in-row
    // (array_min = ascending sort's head, the same lexicographic minimum,
    // without sorting ksub structs per subspace per row)
    val codes = array((0 until m).map { mi =>
      array_min(transform(col("cb"), c =>
        struct(l2micro(subSlice(col("vn"), mi), subSlice(c("cv"), mi)).as("d"),
          c("cid").as("cid"))))("cid")
    }: _*)
    val assigned = base.join(broadcast(cb)).withColumn("codes", codes)

    val q = base.filter(col("vec_id") === queryId)
      .select(col("v").as("qv"), col("vn").as("qvn"))
    // ADC: Σ_m micro-dist(query subspace m, candidate's codeword m) — all
    // integer adds over broadcast lookups, identical arithmetic to the
    // oracle's query-row distance table
    val adc = (0 until m).map { mi =>
      l2micro(subSlice(col("qvn"), mi),
        subSlice(element_at(col("cb"),
          (element_at(col("codes"), mi + 1) + 1).cast("int"))("cv"), mi))
    }.reduce(_ + _)
    assigned.join(broadcast(q))
      .filter(col("vec_id") =!= queryId)
      .withColumn("adc", adc)
      .orderBy(col("adc").asc, col("vec_id").asc)
      .limit(rerank)
      .select(col("vec_id"), round(cosine(col("v"), col("qv")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** [[pqTopK]] with the TRAINED codebooks — the learn-then-deploy loop for
    * ANN, completing the QualityModel pattern on the vector side: per-
    * subspace Lloyd training runs OFFLINE ([[graft.PqTrain]]), the learned
    * float centroids are DISTILLED to integer micro-units and frozen as
    * [[PqModel]], and this query deploys those published integers — learned
    * floats never cross engines, so the DuckDB oracle inlines the identical
    * constants and stays exact. Serving shape improves on the sampled form:
    * the codebooks are a PLAN LITERAL (2048 doubles), so encoding needs no
    * codebook join at all — one broadcast row remains for the query vector.
    * `PqModelSpec` pins the trained books at strictly lower total
    * quantization error than the sampled init on the training corpus
    * (Lloyd descends monotonically from exactly that init) and the same
    * recall floor as [[pqTopK]].
    */
  def pqTopKTrained(spark: SparkSession, sfDir: String, queryId: Long = 0L,
                    k: Int = 10, rerank: Int = 100): DataFrame = {
    val base = loadNormalized(spark, sfDir)
    val assigned = base.withColumn("codes", trainedCodes(col("vn")))
    val q = base.filter(col("vec_id") === queryId)
      .select(col("v").as("qv"), col("vn").as("qvn"))
    assigned.join(broadcast(q))
      .filter(col("vec_id") =!= queryId)
      .withColumn("adc", trainedAdc(col("qvn"), col("codes")))
      .orderBy(col("adc").asc, col("vec_id").asc)
      .limit(rerank)
      .select(col("vec_id"), round(cosine(col("v"), col("qv")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** The (vec_id, v, vn) frame every PQ form starts from. */
  private def loadNormalized(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .withColumn("vn", // native normalize kernel (bit-identical to the
        // transform divide chain incl. its null algebra - PropertySpec)
        graft.functions.VectorExprs.divScalar(col("v"), col("nrm")))

  /** [[PqModel]]'s published integer micros → doubles, driver-side, as one
    * plan literal (m × ksub × sub = 2048 doubles — micro / 1e6 is the same
    * IEEE division the oracle's `micro / 1000000.0` performs).
    */
  private lazy val trainedBooks: Column = typedLit(
    PqModel.Micros.map(_.map(_.map(_ / 1e6).toSeq).toSeq).toSeq: Seq[Seq[Seq[Double]]])

  /** Codeword (mi, cid) of a books plan literal — `sub` doubles. ONE
    * lookup/encode/ADC implementation serves every book family (trained,
    * residual, OPQ): the families differ only in WHICH literal and what
    * the input vector is (raw / per-list residual / permuted) — a
    * tie-break or grid fix lands once, not once per copy that can
    * silently diverge from its oracle twin.
    */
  private def bookCw(books: Column, mi: Int, cid: Column): Column =
    element_at(element_at(books, mi + 1), (cid + 1).cast("int"))

  /** In-row PQ encode of a normalized (or residual/permuted) vector
    * against a books literal: per subspace, the (micro-dist, cid)-min
    * codeword id. No join — the books are a literal.
    */
  private def bookCodes(books: Column, m: Int, ksub: Int, sub: Int,
                        vn: Column): Column =
    array((0 until m).map { mi =>
      // array_min = the (d, cid)-lexicographic minimum — identical to the
      // former array_sort(...)[1] (ascending sort's head IS the min; cids
      // are distinct so the min is unique) without materializing and
      // sorting a ksub-struct array per subspace per row
      array_min(transform(sequence(lit(0), lit(ksub - 1)),
        cid => struct(
          pqL2Micro(pqSubSlice(vn, mi, sub), bookCw(books, mi, cid)).as("d"),
          cid.as("cid"))))("cid")
    }: _*)

  /** ADC distance: Σ_m micro-dist(query subspace m, candidate's codeword m)
    * — integer adds over literal-table lookups, the order-free cross-engine
    * sum every PQ serving form shares.
    */
  private def bookAdc(books: Column, m: Int, sub: Int,
                      qvn: Column, codes: Column): Column =
    (0 until m).map { mi =>
      pqL2Micro(pqSubSlice(qvn, mi, sub),
        bookCw(books, mi, element_at(codes, mi + 1)))
    }.reduce(_ + _)

  /** In-row trained-PQ encode / ADC over [[PqModel]]'s published books. */
  private def trainedCodes(vn: Column): Column =
    bookCodes(trainedBooks, PqModel.M, PqModel.Ksub, PqModel.Sub, vn)

  private def trainedAdc(qvn: Column, codes: Column): Column =
    bookAdc(trainedBooks, PqModel.M, PqModel.Sub, qvn, codes)

  /** Build-once IVF-PQ codes ARTIFACT — the persisted form the [[pqTopK]]
    * scaladoc promises at 100 TB: one table of (vec_id, codes[, list]) with
    * codes from the TRAINED books ([[trainedCodes]]) and `list` the IVF
    * coarse assignment ([[ivfTopK]]'s argmax-cosine over the first [[SampledLists]]
    * vectors), written PARTITIONED BY list so an nprobe-pruned serving scan
    * reads only its probed partitions. Same amortization contract as
    * [[graft.sources.Layout.ensureBucketed]]: built once per (source dir)
    * into the session warehouse — 5 logical bytes/vector (8×5-bit ids) vs
    * 256 for the floats — and every subsequent ADC query serves from it;
    * the encode never appears in a serving plan again. Cross-JVM staleness
    * handled the same way (the in-memory catalog forgets, the warehouse
    * dir persists — drop stale files before CTAS).
    */
  /** The three codes layouts: `Sampled` (first-[[SampledLists]] coarse quantizer,
    * raw-vector PQ books), `Trained` (published [[IvfModel]] centroids,
    * raw-vector books), `Residual` (published centroids, RESIDUAL books —
    * textbook IVF-PQ). One artifact family, one lifecycle.
    */
  private[graft] object CodesKind {
    val Sampled = "sampled"
    val Trained = "trained"
    val Residual = "residual"
    val All: Seq[String] = Seq(Sampled, Trained, Residual)
    def tag(kind: String): String = kind match {
      case Sampled  => ""
      case Trained  => "t_"
      case Residual => "r_"
      case other    => throw new IllegalArgumentException(s"unknown codes kind: $other")
    }
  }

  private[graft] def codesShortKind(sfDir: String, kind: String): String =
    s"pq_codes_${CodesKind.tag(kind)}${Integer.toHexString(sfDir.hashCode).takeRight(8)}"

  private[graft] def codesShort(sfDir: String, trained: Boolean): String =
    codesShortKind(sfDir, if (trained) CodesKind.Trained else CodesKind.Sampled)

  /** The artifact's real location: from the CATALOG when the table is
    * registered (the session may run with a different warehouse dir than
    * the one the artifact was built under — per-invocation warehouses are
    * a deliberate harness posture), falling back to the current session's
    * warehouse-derived path only for unregistered locations. The
    * filesystem-standing checks are therefore scoped to ONE warehouse
    * only in the unregistered corner, and exact whenever the catalog
    * knows the table.
    */
  private[graft] def artifactLoc(spark: SparkSession, short: String): org.apache.hadoop.fs.Path = {
    val name = s"graft_artifacts.$short"
    if (spark.catalog.tableExists(name))
      new org.apache.hadoop.fs.Path(spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(short, Some("graft_artifacts"))).location)
    else new org.apache.hadoop.fs.Path(
      s"${spark.conf.get("spark.sql.warehouse.dir")}/graft_artifacts.db/$short")
  }

  /** Non-mutating standing check for one codes layout: registered in the
    * catalog, or its parquet files persist in the warehouse (after a JVM
    * restart the in-memory catalog forgets while the files remain — the
    * filesystem fact is what an erasure request must reach).
    */
  private def layoutStanding(spark: SparkSession, short: String): Boolean = {
    val name = s"graft_artifacts.$short"
    val loc = artifactLoc(spark, short)
    spark.catalog.tableExists(name) ||
      loc.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(loc)
  }

  /** All codes layouts, as (short name, kind) in census order. */
  private[graft] def codesShorts(sfDir: String): Seq[(String, String)] =
    CodesKind.All.map(k => codesShortKind(sfDir, k) -> k)

  /** NON-MUTATING readers over every codes artifact currently standing for
    * `sfDir` — the census path. An artifact with a committed manifest is
    * read through its CURRENT SNAPSHOT (the files a serve actually opens —
    * a plain catalog read would double-count rows whose superseded
    * deferred-vacuum copies still lie in the partition dirs, breaking the
    * census's found == erased invariant); a registered pre-manifest table
    * reads through the catalog; files standing WITHOUT a catalog entry
    * (post-restart) are read directly with partition discovery, exactly
    * as they lie on disk. Nothing is built, rebuilt, registered, or even
    * adopted: a preview documented as "nothing written" must never
    * trigger [[ensurePqCodes]]'s corpus-wide encode, the trained layout's
    * drop-stale-and-rebuild, or a manifest commit as a side effect (a
    * census counts what IS there, stale or not — healing is the
    * destructive erase path's job).
    */
  private[graft] def codesReadersStanding(spark: SparkSession,
                                          sfDir: String): Seq[DataFrame] =
    codesShorts(sfDir).flatMap { case (short, _) =>
      val name = s"graft_artifacts.$short"
      val loc = artifactLoc(spark, short)
      val registered = spark.catalog.tableExists(name)
      val snap = CodesSnapshot.current(spark, loc) // read-only, never adopts
      (snap, registered) match {
        case (Some(s), true) =>
          Some(CodesSnapshot.read(spark, s, spark.table(name).schema))
        case (Some(s), false) =>
          // orphan WITH a manifest: read the snapshot with the schema
          // inferred from its own files (vec_id is all the census needs)
          if (s.files.isEmpty) None
          else Some(spark.read.option("basePath", loc.toString)
            .parquet(s.absolute: _*))
        case (None, true) => Some(spark.table(name))
        case (None, false) =>
          val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
          if (fs.exists(loc))
            Some(spark.read.option("basePath", loc.toString).parquet(loc.toString))
          else None
      }
    }

  /** Every codes artifact currently STANDING for `sfDir`, HEALED for the
    * destructive erase path: each layout that is present — catalog entry
    * or surviving warehouse files ("built" is a FILESYSTEM fact; a
    * catalog-only check would silently skip exactly the stale files an
    * erasure request must reach after a JVM restart) — goes through its
    * ensure, so files with no catalog entry are drop-stale-and-rebuilt
    * from the CURRENT corpus before the caller's rewrite: no pre-restart
    * bytes survive. Layouts that were never built are NOT created (erasing
    * from an artifact that doesn't exist is a no-op, not a build trigger —
    * the maintenance-never-CREATES posture). At 100 TB the heal-by-rebuild
    * is the belt-and-braces for in-memory catalogs, not the plan: a
    * production deployment pins a persistent metastore so the catalog
    * never forgets and this path never fires.
    */
  private[graft] def codesTablesStanding(spark: SparkSession, sfDir: String): Seq[String] =
    codesShorts(sfDir).collect {
      case (short, kind) if layoutStanding(spark, short) =>
        ensureCodesKind(spark, sfDir, kind)
    }

  private def ensureCodesKind(spark: SparkSession, sfDir: String, kind: String): String =
    kind match {
      case CodesKind.Sampled  => ensurePqCodes(spark, sfDir)
      case CodesKind.Trained  => ensurePqCodesTrained(spark, sfDir)
      case CodesKind.Residual => ensurePqCodesRes(spark, sfDir)
    }

  /** Shared ensure body: drop stale cross-JVM files, CTAS the encoded rows
    * partitioned by list, and publish snapshot v1 — every artifact is born
    * with a manifest so maintenance can stage-and-swap from day one.
    */
  private def buildCodesArtifact(spark: SparkSession, short: String,
                                 rows: => DataFrame): String = {
    val name = s"graft_artifacts.$short"
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_artifacts")
    if (!spark.catalog.tableExists(name)) {
      // not registered here, so artifactLoc IS the warehouse-derived path —
      // one location policy, not a second hand-built copy of it
      val loc = artifactLoc(spark, short)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
      rows.select(col("vec_id"), col("codes"), col("list"))
        // cluster by the partition column before the write: without this,
        // every encode task writes a sliver into every list directory
        // (files-per-list = upstream task count — Tables.load's scan
        // fan-out made that 32×), and every nprobe-pruned serve pays the
        // per-file open cost times the fragmentation. One shuffle of
        // 5-byte rows at build time buys the one-file-per-list layout
        // every serve reads forever after — the guide §6 "aim for few,
        // right-sized files per partition" rule applied where the read
        // amortization actually lives.
        .repartition(col("list"))
        .write.mode("overwrite").format("parquet")
        .partitionBy("list").saveAsTable(name)
      val root = artifactLoc(spark, short)
      CodesSnapshot.commit(spark, root, CodesSnapshot.dataFiles(spark, root))
    }
    name
  }

  /** The current snapshot of one layout (ensuring the artifact first). A
    * pre-manifest artifact (built by an older session) is adopted: its
    * on-disk files become snapshot v1.
    */
  private def codesSnapshotOf(spark: SparkSession, sfDir: String,
                              kind: String): (String, CodesSnapshot.Snapshot) = {
    val name = ensureCodesKind(spark, sfDir, kind)
    val root = artifactLoc(spark, codesShortKind(sfDir, kind))
    (name, CodesSnapshot.currentOrAdopt(spark, root))
  }

  /** Snapshot-isolated read of one layout's codes — THE serving read: the
    * file set binds to one committed manifest at plan time, so a serve
    * concurrent with a maintenance rewrite sees the old artifact in full
    * or the new one in full, never a torn mix (see [[CodesSnapshot]]).
    * `lists` prunes at the MANIFEST level — the plan never lists, opens,
    * or even stats the unprobed lists' files; the surviving `list` filter
    * in callers still shows as PartitionFilters because the read carries
    * the catalog schema (typed partition column).
    */
  private def codesSnapshotRead(spark: SparkSession, sfDir: String, kind: String,
                                lists: Option[Seq[Long]] = None): DataFrame = {
    val (name, snap) = codesSnapshotOf(spark, sfDir, kind)
    val pruned = lists.fold(snap)(snap.prunedTo)
    CodesSnapshot.read(spark, pruned, spark.table(name).schema)
  }

  def ensurePqCodes(spark: SparkSession, sfDir: String): String =
    buildCodesArtifact(spark, codesShortKind(sfDir, CodesKind.Sampled),
      sampledEncode(spark, sfDir, loadNormalized(spark, sfDir)))

  /** The sampled layout's encode of normalized `rows`: the coarse
    * assignment identical to ivfTopK's (argmax cosine over RAW vectors
    * against the first [[SampledLists]] vectors, ties by cid ascending) and
    * the trained-book codes.
    */
  private def sampledEncode(spark: SparkSession, sfDir: String,
                            rows: DataFrame): DataFrame = {
    val cents = loadNormalized(spark, sfDir).filter(col("vec_id") < SampledLists)
      .agg(sort_array(collect_list(struct(col("vec_id").as("cid"), col("v").as("cv"))))
        .as("cents"))
    rows.join(broadcast(cents))
      .withColumn("list", centArgmaxCos(col("v")))
      .withColumn("codes", trainedCodes(col("vn")))
  }

  /** Incremental artifact MAINTENANCE for a growing corpus: encode ONLY
    * the vectors not yet in the codes table (left-anti on vec_id) and
    * append them into their list partitions — the steady-state path of a
    * crawl that adds documents daily. The quantizers are stable under
    * append by construction: the trained PQ books are a frozen published
    * artifact, and the IVF coarse centroids are the [[SampledLists]] LOWEST vec_ids
    * — ids are monotone, so growth never changes them. Existing partition
    * files are untouched (append adds files); at 100 TB the refresh cost
    * is one anti-join against a 5-byte/row table plus the encode of the
    * DELTA, never the corpus. Returns the number of newly encoded rows.
    * (Re-training the books on a drifted corpus is a MODEL update —
    * [[graft.PqTrain]] + a rebuilt artifact — not a refresh.)
    */
  def refreshPqCodes(spark: SparkSession, sfDir: String): Long =
    refreshCodesKind(spark, sfDir, CodesKind.Sampled)(sampledEncode(spark, sfDir, _))

  /** The shared grow step, snapshot-committed: the delta (left-anti on the
    * CURRENT snapshot's ids) is encoded by `encode` and STAGED as plain
    * appended files — invisible to every reader, because reads bind to a
    * manifest — then ONE atomic commit publishes old-files + delta-files.
    * A reader concurrent with a refresh sees the pre-growth artifact in
    * full or the grown one in full; the old half-visible-append window is
    * gone. Existing files are never touched (append-only), so the refresh
    * cost at 100 TB stays one anti-join + the delta encode.
    */
  private def refreshCodesKind(spark: SparkSession, sfDir: String, kind: String)
                              (encode: DataFrame => DataFrame): Long = {
    val (name, snap) = codesSnapshotOf(spark, sfDir, kind)
    val existing = CodesSnapshot.read(spark, snap, spark.table(name).schema)
      .select(col("vec_id"))
    val fresh = loadNormalized(spark, sfDir)
      .join(existing, Seq("vec_id"), "left_anti")
    val encoded = encode(fresh)
      .select(col("vec_id"), col("codes"), col("list"))
      .cache()
    try {
      val n = encoded.count()
      if (n > 0L) {
        val before = CodesSnapshot.dataFiles(spark, snap.root).toSet
        encoded.write.mode("append").insertInto(name)
        val added = CodesSnapshot.dataFiles(spark, snap.root).filterNot(before)
        CodesSnapshot.commit(spark, snap.root, snap.files ++ added)
      }
      n
    } finally { encoded.unpersist(); () }
  }

  /** [[refreshPqCodes]] for the TRAINED artifact: the same left-anti +
    * delta-encode recipe with the published-centroid assignment
    * ([[ivfTrainedRanked]]) in place of the sampled one. Stability under
    * append is even simpler here than in the sampled case (which leans on
    * monotone ids keeping the first-[[SampledLists]] rows fixed): the trained
    * centroids are FROZEN published integers, so growth can never move
    * them — the partitioning is part of the model, and only a model
    * update ([[graft.IvfTrain]] → rebuilt artifact) changes it. Returns
    * the number of newly encoded rows.
    */
  def refreshPqCodesTrained(spark: SparkSession, sfDir: String): Long =
    refreshCodesKind(spark, sfDir, CodesKind.Trained)(
      _.withColumn("list",
          element_at(ivfTrainedRanked(col("vn")), 1)("cid").cast("long"))
        .withColumn("codes", trainedCodes(col("vn"))))

  /** [[refreshPqCodesTrained]] for the RESIDUAL artifact: published-
    * centroid assignment, residual-book encode — the same frozen-model
    * append stability (growth can never move a published quantizer).
    */
  def refreshPqCodesRes(spark: SparkSession, sfDir: String): Long =
    refreshCodesKind(spark, sfDir, CodesKind.Residual)(
      _.withColumn("list",
          element_at(ivfTrainedRanked(col("vn")), 1)("cid").cast("long"))
        .withColumn("codes", residualCodesFor(col("vn"), col("list"))))

  /** Small-file MAINTENANCE for the codes artifacts — the missing third of
    * the lifecycle (build = [[ensurePqCodes]], grow = [[refreshPqCodes]],
    * shrink = [[erasePqCodes]], and now COMPACT): every refresh appends
    * one file set into each touched list partition, so a corpus that
    * grows daily fragments its lists into hundreds of splinter files —
    * and at 100 TB that is the difference between a serving scan opening
    * nprobe files and opening nprobe × days of them. The rewrite is
    * partition-scoped like the erasure recipe, and STAGE-AND-SWAP
    * ([[CodesSnapshot]]): only lists whose file count exceeds
    * `maxFilesPerList` are rewritten (one shuffle keyed by `list`, so each
    * fragmented list lands in one task = one file), byte-identical rows,
    * published by one atomic manifest commit — untouched lists keep their
    * exact files, and a reader concurrent with the compaction sees the old
    * or the new artifact in full, never a mix. Returns the number of list
    * partitions compacted. Maintenance never CREATES: only artifacts the session's
    * catalog already serves are compacted (a trained-only deployment must
    * not gain a corpus-wide sampled encode — and a second durable
    * content-derived copy — as a side effect of a compaction pass; run
    * compaction in the serving session, where the artifacts it should
    * touch are registered).
    */
  def compactPqCodes(spark: SparkSession, sfDir: String,
                     maxFilesPerList: Int = 4, vacuum: Boolean = true): Long =
    compactPqCodesReport(spark, sfDir, maxFilesPerList, vacuum)
      .collect { case (_, CompactStatus.Compacted, n) => n }.sum

  /** Per-layout compaction outcome, so an operator can distinguish
    * "nothing fragmented" from "layout not registered in this session":
    * the erase path is filesystem-standing but compaction is catalog-only
    * by design (maintenance never CREATES — registering/healing an orphan
    * layout is the destructive erase path's job), and before this report a
    * post-restart compaction pass silently skipped the trained artifact's
    * fragmented files and returned 0 with no signal. Statuses:
    * `Compacted` (n = lists rewritten, possibly 0 when quiet),
    * `SkippedUnregistered` (files stand in the warehouse but the catalog
    * doesn't serve the table — run compaction in the serving session),
    * `Absent` (layout never built).
    */
  object CompactStatus {
    val Compacted = "compacted"
    val SkippedUnregistered = "skipped-unregistered"
    val Absent = "absent"
  }

  def compactPqCodesReport(spark: SparkSession, sfDir: String,
                           maxFilesPerList: Int = 4,
                           vacuum: Boolean = true): Seq[(String, String, Long)] = {
    require(maxFilesPerList >= 1, s"maxFilesPerList must be >= 1: $maxFilesPerList")
    val ListPrefix = "^list=(-?\\d+)/".r
    codesShorts(sfDir).map { case (short, _) =>
      val name = s"graft_artifacts.$short"
      if (!spark.catalog.tableExists(name)) {
        if (layoutStanding(spark, short))
          (name, CompactStatus.SkippedUnregistered, 0L)
        else (name, CompactStatus.Absent, 0L)
      } else {
        // fragmentation is judged on the CURRENT SNAPSHOT's files (the
        // ones a serve actually opens), never raw directory contents —
        // deferred-vacuum leftovers are reclaim debt, not fragmentation
        val root = artifactLoc(spark, short)
        val snap = CodesSnapshot.currentOrAdopt(spark, root)
        val filesPerList = snap.files
          .flatMap(f => ListPrefix.findFirstMatchIn(f).map(_.group(1).toLong))
          .groupBy(identity).view.mapValues(_.size).toMap
        val frag = filesPerList.filter(_._2 > maxFilesPerList).keys.toSeq.sorted
        if (frag.isEmpty) (name, CompactStatus.Compacted, 0L)
        else {
          // STAGE: each fragmented list rewritten to one new file (one
          // shuffle keyed by list → one task → one file), appended so no
          // reader can see it before the commit
          val rewritten = CodesSnapshot.read(spark, snap.prunedTo(frag),
              spark.table(name).schema)
            .select(col("vec_id"), col("codes"), col("list"))
            .repartition(col("list"))
          val before = CodesSnapshot.dataFiles(spark, root).toSet
          rewritten.write.mode("append").insertInto(name)
          val staged = CodesSnapshot.dataFiles(spark, root).filterNot(before)
          // SWAP: one atomic manifest commit — fragmented lists' files
          // replaced by the coalesced ones, quiet lists byte-identical
          val fragSet = frag.map(l => s"list=$l/").toSet
          val keep = snap.files.filterNot(f => fragSet.exists(f.startsWith))
          CodesSnapshot.commit(spark, root, keep ++ staged)
          // RECLAIM: by default superseded files go now (directory and
          // snapshot agree again — plain catalog reads stay exact);
          // vacuum = false leaves them for in-flight readers holding the
          // pre-swap snapshot, to be reclaimed by [[vacuumPqCodes]]
          if (vacuum) {
            CodesSnapshot.vacuum(spark, root)
            spark.catalog.refreshTable(name)
          }
          (name, CompactStatus.Compacted, frag.size.toLong)
        }
      }
    }
  }

  /** Reclaim files superseded by past stage-and-swap commits (deferred
    * compactions) across every registered codes layout — run once
    * in-flight readers of the old snapshots have drained. `keepLast`
    * bounds the retained commit log per layout: `None` (default) honors
    * each artifact's STANDING retention policy ([[setCodesRetention]];
    * absent = 1, only the current snapshot survives); an explicit value
    * overrides it for this call. With versions retained, only files NO
    * retained version references are reclaimed, so time-travel reads of
    * the kept versions stay exact. Returns the removed relative paths per
    * layout.
    */
  def vacuumPqCodes(spark: SparkSession, sfDir: String,
                    keepLast: Option[Int] = None): Map[String, Seq[String]] =
    codesShorts(sfDir).flatMap { case (short, _) =>
      val name = s"graft_artifacts.$short"
      if (!spark.catalog.tableExists(name)) None
      else {
        val removed = CodesSnapshot.vacuum(spark, artifactLoc(spark, short), keepLast)
        if (removed.nonEmpty) spark.catalog.refreshTable(name)
        Some(name -> removed)
      }
    }.toMap

  /** Set the STANDING snapshot-retention policy for every registered
    * codes layout of `sfDir`: how many versions a default vacuum —
    * including the one a `compactPqCodes(vacuum = true)` runs as a side
    * effect — keeps time-travel readable. Persisted in each artifact's
    * manifest dir, so the policy survives sessions. Erasure IGNORES the
    * policy by design (compliance expires all history).
    */
  def setCodesRetention(spark: SparkSession, sfDir: String,
                        keepLast: Int): Seq[String] =
    codesShorts(sfDir).collect {
      case (short, _) if spark.catalog.tableExists(s"graft_artifacts.$short") =>
        CodesSnapshot.setRetention(spark, artifactLoc(spark, short), keepLast)
        s"graft_artifacts.$short"
    }

  /** The retained commit log of every REGISTERED codes layout — one row
    * per (layout, version): file count and data bytes referenced, newest
    * version last per layout. Bounded metadata (manifests are text files);
    * non-mutating, same read-as-it-lies posture as the census.
    */
  def codesHistory(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    codesShorts(sfDir).flatMap { case (short, kind) =>
      val name = s"graft_artifacts.$short"
      if (!spark.catalog.tableExists(name)) Seq.empty
      else CodesSnapshot.history(spark, artifactLoc(spark, short))
        .map { case (v, n, bytes) => (name, kind, v, n.toLong, bytes) }
    }.toDF("layout", "kind", "version", "n_files", "bytes")
  }

  /** Time-travel read of one layout's codes at a PINNED snapshot version —
    * the reader contract deferred-vacuum maintenance enables: a version
    * retention has kept ([[vacuumPqCodes]]'s `keepLast`) reads exactly as
    * committed; an expired or never-committed version fails LOUDLY naming
    * the retained range (never a torn or silently-current view). Erasure
    * expires ALL history as part of its compliance contract, so no pinned
    * read can resurrect erased bytes.
    */
  def readCodesAsOf(spark: SparkSession, sfDir: String, kind: String,
                    version: Int): DataFrame = {
    val short = codesShortKind(sfDir, kind)
    val name = s"graft_artifacts.$short"
    require(spark.catalog.tableExists(name),
      s"codes layout $kind is not registered for $sfDir")
    val root = artifactLoc(spark, short)
    val snap = CodesSnapshot.at(spark, root, version).getOrElse {
      val vs = CodesSnapshot.versions(spark, root)
      throw new IllegalArgumentException(
        s"snapshot v$version of $name is not retained " +
          s"(retained versions: ${vs.mkString("[", ", ", "]")}) — " +
          "expired by vacuum retention or an erasure, or never committed")
    }
    CodesSnapshot.read(spark, snap, spark.table(name).schema)
  }

  /** Entity erasure for the persisted codes artifact: the codes table
    * holds CONTENT-DERIVED data keyed by vec_id (8 codeword ids reconstruct
    * a lossy sketch of the vector), so an erasure request that removes a
    * vector from `embeddings` must reach its codes row too. The rewrite is
    * PARTITION-SCOPED and STAGE-AND-SWAP ([[CodesSnapshot]]): one bounded
    * scan finds the affected IVF lists, their survivors are STAGED as
    * appended files (invisible — reads bind to a committed manifest), one
    * atomic manifest commit swaps the affected lists' files for the
    * survivor files (a fully-emptied list simply has none — no stale
    * partition can linger), and the superseded files are vacuumed in the
    * same call (compliance: pre-erase bytes must not survive; a reader
    * still holding the pre-swap snapshot fails loudly, never reads them
    * silently, and never sees a TORN mix of rewritten and unrewritten
    * lists — the window the old in-place dynamic overwrite left open).
    * Untouched lists keep their files byte-identical. Returns the number
    * of rows erased. At 100 TB this touches nprobe-sized slices of a
    * 5-byte/row table — the same cost class as serving, not a corpus
    * rewrite.
    */
  def erasePqCodes(spark: SparkSession, sfDir: String, vecIds: Set[Long]): Long = {
    if (vecIds.isEmpty) return 0L
    codesTablesStanding(spark, sfDir).map(eraseFromCodes(spark, _, vecIds)).sum
  }

  private def eraseFromCodes(spark: SparkSession, name: String,
                             vecIds: Set[Long]): Long = {
    val short = name.split('.').last
    val root = artifactLoc(spark, short)
    val snap = CodesSnapshot.currentOrAdopt(spark, root)
    val schema = spark.table(name).schema
    val tbl = CodesSnapshot.read(spark, snap, schema)
    val hit = col("vec_id").isin(vecIds.toSeq: _*)
    val affected = tbl.filter(hit).groupBy(col("list"))
      .count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    if (affected.isEmpty) return 0L
    val lists = affected.keys.toSeq.sorted
    // STAGE: survivors of the affected lists land as appended files — no
    // reader can see them, reads bind to the committed manifest
    val remaining = tbl.filter(col("list").isin(lists: _*) && !hit)
      .select(col("vec_id"), col("codes"), col("list"))
    val before = CodesSnapshot.dataFiles(spark, root).toSet
    remaining.write.mode("append").insertInto(name)
    val staged = CodesSnapshot.dataFiles(spark, root).filterNot(before)
    // SWAP: one atomic commit — affected lists' files replaced by the
    // survivor files (a fully-emptied list simply has none), untouched
    // lists byte-identical. No torn window: pre-swap readers resolve the
    // old manifest in full, post-swap readers the new one in full.
    val affectedSet = lists.map(l => s"list=$l/").toSet
    val keep = snap.files.filterNot(f => affectedSet.exists(f.startsWith))
    CodesSnapshot.commit(spark, root, keep ++ staged)
    // RECLAIM immediately — compliance wins over availability for ERASURE:
    // the pre-erase bytes must not survive this call, so a reader still
    // holding the pre-swap snapshot fails loudly rather than reading them.
    // The explicit Some(1) OVERRIDES any standing retention policy: an
    // erasure expires all history by definition, a kept-versions knob
    // must never preserve erased bytes
    CodesSnapshot.vacuum(spark, root, Some(1))
    // catalog hygiene: emptied lists lose their partition entry too (the
    // vacuum already removed their directories)
    val emptied = lists.filterNot(l => staged.exists(_.startsWith(s"list=$l/")))
    emptied.foreach(l =>
      spark.sql(s"ALTER TABLE $name DROP IF EXISTS PARTITION (list=$l)"))
    spark.catalog.refreshTable(name)
    affected.values.sum
  }

  /** [[IvfModel]]'s published integer centroids → doubles, one plan
    * literal (nlist × dim = 1024 doubles; micro / 1e6 = the oracle's
    * `micro / 1000000.0`, bit-identical).
    */
  private lazy val ivfCents: Column = typedLit(
    IvfModel.Micros.map(_.map(_ / 1e6).toSeq).toSeq: Seq[Seq[Double]])

  /** The trained coarse quantizer's ranking of all `Nlist` centroids for
    * one normalized vector: (micro-L2, cid)-ascending — the SAME integer
    * discipline as the PQ encode, so assignment and routing are
    * cross-engine exact. Used both to build the trained artifact (rank 1 =
    * the list) and to route queries (prefix = the probes).
    */
  private def ivfTrainedRanked(vn: Column): Column =
    array_sort(transform(sequence(lit(0), lit(IvfModel.Nlist - 1)),
      cid => struct(
        pqL2Micro(vn, element_at(ivfCents, (cid + 1).cast("int"))).as("d"),
        cid.as("cid"))))

  /** The TRAINED-quantizer codes artifact — [[ensurePqCodes]] with the
    * coarse assignment from [[IvfModel]] instead of the first-`Nlist`
    * sampled vectors: same (vec_id, codes, list) schema, same
    * PARTITIONED-BY-list layout, same build-once amortization; `list` is
    * the (micro-L2, cid)-argmin against the published centroids, so the
    * partitioning itself is part of the published model (retrain ⇒
    * rebuild, exactly like a PQ-books update). This is the layout a
    * deployment graduates to when the sampled quantizer's lists skew:
    * Lloyd pulls centroids toward the data's real modes, and the balance
    * it buys is pinned (with the fixture's measured sizes) in
    * `IvfTrainedSpec`. Standing alongside the sampled artifact it is a
    * SECOND durable copy of every vector's codes — [[erasePqCodes]] and
    * the erasure census iterate [[codesTablesStanding]], so both copies
    * are reached by one request.
    */
  def ensurePqCodesTrained(spark: SparkSession, sfDir: String): String =
    buildCodesArtifact(spark, codesShortKind(sfDir, CodesKind.Trained),
      loadNormalized(spark, sfDir)
        .withColumn("list",
          element_at(ivfTrainedRanked(col("vn")), 1)("cid").cast("long"))
        .withColumn("codes", trainedCodes(col("vn"))))

  // ===== Residual IVF-PQ (Jégou et al. TPAMI'11 §V — the textbook form:
  // the PQ books quantize the RESIDUAL x − c(list) under the coarse
  // quantizer, concentrating the codebook budget on within-cell variance
  // instead of re-spending it on the cell position the `list` id already
  // encodes — better recall at IDENTICAL bits: same m, same ksub, same
  // 5 logical bytes per vector) =====

  /** [[PqResModel]]'s published residual books → doubles, one plan literal
    * (micro / 1e6 — the same IEEE division the oracle performs).
    */
  private lazy val resBooks: Column = typedLit(
    PqResModel.Micros.map(_.map(_.map(_ / 1e6).toSeq).toSeq).toSeq: Seq[Seq[Seq[Double]]])

  /** The residual of a normalized vector under its assigned trained list:
    * vn − c(list), elementwise — the same doubles in the same order on
    * both engines (list centroids are the published integer micros / 1e6),
    * so everything downstream stays bit-equal.
    */
  private def residualOf(vn: Column, list: Column): Column =
    // native elementwise subtract (bit-identical to the zip_with chain
    // incl. its null-padding algebra - PropertySpec)
    graft.functions.VectorExprs.sub(vn, element_at(ivfCents, (list + 1).cast("int")))

  /** In-row residual-PQ encode ([[bookCodes]] over the residual): `list`
    * must be the vector's trained assignment — the residual is only
    * meaningful under the centroid that produced it.
    */
  private def residualCodesFor(vn: Column, list: Column): Column =
    bookCodes(resBooks, PqResModel.M, PqResModel.Ksub, PqResModel.Sub,
      residualOf(vn, list))

  /** Residual ADC: the query's residual is taken under the CANDIDATE'S
    * list (the asymmetric-distance table is per probed cell in IVF-PQ —
    * query and candidate must subtract the same centroid for the distance
    * to live in one space), then [[bookAdc]] over the residual books.
    */
  private def residualAdc(qvn: Column, list: Column, codes: Column): Column =
    bookAdc(resBooks, PqResModel.M, PqResModel.Sub,
      residualOf(qvn, list), codes)

  /** The RESIDUAL codes artifact — [[ensurePqCodesTrained]]'s layout
    * (published-centroid `list` partitioning, same schema, same snapshot
    * lifecycle) with the codes from the residual books: the third standing
    * layout, reached by the same one-call erasure/census as the other two
    * ([[codesShorts]] iterates all kinds). Retrain ⇒ rebuild, exactly like
    * a books or centroid update — BOTH models ([[IvfModel]], [[PqResModel]])
    * are part of this artifact's identity.
    */
  def ensurePqCodesRes(spark: SparkSession, sfDir: String): String =
    buildCodesArtifact(spark, codesShortKind(sfDir, CodesKind.Residual),
      loadNormalized(spark, sfDir)
        .withColumn("list",
          element_at(ivfTrainedRanked(col("vn")), 1)("cid").cast("long"))
        .withColumn("codes", residualCodesFor(col("vn"), col("list"))))

  // ===== ANN serving: one core over five layouts =====

  /** One batched ANN serve over a codes [[Layout]] — the production
    * endpoint shape (queries arrive in batches; the corpus is read once per
    * batch, never once per query), and the only serve there is: a single
    * query is a batch of one. Steps, the same for every layout:
    *  1. the Q-row query frame (query_id, qv, qvn) from the normalized
    *     corpus — ids outside the corpus simply have no row, so a batch
    *     mixing valid and unknown ids answers the valid ones and a batch of
    *     unknown ids answers nothing (never an index crash);
    *  2. the layout's scored (query_id, vec_id, adc) pairs — its codes
    *     source, its router and its ADC column;
    *  3. self-matches dropped, then the per-query top `rerank` by
    *     (adc, vec_id) via [[graft.functions.TopKPairs]] — a PARTIAL
    *     AGGREGATION whose map-side heaps ship one ≤rerank-row buffer per
    *     query across the exchange, where a window rank would shuffle all
    *     n×Q ADC rows first;
    *  4. exact cosine for the ≤ Q×rerank survivors (candidate ids
    *     broadcast into one raw-vector join), top `k` per query by rounded
    *     cosine with vec_id breaking ties, in a per-query window over
    *     ≤ Q×rerank rows.
    * A batch of one cuts steps 3 and 4 with sorted limits instead (same
    * keys, same rows) and comes out in rank order; a batch's rows are
    * unordered. Output (query_id, vec_id, cos_sim). Every quantity is an
    * integer ADC or a round-6 cosine with vec_id ties, so each layout's
    * serve sits behind the DuckDB hash gate.
    */
  def serve(spark: SparkSession, sfDir: String, layout: Layout,
            queryIds: Seq[Long], k: Int = 10, rerank: Int = 100): DataFrame = {
    require(queryIds.nonEmpty, "a serve needs at least one query")
    // one query needs no per-query grouping: both cuts are sorted limits
    // (TakeOrderedAndProject — per-partition heaps merged in one task, no
    // exchange), which measured 20–30 % faster (median of 10 alternating
    // pairs) per single-query sf0.01 serve than the heap-and-window plan
    // (BASELINE.md, ANN serve core)
    val one = queryIds.distinct.size == 1
    val qs = queryFrame(spark, sfDir, queryIds)
    val scored = layout.scored(spark, sfDir, qs)
      .filter(col("vec_id") =!= col("query_id"))
    val cand =
      if (one) scored.orderBy(col("adc"), col("vec_id")).limit(rerank)
        .select(col("query_id"), col("vec_id"))
      else scored.groupBy(col("query_id"))
        .agg(graft.functions.TopKPairs.topK(rerank)(col("adc"), col("vec_id"))
          .as("cands"))
        .select(col("query_id"), explode(col("cands")).as("vec_id"))
    val reranked = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
      .join(broadcast(cand), Seq("vec_id"))
      .join(broadcast(qs.select(col("query_id"), col("qv"))), Seq("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(cosine(col("v"), col("qv")), 6).as("cos_sim"))
    if (one) reranked.orderBy(col("cos_sim").desc, col("vec_id")).limit(k)
    else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
      reranked.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= k)
        .select(col("query_id"), col("vec_id"), col("cos_sim"))
    }
  }

  /** The (query_id, qv, qvn) frame of a serve: raw and normalized vectors
    * of the ids that exist in the corpus.
    */
  private def queryFrame(spark: SparkSession, sfDir: String,
                         queryIds: Seq[Long]): DataFrame =
    loadNormalized(spark, sfDir).filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("vn").as("qvn"))

  /** List count of the sampled coarse quantizer: its centroids are the
    * first `SampledLists` vectors. The sampled artifact's name does not
    * carry it, so it is a constant, not a knob — another value would route
    * over lists the standing artifact was never partitioned into.
    */
  private[graft] final val SampledLists = 16

  /** Where a [[serve]] reads candidates and how it scores them — the
    * deployment knob; the serve loop is not. A layout supplies only its
    * codes source, its router and its ADC column.
    */
  sealed abstract class Layout(
      /** The persisted codes artifact this layout reads; None for an inline
        * encode.
        */
      private[graft] val codesKind: Option[String]) {

    /** Build (or find) the codes artifact before serving — a serving loop
      * must never pay the corpus-wide encode inside a request.
      */
    private[graft] def ensure(spark: SparkSession, sfDir: String): Unit =
      codesKind.foreach(ensureCodesKind(spark, sfDir, _))

    /** Scored (query_id, vec_id, adc) pairs for the query frame `qs`. */
    private[ops] def scored(spark: SparkSession, sfDir: String, qs: DataFrame): DataFrame
  }

  /** Flat PQ from the persisted sampled artifact — [[pqTopKTrained]]'s
    * answers with the corpus-wide encode gone from the serving plan: ADC
    * reads the 5-byte codes table, whole.
    */
  case object Flat extends Layout(Some(CodesKind.Sampled)) {
    private[ops] def scored(spark: SparkSession, sfDir: String, qs: DataFrame): DataFrame =
      codesSnapshotRead(spark, sfDir, codesKind.get)
        .join(broadcast(qs.select(col("query_id"), col("qvn"))))
        .withColumn("adc", trainedAdc(col("qvn"), col("codes")))
  }

  /** IVF-PQ — the standard two-level ANN layout (Jégou et al. §V: coarse
    * quantizer prunes, product codes rank). Each query ranks the coarse
    * lists driver-side ([[route]]: Q × nlist rows of planning metadata, the
    * routing table an ANN service keeps hot); the codes scan prunes to the
    * UNION of every query's first `nprobe` lists at the manifest level and
    * as static PartitionFilters, so at 100 TB a batch reads ≤ Q×nprobe list
    * partitions of a 5-byte/row table; and a (query, candidate) pair is
    * admitted only when the candidate's list is among THAT query's probes
    * (an in-row lookup of the broadcast probe-map literal — IVF semantics
    * per query, not per batch). With `nprobe` = all lists the admission is
    * vacuous and the serve equals [[Flat]] row for row.
    */
  sealed abstract class IvfLayout(kind: String, lists: Int, probes: Int)
      extends Layout(Some(kind)) {
    require(probes >= 1 && probes <= lists, s"nprobe must be in [1, $lists]: $probes")

    /** Each query's full list ranking, best first. */
    private[ops] def route(spark: SparkSession, sfDir: String,
                           qs: DataFrame): Map[Long, Seq[Long]]

    private[ops] def adc(qvn: Column, list: Column, codes: Column): Column

    private[ops] def scored(spark: SparkSession, sfDir: String, qs: DataFrame): DataFrame = {
      val byQuery = route(spark, sfDir, qs).map { case (q, r) => q -> r.take(probes) }
      val probed = byQuery.values.flatten.toSeq.distinct.sorted
      codesSnapshotRead(spark, sfDir, codesKind.get, Some(probed))
        .filter(col("list").isin(probed: _*)) // static partition pruning
        .join(broadcast(qs.select(col("query_id"), col("qvn"))))
        .filter(array_contains(element_at(typedLit(byQuery), col("query_id")), col("list")))
        .withColumn("adc", adc(col("qvn"), col("list"), col("codes")))
    }
  }

  /** IVF-PQ over the sampled artifact: raw-cosine routing against the
    * first [[SampledLists]] vectors (the fused cosine kernel the oracle's
    * `cosineSql` is bit-equal to, ties by centroid id), trained-book ADC.
    */
  final case class Ivf(nprobe: Int = 4) extends IvfLayout(CodesKind.Sampled, SampledLists, nprobe) {
    private[ops] def route(spark: SparkSession, sfDir: String,
                           qs: DataFrame): Map[Long, Seq[Long]] =
      Tables.load(spark, sfDir, "embeddings")
        .filter(col("vec_id") < SampledLists)
        .select(col("vec_id").as("cid"), toDouble(col("embedding")).as("cv"))
        .join(broadcast(qs.select(col("query_id"), col("qv"))))
        .select(col("query_id"), col("cid"), cosine(col("cv"), col("qv")).as("cs"))
        .collect()
        .groupBy(_.getLong(0))
        .map { case (q, rs) =>
          q -> rs.sortBy(r => (-r.getDouble(2), r.getLong(1))).map(_.getLong(1)).toSeq
        }
    private[ops] def adc(qvn: Column, list: Column, codes: Column): Column =
      trainedAdc(qvn, codes)
  }

  /** IVF-PQ on the FULLY-TRAINED stack: published coarse centroids
    * ([[IvfModel]]) route the query and partition the codes, published PQ
    * books ([[PqModel]]) quantize within lists — no sampled component
    * anywhere, the deployment shape after both model updates.
    */
  final case class IvfTrained(nprobe: Int = 4)
      extends IvfLayout(CodesKind.Trained, IvfModel.Nlist, nprobe) {
    private[ops] def route(spark: SparkSession, sfDir: String,
                           qs: DataFrame): Map[Long, Seq[Long]] = trainedRoute(qs)
    private[ops] def adc(qvn: Column, list: Column, codes: Column): Column =
      trainedAdc(qvn, codes)
  }

  /** Residual IVF-PQ — [[IvfTrained]]'s routing and pruning over the
    * residual artifact with [[residualAdc]]: same bits, same cost,
    * better-conditioned quantization.
    */
  final case class IvfResidual(nprobe: Int = 4)
      extends IvfLayout(CodesKind.Residual, IvfModel.Nlist, nprobe) {
    private[ops] def route(spark: SparkSession, sfDir: String,
                           qs: DataFrame): Map[Long, Seq[Long]] = trainedRoute(qs)
    private[ops] def adc(qvn: Column, list: Column, codes: Column): Column =
      residualAdc(qvn, list, codes)
  }

  /** Published-centroid routing: the [[ivfTrainedRanked]] ranking evaluated
    * in-plan on the Q-row query frame and collected (Q × nlist structs).
    */
  private def trainedRoute(qs: DataFrame): Map[Long, Seq[Long]] =
    qs.select(col("query_id"), ivfTrainedRanked(col("qvn")).as("r"))
      .collect()
      .map(row => row.getLong(0) ->
        row.getSeq[org.apache.spark.sql.Row](1).map(_.getInt(1).toLong))
      .toMap

  /** OPQ — the published variance-balancing dimension permutation ahead of
    * the unchanged ADC machinery, at identical bits to [[Flat]]. Served
    * from an inline permuted encode (a persisted permuted-codes table would
    * be the same 5 bytes/row, but would add a standing layout to the
    * erasure/census surface), so there is nothing to ensure. CAVEAT vs the
    * artifact layouts: the inline encode reads the RAW corpus directory at
    * plan time, so [[graft.streaming.AnnIngest]]'s snapshot isolation (a
    * serve sees pre- or post-growth in full) does NOT extend to it — a serve
    * planned mid-landing can list a subset of a multi-file drop. Under
    * concurrent ingest, prefer the artifact-backed layouts.
    */
  case object Opq extends Layout(None) {
    private[ops] def scored(spark: SparkSession, sfDir: String, qs: DataFrame): DataFrame =
      loadNormalized(spark, sfDir)
        // a column of its own: the encode reads the permuted vector once
        // per codeword, and must not re-permute per read
        .withColumn("pn", opqPermute(col("vn")))
        .select(col("vec_id"), opqCodes(col("pn")).as("codes"))
        .join(broadcast(qs.select(col("query_id"), opqPermute(col("qvn")).as("qpn"))))
        .withColumn("adc", opqAdc(col("qpn"), col("codes")))
  }

  /** Brute-force exact cosine top-k ids per query — the ONE definition of
    * ground truth the recall scorecard and both calibration curves share
    * (round-6 cosine desc, vec_id ties). A tie-break or rounding change
    * here moves every harness together; there is no second copy to drift.
    */
  private def exactTopKIds(spark: SparkSession, sfDir: String,
                           queryIds: Seq[Long], k: Int): DataFrame = {
    val emb = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    val qs = emb.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    emb.join(broadcast(qs))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(cosine(col("v"), col("qv")), 6).as("cos_sim"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("vec_id"))
  }

  /** Recall\@k scorecard over named layouts — "measure, don't guess" as a
    * first-class oracle-checked query: each layout's [[serve]] of the query
    * batch is scored against brute-force exact cosine top-k, one
    * (variant, query_id, hits, recall) row per (layout, query). Every
    * quantity is deterministic — exact top-k ties break on round-6 cosine
    * then vec_id, the ANN sides are the hash-green serves verbatim, hits is
    * an integer intersection count — so recall itself sits behind the
    * DuckDB hash gate: a quantizer or routing regression that silently
    * degrades recall FAILS correctness instead of passing with worse
    * answers. The exact side is O(n·Q) by construction (it is the ground
    * truth, not the serving path); the grid left-join keeps zero-hit
    * (variant, query) rows visible instead of vanishing them. The default
    * four layouts compare flat PQ, sampled-quantizer IVF-PQ and the two
    * TRAINED layouts at identical bits — `ivfpq_t` (raw-vector books) vs
    * `ivfpq_res` (residual books) differ ONLY in what the books quantize;
    * `ops_sim_recall_opq` scores `pq` vs `opq` the same way (only the
    * dimension-to-subspace dealing differs).
    */
  /** [[annRecall]]'s default variants: flat PQ and the three IVF layouts. */
  val RecallLayouts: Seq[(String, Layout)] = Seq("pq" -> Flat, "ivfpq" -> Ivf(),
    "ivfpq_t" -> IvfTrained(), "ivfpq_res" -> IvfResidual())

  def annRecall(spark: SparkSession, sfDir: String,
                queryIds: Seq[Long] = Seq(0L, 1L, 2L, 3L),
                k: Int = 10,
                layouts: Seq[(String, Layout)] = RecallLayouts): DataFrame = {
    import spark.implicits._
    require(layouts.nonEmpty, "the scorecard needs at least one layout")
    val qs = Tables.load(spark, sfDir, "embeddings")
      .filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"))
    val exact = exactTopKIds(spark, sfDir, queryIds, k)
    val ann = layouts.map { case (variant, layout) =>
        serve(spark, sfDir, layout, queryIds, k)
          .select(lit(variant).as("variant"), col("query_id"), col("vec_id"))
      }
      .reduce(_ unionByName _)
    val hits = ann.join(exact, Seq("query_id", "vec_id"), "left_semi")
      .groupBy(col("variant"), col("query_id"))
      .agg(count(lit(1)).as("hits"))
    val grid = layouts.map(_._1).toDF("variant").crossJoin(qs)
    grid.join(hits, Seq("variant", "query_id"), "left")
      .select(col("variant"), col("query_id"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        round(coalesce(col("hits"), lit(0L)) / lit(k.toDouble), 2).as("recall"))
  }

  /** The nprobe CALIBRATION curve — how a deployment actually picks the
    * IVF knob: for each nprobe in `grid`, the IVF [[serve]] (the hash-green
    * query, not a reimplementation) scored per query on BOTH axes of the
    * trade: recall\@k against brute-force exact cosine, and `scanned` = the
    * codes rows inside that query's probed lists — the 5-byte bytes-read
    * cost an ANN service pays, an exact integer from the deterministic list
    * assignment (so the whole curve sits behind the DuckDB hash gate; at
    * 100 TB you run this ONCE on a sample, read off the cheapest nprobe
    * meeting the recall target, and freeze it into the endpoint). The
    * scanned axis prefixes the layout's own [[IvfLayout.route]] ranking —
    * the routing the serves run, not a copy of it. Each grid serve routes
    * itself (|grid|+1 small routing collects in total); list sizes are one
    * nlist-row aggregate of the codes table — the calibration adds NO
    * corpus-sized work beyond the |grid| serves it is measuring. `grid`
    * should end at the list count (16): the full-probe row is the flat-PQ
    * ceiling (IVF admission vacuous), so the curve carries its own
    * asymptote. `trained = true` runs the same curve over [[IvfTrained]]
    * (published centroids routing, trained artifact sizes) — the
    * calibration a deployment re-runs after publishing its own
    * [[IvfModel]].
    */
  def ivfCalib(spark: SparkSession, sfDir: String,
               queryIds: Seq[Long] = Seq(0L, 1L, 2L, 3L),
               k: Int = 10,
               grid: Seq[Int] = Seq(1, 2, 4, 16),
               rerank: Int = 100,
               trained: Boolean = false): DataFrame = {
    import spark.implicits._
    require(grid.nonEmpty, "the calibration grid needs at least one nprobe")
    // each layout checks its nprobe against its list count
    val layouts = grid.map(np => np -> (if (trained) IvfTrained(np) else Ivf(np)))
    val exact = exactTopKIds(spark, sfDir, queryIds, k)
    val ann = layouts.map { case (np, layout) =>
        serve(spark, sfDir, layout, queryIds, k, rerank)
          .select(lit(np).as("nprobe"), col("query_id"), col("vec_id"))
      }
      .reduce(_ unionByName _)
    val hits = ann.join(exact, Seq("query_id", "vec_id"), "left_semi")
      .groupBy(col("nprobe"), col("query_id"))
      .agg(count(lit(1)).as("hits"))
    val layout = layouts.head._2
    val ranked = layout.route(spark, sfDir, queryFrame(spark, sfDir, queryIds))
    val sizes: Map[Long, Long] = codesSnapshotRead(spark, sfDir, layout.codesKind.get)
      .groupBy(col("list")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val scanned = (for {
      np <- grid; (q, lists) <- ranked.toSeq
    } yield (np, q, lists.take(np).map(sizes.getOrElse(_, 0L)).sum))
      .toDF("nprobe", "query_id", "scanned")
    scanned.join(hits, Seq("nprobe", "query_id"), "left")
      .select(col("nprobe"), col("query_id"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        round(coalesce(col("hits"), lit(0L)) / lit(k.toDouble), 2).as("recall"),
        col("scanned"))
  }

  /** Close the measure→DECIDE loop over the calibration curve: the
    * cheapest nprobe whose MEAN recall over the query batch (documented
    * choice: mean, i.e. Σhits / (Q·k) — the batch-throughput view an
    * endpoint optimizes; a per-query floor would be a different, stricter
    * policy) meets `recallTarget`, ties broken toward the smaller nprobe.
    * Cost is the total scanned codes rows over the batch — the integer
    * bytes-read axis [[ivfCalib]] already publishes. Both decision inputs
    * are exact integers from the hash-gated curve, and the emitted mean
    * recall is one shared IEEE division (Σhits / (Q·k), no rounding), so
    * the CHOICE itself sits behind the hash gate: a quantizer or routing
    * regression that shifts the knee now fails correctness. A target the
    * curve never reaches fails LOUDLY with the best achievable mean — a
    * deployment must widen the grid or fix the index, not silently serve
    * below its SLO. One row out: (nprobe, total_hits, mean_recall,
    * total_scanned).
    */
  def ivfChoose(spark: SparkSession, sfDir: String,
                recallTarget: Double = 0.8,
                queryIds: Seq[Long] = Seq(0L, 1L, 2L, 3L),
                k: Int = 10,
                grid: Seq[Int] = Seq(1, 2, 4, 16),
                rerank: Int = 100,
                trained: Boolean = false): DataFrame = {
    import spark.implicits._
    require(recallTarget > 0.0 && recallTarget <= 1.0,
      s"recallTarget must be in (0, 1]: $recallTarget")
    val denom = queryIds.size.toLong * k
    val need = math.ceil(recallTarget * denom).toLong
    // the curve is the hash-green calibration VERBATIM (the serves are the
    // cost; this aggregation is |grid| rows of planning metadata)
    val curve = ivfCalib(spark, sfDir, queryIds, k, grid, rerank, trained)
      .groupBy(col("nprobe"))
      .agg(sum(col("hits")).as("th"), sum(col("scanned")).as("ts"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .toSeq.sortBy(_._1)
    val eligible = curve.filter(_._2 >= need)
    require(eligible.nonEmpty, {
      val best = curve.maxBy(_._2)
      f"no nprobe in grid ${grid.mkString("{", ",", "}")} reaches mean " +
        f"recall $recallTarget%.2f (need $need/$denom hits); best is " +
        f"nprobe=${best._1} at ${best._2}/$denom — widen the grid, raise " +
        "rerank, or retrain the quantizer"
    })
    val (np, hits, scanned) = eligible.minBy(t => (t._3, t._1))
    Seq((np, hits, hits.toDouble / denom, scanned))
      .toDF("nprobe", "total_hits", "mean_recall", "total_scanned")
  }

  // ===== OPQ — Optimized Product Quantization restricted to PERMUTATIONS
  // (Ge et al. CVPR'13: reassign DIMENSIONS to subspaces so each book
  // quantizes a comparable share of the corpus variance; the rotation-free
  // form costs one free in-row reorder at serving time instead of a dense
  // matrix multiply, and already fixes the block-concentrated-variance
  // failure mode that starves PQ books — see [[graft.OpqTrain]] and
  // `OpqSpec`'s anisotropic fixture). Identical bits to the flat trained
  // layout: same m/ksub/rerank, only WHICH dims each book sees differs. =====

  /** [[OpqModel]]'s published books → doubles, one plan literal (micro /
    * 1e6 — the same IEEE division the oracle performs).
    */
  private lazy val opqBooks: Column = typedLit(
    OpqModel.Micros.map(_.map(_.map(_ / 1e6).toSeq).toSeq).toSeq: Seq[Seq[Seq[Double]]])

  /** The published permutation as an in-row projection: permuted position
    * j reads original dimension `Perm(j)` — an `element_at` reorder, free
    * inside whole-stage codegen (vs the dense rotate full OPQ would pay
    * per vector per query).
    */
  private def opqPermute(vn: Column): Column =
    array(OpqModel.Perm.map(d => element_at(vn, d + 1)): _*)

  /** In-row OPQ encode / ADC over a PERMUTED normalized vector — the
    * shared [[bookCodes]]/[[bookAdc]] machinery against [[OpqModel]]'s
    * books. Query and candidate live in the SAME permuted space (one
    * permutation for the whole corpus — unlike residual IVF-PQ there is
    * no per-cell table).
    */
  private def opqCodes(pvn: Column): Column =
    bookCodes(opqBooks, OpqModel.M, OpqModel.Ksub, OpqModel.Sub, pvn)

  private def opqAdc(qpn: Column, codes: Column): Column =
    bookAdc(opqBooks, OpqModel.M, OpqModel.Sub, qpn, codes)

  /** The variance-balance AUDIT behind the permutation — per subspace, the
    * exact integer variance mass (Σ_d n·Σm² − (Σm)² over milli-quantized
    * normalized coordinates, the same grid [[graft.OpqTrain]] ranks on)
    * under the IDENTITY dealing vs the published OPQ dealing. One corpus
    * scan, one 129-column partial aggregation (2 sums per dim + n — a
    * single row of bounded metadata); the 8-row scorecard is driver
    * arithmetic on exact longs ([[ivfChoose]]'s planning-metadata
    * discipline). Every value is an integer, so the audit — the published
    * artifact's reason to exist — sits behind the DuckDB hash gate: a
    * trainer regression that unbalances the dealing fails correctness.
    * Milli (not micro) grid: n·Σm² stays in signed-64 range at x100.
    */
  def opqBalance(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dim = Dim
    val milli = loadNormalized(spark, sfDir)
      .select(transform(col("vn"), x => floor(x * lit(1e3)).cast("long")).as("mv"))
    val aggs = (0 until dim).flatMap(d => Seq(
      sum(element_at(col("mv"), d + 1)).as(s"s$d"),
      sum(element_at(col("mv"), d + 1) * element_at(col("mv"), d + 1)).as(s"q$d")
    )) :+ count(lit(1)).as("n")
    val row = milli.agg(aggs.head, aggs.tail: _*).collect().head
    val n = row.getLong(2 * dim)
    def varNum(d: Int): Long = Math.subtractExact(
      Math.multiplyExact(n, row.getLong(2 * d + 1)),
      Math.multiplyExact(row.getLong(2 * d), row.getLong(2 * d)))
    val sub = dim / OpqModel.M
    (0 until OpqModel.M).map { g =>
      val idDims = (g * sub) until ((g + 1) * sub)
      val opDims = OpqModel.Perm.slice(g * sub, (g + 1) * sub)
      (g.toLong,
        idDims.map(varNum).reduce((a, b) => Math.addExact(a, b)),
        opDims.map(varNum).reduce((a, b) => Math.addExact(a, b)))
    }.toDF("subspace", "var_identity", "var_opq")
  }
}
