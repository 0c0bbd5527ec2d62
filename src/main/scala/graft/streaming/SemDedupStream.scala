package graft.streaming

import graft.ops.Similarity
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupState

/** Online SEMANTIC near-dup detection — the embedding-space sibling of
  * [[DedupStream]], mirroring batch SemDeDup ([[Similarity.semDedupDf]])
  * the way `DedupStream.verifiedCandidates` mirrors `Dedup.dedupVerifyDf`:
  *
  *  1. **Assignment is the batch expression verbatim**: nearest centroid by
  *     fused-kernel cosine over a one-row broadcast of the (static)
  *     centroid set — a stream-static broadcast join, pure projection on
  *     the stream side, no stream-side shuffle before the keyed state.
  *  2. **Cluster state = the exemplar set under the SAME `clusterCap`
  *     discipline**: the first `cap` members (by vec_id — the replay
  *     contract orders micro-batch arrivals in-handler, so with id-ordered
  *     replay the set equals the batch window's `rn <= cap` lowest-id
  *     exemplars); members join the set dropped or not, exactly like the
  *     batch window.
  *  3. **Judgment is the batch predicate bit-for-bit**: dropped iff a
  *     SMALLER-id exemplar clears `round(cos, 6) >= tau`, with cosine
  *     replicated from the [[graft.functions.VectorExprs.cosine]] kernel's
  *     sequential accumulation (`ab/sqrt(aa*bb)`) and the round via
  *     `BigDecimal.valueOf` HALF_UP — the same double-rounding Spark's
  *     `Round` performs. `SemDedupStreamSpec` pins row-for-row equality of
  *     (vec_id, bucket, kept) against `semDedupDf` on a corpus replay.
  *
  * Scale: state per cluster is `cap` embedding vectors (cap × dim doubles —
  * the bounded-row contract the batch cap exists for); `stateTtl` bounds
  * cluster count over unbounded streams. The greedy chain is order-
  * dependent by definition, so the in-handler sort on vec_id is semantics,
  * not overhead.
  */
object SemDedupStream {

  case class VecRow(bucket: Long, vec_id: Long, v: Seq[Double])
  case class Exemplar(vec_id: Long, v: Seq[Double])
  case class ClusterState(ex: Seq[Exemplar])
  case class Judged(vec_id: Long, bucket: Long, kept: Boolean)

  /** Batch-verbatim nearest-centroid assignment of a streaming (vec_id, v)
    * frame against a STATIC centroid row (one-row frame with a `cents`
    * array of (cid, cv) structs — the shape [[Similarity.semDedupDf]]
    * builds). Broadcast stream-static join: legal in append streams and a
    * pure narrow stage.
    */
  def assign(vecs: DataFrame, cents: DataFrame): DataFrame =
    vecs.join(broadcast(cents))
      .withColumn("bucket",
        element_at(array_sort(transform(col("cents"),
          c => struct((-Similarity.cosine(col("v"), c("cv"))).as("neg"),
            c("cid").as("cid")))), 1)("cid"))
      .select(col("bucket"), col("vec_id"), col("v"))

  /** The batch centroid row for a static embeddings frame — `nlist`
    * lowest-id vectors, identical to [[Similarity.semDedupDf]]'s.
    */
  def centroids(e: DataFrame, nlist: Int = 16): DataFrame =
    e.filter(col("vec_id") < nlist)
      .agg(sort_array(collect_list(struct(col("vec_id").as("cid"), col("v").as("cv"))))
        .as("cents"))

  /** Greedy per-cluster judgment over raw-vector exemplar state (see the
    * object doc). `initial` seeds MIGRATED cluster state
    * ([[StateMigration.readSemDedupState]]): relocating the semantic-dedup
    * store keeps its exemplar sets, so resumed judgments stay consistent
    * with history (a fresh store would re-admit every vector whose
    * exemplar was lost).
    */
  def judged(assigned: Dataset[VecRow], tau: Double = 0.4, clusterCap: Int = 256,
             stateTtl: Option[String] = None,
             initial: Option[Dataset[(Long, ClusterState)]] = None): Dataset[Judged] = {
    import assigned.sparkSession.implicits._
    KeyedState.classic(assigned.groupByKey(_.bucket), stateTtl, initial)(
      (bucket: Long, rows: Iterator[VecRow], state: GroupState[ClusterState]) =>
        onCluster(bucket, rows, state, stateTtl, tau, clusterCap))
  }

  // ===== PQ-screened exemplar state (5 bytes/exemplar + rerank cost) =====

  /** Exemplar compressed to its trained-PQ form: the 8 codeword ids
    * ([[graft.ops.PqModel]] — 5 logical bytes) plus the exemplar's own
    * quantization error ‖en − recon(en)‖ (the soundness radius the ADC
    * pre-screen needs). ~24 bytes vs cap × dim × 8 for the raw-vector
    * exemplar — the state-size story `StreamBench` measures.
    */
  case class PqExemplar(vec_id: Long, codes: Seq[Int], err: Double)

  /** Driver/executor-side trained-PQ kernels over [[graft.ops.PqModel]]'s
    * published integers — plain-double arithmetic (no cross-engine oracle
    * here; the contract is SOUNDNESS of the screen, pinned by the parity
    * spec against the raw-vector path).
    */
  private[graft] object PqScreen {
    import graft.ops.PqModel
    lazy val books: Array[Array[Array[Double]]] =
      PqModel.Micros.map(_.map(_.map(_ / 1e6)))

    /** Normalized copy, or null for a zero vector (screen then defers to
      * the exact path, whose NaN-cosine never drops — parity either way).
      */
    def normalize(v: Seq[Double]): Array[Double] = {
      val a = v.toArray
      var ss = 0.0; var i = 0
      while (i < a.length) { ss += a(i) * a(i); i += 1 }
      if (ss == 0.0) return null
      val n = math.sqrt(ss); i = 0
      val out = new Array[Double](a.length)
      while (i < a.length) { out(i) = a(i) / n; i += 1 }
      out
    }

    /** L2² between one subspace of `x` and codeword (mi, cid). */
    private def subL2(x: Array[Double], mi: Int, cid: Int): Double = {
      val cw = books(mi)(cid)
      var s = 0.0; var j = 0
      while (j < PqModel.Sub) {
        val d = x(mi * PqModel.Sub + j) - cw(j); s += d * d; j += 1
      }
      s
    }

    def encode(en: Array[Double]): Array[Int] =
      Array.tabulate(PqModel.M) { mi =>
        var best = 0; var bestD = Double.MaxValue; var cid = 0
        while (cid < PqModel.Ksub) {
          val d = subL2(en, mi, cid)
          if (d < bestD) { bestD = d; best = cid }
          cid += 1
        }
        best
      }

    /** ADC = exact L2² between a normalized vector and an exemplar's
      * RECONSTRUCTION (per-subspace codeword concatenation).
      */
    def adc(rn: Array[Double], codes: Seq[Int]): Double = {
      var s = 0.0; var mi = 0
      while (mi < PqModel.M) { s += subL2(rn, mi, codes(mi)); mi += 1 }
      s
    }

    /** Soundness margin for the screen: the bound is on TRUE cosine of
      * normalized vectors; the decided value is round6 of the sequential
      * kernel over RAW vectors. Kernel float error at dim 64 is ≲1e-10 and
      * round6 moves ≤5e-7; 1e-4 dominates both with room to spare, at the
      * price of exact-checking pairs within 1e-4 of tau — the right trade,
      * a screen must never flip a judgment.
      */
    val Margin = 1e-4

    /** True iff cos(e, r) < tau PROVABLY, from codes alone: by triangle
      * inequality ‖en−rn‖ ≥ ‖recon(e)−rn‖ − ‖en−recon(e)‖ = √adc − err,
      * and for unit vectors cos = 1 − ‖en−rn‖²/2, so cos ≤ 1 − (√adc −
      * err)²/2 whenever √adc > err. A skipped pair would have failed the
      * exact check too — judgments cannot change, only costs.
      */
    def provablyBelow(rn: Array[Double], e: PqExemplar, tau: Double): Boolean = {
      if (rn == null) return false
      val a = math.sqrt(adc(rn, e.codes)) - e.err
      a > 0.0 && 1.0 - a * a / 2.0 < tau - Margin
    }

    /** A row's stored form. A zero vector has no meaningful
      * reconstruction: infinite radius forces every probe to the exact
      * path, whose NaN cosine never drops (same as the raw-state path).
      */
    def exemplar(r: VecRow): PqExemplar = {
      val rn = normalize(r.v)
      if (rn == null) PqExemplar(r.vec_id, Seq.fill(PqModel.M)(0), Double.PositiveInfinity)
      else {
        val codes = encode(rn)
        PqExemplar(r.vec_id, codes.toSeq, math.sqrt(adc(rn, codes)))
      }
    }
  }

  /** [[judged]] with PQ-SCREENED exemplar state — the 100 TB posture for
    * the semantic gate: the store holds [[PqExemplar]]s (~24 bytes)
    * instead of raw cap × dim vectors, the ADC pre-screen settles most
    * pairs from codes alone, and only the survivors pay `fetchVec` — a
    * POINT READ of the exemplar's raw vector (in production a
    * vector-store/row-store lookup keyed by vec_id; the bench wires a
    * broadcast map, the deployment wires its KV client) — before the SAME
    * exact round6-cosine decides. Judgments are identical to [[judged]] by
    * the screen's soundness bound ([[PqScreen.provablyBelow]]);
    * `SemDedupStreamSpec` pins row-for-row equality. `stateTtl` expires a
    * whole idle cluster, as in [[judged]].
    */
  def judgedPq(assigned: Dataset[VecRow], fetchVec: Long => Seq[Double],
               tau: Double = 0.4, clusterCap: Int = 256,
               stateTtl: Option[String] = None): Dataset[Judged] = {
    import assigned.sparkSession.implicits._
    KeyedState.classic(assigned.groupByKey(_.bucket), stateTtl, None)(
      (bucket: Long, rows: Iterator[VecRow], state: GroupState[Seq[PqExemplar]]) =>
        onPqCluster(bucket, rows, state, stateTtl, tau, clusterCap, fetchVec))
  }

  /** Sequential-accumulation cosine — bit-parity with the fused
    * [[graft.functions.VectorExprs]] kernel (`ab/sqrt(aa*bb)`, one pass).
    */
  private[graft] def cosine(a: Seq[Double], b: Seq[Double]): Double = {
    var ab = 0.0; var aa = 0.0; var bb = 0.0
    var i = 0
    val n = a.length
    while (i < n) {
      ab += a(i) * b(i); aa += a(i) * a(i); bb += b(i) * b(i)
      i += 1
    }
    ab / math.sqrt(aa * bb)
  }

  private def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** THE greedy recurrence, shared by [[onCluster]] and [[onPqCluster]]
    * so the raw and PQ-screened stores cannot drift. Rows run in vec_id
    * order — the greedy chain's semantics (a member is judged only against
    * SMALLER ids), not an optimization. A row is dropped iff `dupOf(r)`
    * holds for a smaller-id exemplar, and joins the set, dropped or not,
    * while the set is under `clusterCap`. The two stores differ only in
    * the check and in the exemplar `enrol` builds.
    */
  private[graft] def greedy[E](bucket: Long, ex0: Seq[E], rows: Iterator[VecRow], clusterCap: Int)(
      idOf: E => Long, dupOf: VecRow => E => Boolean, enrol: VecRow => E): (Seq[E], Seq[Judged]) = {
    var ex = ex0.toVector
    val out = rows.toSeq.sortBy(_.vec_id).map { r =>
      val dup = dupOf(r)
      val dropped = ex.exists(e => idOf(e) < r.vec_id && dup(e))
      if (ex.size < clusterCap) ex = ex :+ enrol(r)
      Judged(r.vec_id, bucket, !dropped)
    }
    (ex, out)
  }

  /** [[greedy]] over raw-vector exemplars, on a cluster's `GroupState`:
    * TTL expiry removes the cluster and does NOT re-arm (re-arming a
    * timed-out key writes it back and it re-fires forever).
    */
  private[graft] def onCluster(bucket: Long, rows: Iterator[VecRow],
                               state: GroupState[ClusterState],
                               stateTtl: Option[String], tau: Double,
                               clusterCap: Int): Iterator[Judged] =
    if (state.hasTimedOut) { state.remove(); Iterator.empty }
    else {
      val (ex, out) = greedy(bucket, state.getOption.fold(Seq.empty[Exemplar])(_.ex),
        rows, clusterCap)(_.vec_id,
        r => e => round6(cosine(e.v, r.v)) >= tau,
        r => Exemplar(r.vec_id, r.v))
      state.update(ClusterState(ex))
      stateTtl.foreach(state.setTimeoutDuration)
      out.iterator
    }

  /** [[greedy]] over PQ exemplars, same expiry discipline as
    * [[onCluster]]: a pair the codes cannot rule out pays one `fetchVec`
    * and the exact check.
    */
  private[graft] def onPqCluster(bucket: Long, rows: Iterator[VecRow],
                                 state: GroupState[Seq[PqExemplar]],
                                 stateTtl: Option[String], tau: Double,
                                 clusterCap: Int,
                                 fetchVec: Long => Seq[Double]): Iterator[Judged] =
    if (state.hasTimedOut) { state.remove(); Iterator.empty }
    else {
      val (ex, out) = greedy(bucket, state.getOption.getOrElse(Seq.empty), rows,
        clusterCap)(_.vec_id,
        r => {
          val rn = PqScreen.normalize(r.v)
          e => !PqScreen.provablyBelow(rn, e, tau) &&
            round6(cosine(fetchVec(e.vec_id), r.v)) >= tau
        },
        PqScreen.exemplar)
      state.update(ex)
      stateTtl.foreach(state.setTimeoutDuration)
      out.iterator
    }
}
