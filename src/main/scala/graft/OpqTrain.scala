package graft

/** OFFLINE trainer for the published OPQ permutation + codebooks
  * ([[graft.ops.OpqModel]]) — Optimized Product Quantization restricted to
  * PERMUTATIONS (Ge et al., "Optimized Product Quantization", CVPR'13: the
  * non-parametric "Eigenvalue Allocation" idea without the rotation —
  * reassign DIMENSIONS to subspaces so each book quantizes a comparable
  * share of the corpus variance, instead of whatever share the storage
  * order happens to deal it). A rotation would require a dense matrix
  * multiply per vector at serving time; a permutation is a free in-row
  * projection (`element_at` reorder) and already captures the failure mode
  * that actually hurts PQ on real embeddings: variance CONCENTRATED in a
  * contiguous block of dimensions starves every other subspace's codebook
  * while overloading one (see `OpqSpec`'s anisotropic fixture — identical
  * bits, measurably worse recall for the identity layout).
  *
  * Discipline mirrors [[PqTrain]]/[[IvfTrain]]: every ranking quantity is
  * an EXACT integer so the artifact is bit-for-bit reproducible —
  * per-dimension variance is ranked by the integer numerator
  * n·Σm² − (Σm)² over MILLI-quantized coordinates (floor(x·1e3): coarse
  * enough that n·Σ group sums stay in signed-64 range at x100 scale, which
  * is what lets the `ops_opq_balance` audit publish the same integers
  * through the DuckDB hash gate), the greedy assignment breaks every tie
  * deterministically, and the books are [[PqTrain.train]] UNCHANGED fed
  * permuted rows — the same Lloyd recurrence, nano-grid means, sampled
  * init, and distillation the other three book families use.
  *
  * Usage: `runMain graft.OpqTrain [sfDir] [outFile]` — writes the
  * `graft.ops.OpqModel` source (default /tmp/OpqModel.scala); review and
  * commit like any published model.
  */
object OpqTrain {

  /** Milli-grid quantization of a normalized coordinate: |x| ≤ 1 so
    * |milli| ≤ 1000. floor (not round) matches the established cross-engine
    * integer-grid idiom (`dmicro`'s floor in every PQ oracle).
    */
  private[graft] def milliFloor(v: Array[Double]): Array[Long] =
    v.map(x => math.floor(x * 1e3).toLong)

  /** Per-dimension variance NUMERATORS n·Σm² − (Σm)² over the milli grid —
    * exact BigInt on the driver (the trainer runs over the bounded
    * published-model corpus), identical in VALUE to the BIGINT arithmetic
    * the `ops_opq_balance` oracle performs.
    */
  private[graft] def varianceNumerators(vecs: Array[Array[Double]]): Array[BigInt] = {
    val dim = vecs.head.length
    val s = Array.fill(dim)(BigInt(0))
    val s2 = Array.fill(dim)(BigInt(0))
    vecs.foreach { v =>
      val m = milliFloor(v)
      var d = 0
      while (d < dim) { s(d) += m(d); s2(d) += BigInt(m(d)) * m(d); d += 1 }
    }
    val n = BigInt(vecs.length)
    Array.tabulate(dim)(d => n * s2(d) - s(d) * s(d))
  }

  /** Deterministic balanced-variance assignment: dimensions sorted by
    * (variance desc, dim asc) are dealt greedily, each to the group with
    * the smallest variance sum so far among groups with remaining capacity
    * (tie: lowest group index) — the classic LPT/greedy-number-partitioning
    * heuristic, which is what "balance the eigenvalue products" reduces to
    * for diagonal covariance. Within each group dims sort ascending, so the
    * permutation is CANONICAL given the variance profile. Returns `perm`
    * with `perm(j)` = the original dimension feeding permuted position `j`
    * (position j lands in subspace j / sub).
    */
  private[graft] def permutation(varNum: Array[BigInt], m: Int): Array[Int] = {
    val dim = varNum.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val sub = dim / m
    val order = varNum.indices.sortBy(d => (-varNum(d), d))
    val groups = Array.fill(m)(scala.collection.mutable.ArrayBuffer.empty[Int])
    val sums = Array.fill(m)(BigInt(0))
    order.foreach { d =>
      val g = (0 until m).filter(groups(_).size < sub)
        .minBy(g => (sums(g), BigInt(g)))
      groups(g) += d
      sums(g) += varNum(d)
    }
    groups.flatMap(_.sorted)
  }

  private[graft] def permute(v: Array[Double], perm: Array[Int]): Array[Double] =
    perm.map(v(_))

  /** Derive (perm, books) from a normalized corpus — shared by the
    * publishing main and `OpqSpec`'s bit-for-bit reproducibility pin.
    */
  private[graft] def derive(vecs: Array[Array[Double]], m: Int, ksub: Int,
                            iters: Int): (Array[Int], Array[Array[Array[Long]]]) = {
    val perm = permutation(varianceNumerators(vecs), m)
    (perm, PqTrain.train(vecs.map(permute(_, perm)), m, ksub, iters))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("/tmp/OpqModel.scala")
    val (m, ksub, iters) = (8, 32, 5)
    val dim = graft.ops.Similarity.Dim
    val sub = dim / m

    val spark = Harness.session()
    val vecs = PqTrain.normalizedCorpus(spark, sfDir)
    val (perm, micros) = derive(vecs, m, ksub, iters)
    val permSrc = perm.mkString(
      "  val Perm: Array[Int] = Array(\n    ", ", ", ")\n")
    val body = micros.map(book =>
      book.map(cw => cw.mkString("Array(", "L, ", "L)"))
        .mkString("    Array(\n      ", ",\n      ", ")"))
      .mkString("  val Micros: Array[Array[Array[Long]]] = Array(\n", ",\n", ")\n")
    val src =
      s"""package graft.ops
         |
         |/** PUBLISHED OPQ artifact — a variance-balancing dimension PERMUTATION
         |  * plus the product-quantization codebooks trained on the PERMUTED
         |  * vectors, derived offline by [[graft.OpqTrain]] (milli-grid integer
         |  * variance ranking, greedy balanced assignment, then the [[PqModel]]
         |  * Lloyd loop on permuted rows — $iters iterations, sampled init) on the
         |  * $sfDir embeddings and DISTILLED to integer micro-units. `Perm(j)` =
         |  * the ORIGINAL dimension feeding permuted position j. Regenerate with
         |  * `runMain graft.OpqTrain` after retraining; the artifact is data —
         |  * review the diff like a model update, not a code change.
         |  */
         |object OpqModel {
         |  val M = $m
         |  val Ksub = $ksub
         |  val Sub = $sub
         |$permSrc$body}
         |""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      src.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Harness.emit("opq_train", "subspaces" -> m, "ksub" -> ksub, "iters" -> iters, "out" -> out)
    spark.stop()
  }
}
