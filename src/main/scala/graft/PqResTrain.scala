package graft

/** OFFLINE trainer for the published RESIDUAL PQ codebooks
  * ([[graft.ops.PqResModel]]) — the textbook IVF-PQ composition (Jégou,
  * Douze, Schmid, TPAMI 2011 §V): instead of quantizing raw normalized
  * vectors, the books quantize the residual x − c(list) under the
  * published coarse quantizer ([[graft.ops.IvfModel]]), so the codebook
  * budget models within-cell variance rather than re-encoding the cell
  * position the `list` id already carries. Training is [[PqTrain.train]]
  * UNCHANGED — fed residual rows: same exact nano-grid means, same
  * order-free recurrence, same distributed twin, same bit-for-bit
  * reproducibility pin.
  *
  * The residual of each vector is taken under the DRIVER-SIDE twin of
  * `Similarity.ivfTrainedRanked`'s assignment: micro-L2 (ordered
  * index-fold of (x−c)², floored to integer micros) against the published
  * centroids, ties by cid ascending — the identical arithmetic the Spark
  * plan and the DuckDB oracle run, so the training-time partition and the
  * serving-time partition are one function.
  *
  * Usage: `runMain graft.PqResTrain [sfDir] [outFile]` — writes the
  * `graft.ops.PqResModel` source; review and commit it like any published
  * model.
  */
object PqResTrain {

  private lazy val cents: Array[Array[Double]] =
    graft.ops.IvfModel.Micros.map(_.map(_ / 1e6))

  /** Ordered-fold micro-L2 — bit-identical to `Similarity.pqL2Micro` (same
    * IEEE ops in the same order, then floor × 1e6).
    */
  private[graft] def microL2(a: Array[Double], b: Array[Double]): Long = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    math.floor(s * 1e6).toLong
  }

  /** The trained coarse assignment of one NORMALIZED vector: (micro-L2,
    * cid)-argmin against [[graft.ops.IvfModel]] — `<` keeps the lowest cid
    * on ties, matching the plan's (d, cid)-ascending sort.
    */
  private[graft] def assignList(vn: Array[Double]): Int = {
    var best = 0; var bd = microL2(vn, cents(0)); var c = 1
    while (c < cents.length) {
      val d = microL2(vn, cents(c)); if (d < bd) { bd = d; best = c }; c += 1
    }
    best
  }

  /** Residuals of a normalized corpus under the published coarse
    * quantizer, in input order — the training rows for the residual books
    * (|r_i| ≤ 2 since both operands are ≤ 1 in magnitude, well inside
    * [[PqTrain.nanoQuant]]'s exact range).
    */
  private[graft] def residuals(vecs: Array[Array[Double]]): Array[Array[Double]] =
    vecs.map { vn =>
      val c = cents(assignList(vn))
      Array.tabulate(vn.length)(i => vn(i) - c(i))
    }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("/tmp/PqResModel.scala")
    val (m, ksub, iters) = (8, 32, 5)
    val sub = graft.ops.Similarity.Dim / m

    val spark = Harness.session()
    val res = residuals(PqTrain.normalizedCorpus(spark, sfDir))
    val micros = PqTrain.train(res, m, ksub, iters)
    val body = micros.map(book =>
      book.map(cw => cw.mkString("Array(", "L, ", "L)"))
        .mkString("    Array(\n      ", ",\n      ", ")"))
      .mkString("  val Micros: Array[Array[Array[Long]]] = Array(\n", ",\n", ")\n")
    val src =
      s"""package graft.ops
         |
         |/** PUBLISHED residual-PQ codebooks — trained offline by
         |  * [[graft.PqResTrain]] (per-subspace Lloyd, $iters iterations, init =
         |  * the first $ksub residuals) on the $sfDir embeddings' RESIDUALS
         |  * under the published [[IvfModel]] coarse quantizer, and DISTILLED
         |  * to integer micro-units (the [[PqModel]] discipline: learned floats
         |  * never cross engines, these integers do). Regenerate with
         |  * `runMain graft.PqResTrain` after retraining EITHER model — the
         |  * residual books are defined relative to the coarse centroids; the
         |  * artifact is data, review the diff like a model update.
         |  */
         |object PqResModel {
         |  val M = $m
         |  val Ksub = $ksub
         |  val Sub = $sub
         |$body}
         |""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      src.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Harness.emit("pq_res_train", "subspaces" -> m, "ksub" -> ksub, "iters" -> iters, "out" -> out)
    spark.stop()
  }
}
