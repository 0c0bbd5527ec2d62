package graft

/** OFFLINE trainer for the published IVF coarse quantizer
  * ([[graft.ops.IvfModel]]) — the same discipline as [[PqTrain]], and
  * literally the same loop: a coarse quantizer IS product quantization
  * with ONE subspace spanning the full vector, so training is
  * `PqTrain.train(vecs, m = 1, ksub = nlist, iters)` — exact nano-grid
  * means, argmin by (L2, cid) on the normalized vectors, init = the first
  * `nlist` vectors (the sampled quantizer `ivfTopK`/[[graft.ops.Similarity.ensurePqCodes]]
  * serve with today). One trainer, one order-free recurrence, one
  * distributed twin ([[PqTrain.trainDistributed]] with m = 1) — nothing
  * new to verify at scale. What ships is the integer-micro centroid table
  * ([[graft.ops.IvfModel.Micros]], nlist × dim): both engines divide the
  * same integers by 1e6, so list assignment and query routing are
  * cross-engine exact, the property the hash gate needs.
  *
  * Usage: `runMain graft.IvfTrain [sfDir] [outFile]` — writes the
  * `graft.ops.IvfModel` source (default /tmp/IvfModel.scala); review and
  * commit it like any published model.
  */
object IvfTrain {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("/tmp/IvfModel.scala")
    val (nlist, iters) = (16, 5)

    val spark = Harness.session()
    val vecs = PqTrain.normalizedCorpus(spark, sfDir)
    val micros = PqTrain.train(vecs, m = 1, ksub = nlist, iters = iters)(0)

    val body = micros.map(c => c.mkString("    Array(", "L, ", "L)"))
      .mkString("  val Micros: Array[Array[Long]] = Array(\n", ",\n", ")\n")
    val src =
      s"""package graft.ops
         |
         |/** PUBLISHED IVF coarse-quantizer centroids — trained offline by
         |  * [[graft.IvfTrain]] (Lloyd with one full-dim subspace, $iters
         |  * iterations, init = the first $nlist vectors — the sampled
         |  * quantizer) on the $sfDir embeddings and DISTILLED to integer
         |  * micro-units (the [[PqModel]] discipline: learned floats never
         |  * cross engines, these integers do). Regenerate with
         |  * `runMain graft.IvfTrain` after retraining; the artifact is data —
         |  * review the diff like a model update, not a code change.
         |  */
         |object IvfModel {
         |  val Nlist = $nlist
         |$body}
         |""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      src.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Harness.emit("ivf_train", "nlist" -> nlist, "iters" -> iters, "out" -> out)
    spark.stop()
  }
}
