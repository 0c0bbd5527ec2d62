package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** OFFLINE trainer for the published PQ codebooks ([[graft.ops.PqModel]]) —
  * the QualityModel pattern applied to ANN: learned float centroids never
  * cross engines, the distilled integer-micro codewords do. Per subspace,
  * plain Lloyd over the NORMALIZED subvectors: init = the sampled quantizer
  * (the first ksub vectors — the same init `pqTopK` serves with), argmin by
  * (L2, cid), empty clusters keep their centroid, fixed iteration count.
  *
  * The centroid-update mean is deliberately ORDER-FREE: members are
  * quantized to an exact integer NANO grid (round(x·1e9) — three decades
  * below the 1e6 distillation grid the artifact ships at, so the grid is
  * invisible in the published codewords' units) and summed as longs, which
  * is exactly associative and commutative where float addition is not.
  * That one property is what makes a distributed trainer POSSIBLE: the
  * same recurrence run as a Spark partial aggregation ([[trainDistributed]])
  * produces the same bits regardless of partitioning or merge order, so
  * "train on the driver over the bounded fixture" and "train on the
  * cluster over a 100 TB corpus" are one algorithm, spec-pinned equal
  * (`PqModelSpec`), not a driver toy plus an untested scale story. What
  * ships either way is the frozen integer artifact, which is what the
  * engines compare on.
  *
  * Usage: `runMain graft.PqTrain [sfDir] [outFile]` — writes the
  * `graft.ops.PqModel` source (default /tmp/PqModel.scala); review and
  * commit it like any published model.
  */
object PqTrain {

  private def l2(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** Exact nano-grid representation of a normalized subvector: |x| ≤ 1 so
    * |nano| ≤ 1e9 + 1 — [[java.lang.Math.round]] ties-away is deterministic,
    * and per-cluster sums overflow a signed long only past ~9.2e9 members
    * (addExact fails loudly there rather than wrapping silently).
    */
  private[graft] def nanoQuant(a: Array[Double]): Array[Long] =
    a.map(x => Math.round(x * 1e9))

  private[graft] def addExactVec(a: Array[Long], b: Array[Long]): Array[Long] = {
    val out = new Array[Long](a.length)
    var i = 0; while (i < a.length) { out(i) = Math.addExact(a(i), b(i)); i += 1 }
    out
  }

  /** The shared mean: exact integer sum → one double division. Both the
    * driver loop and the distributed twin call THIS, so the learned floats
    * (hence assignments, hence the artifact) are bit-identical by
    * construction, not by hoping float sums land the same way.
    */
  private[graft] def nanoMean(sum: Array[Long], n: Long): Array[Double] =
    sum.map(_.toDouble / (n.toDouble * 1e9))

  private def argmin(s: Array[Double], cents: Array[Array[Double]]): Int = {
    var best = 0; var bd = l2(s, cents(0)); var c = 1
    while (c < cents.length) {
      val d = l2(s, cents(c)); if (d < bd) { bd = d; best = c }; c += 1
    }
    best
  }

  /** The training loop, callable so `PqModelSpec` can re-derive the
    * committed artifact from the fixture and pin bit-for-bit
    * reproducibility. `vecs` must be NORMALIZED, in vec_id order.
    */
  def train(vecs: Array[Array[Double]], m: Int, ksub: Int,
            iters: Int): Array[Array[Array[Long]]] = {
    val sub = vecs.head.length / m
    val books: Array[Array[Array[Double]]] = (0 until m).map { mi =>
      val subs = vecs.map(_.slice(mi * sub, mi * sub + sub))
      var cents = (0 until ksub).map(subs(_)).toArray
      (0 until iters).foreach { _ =>
        val assign = subs.map(argmin(_, cents))
        cents = (0 until ksub).map { c =>
          val members = subs.indices.filter(assign(_) == c)
          if (members.isEmpty) cents(c)
          else {
            var acc = new Array[Long](sub)
            members.foreach(i => acc = addExactVec(acc, nanoQuant(subs(i))))
            nanoMean(acc, members.size.toLong)
          }
        }.toArray
      }
      cents
    }.toArray
    distill(books)
  }

  private def distill(books: Array[Array[Array[Double]]]): Array[Array[Array[Long]]] =
    books.map(_.map(_.map(x => math.floor(x * 1e6).toLong)))

  /** [[train]] as a Spark job — the 100 TB path. Per iteration: assignment
    * is in-row against the broadcast current books (the same scalar
    * argmin-by-(L2, cid) the driver loop runs, on the same doubles), the
    * mean is ONE partial aggregation of exact nano sums keyed by
    * (subspace, centroid) — map-side combine ships m×ksub bounded buffers
    * per partition, and the m×ksub collected rows are planning metadata
    * (2048 doubles at the published shape), never corpus-sized. Because
    * the sums are exact integers, the result is bit-for-bit [[train]] on
    * any partitioning — `PqModelSpec` pins equality across 1/7/31-part
    * layouts and against the committed artifact.
    *
    * `vecs` = (vec_id, NORMALIZED vector); ids [0, ksub) must be present
    * to seed the sampled init (the `pqTopK` contract, enforced loudly).
    */
  def trainDistributed(vecs: org.apache.spark.sql.Dataset[(Long, Array[Double])],
                       m: Int, ksub: Int,
                       iters: Int): Array[Array[Array[Long]]] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val seed = vecs.filter(_._1 < ksub).collect().sortBy(_._1)
    require(seed.length == ksub && seed.map(_._1).sameElements(0L until ksub.toLong),
      s"sampled init needs vec_ids [0,$ksub) present exactly once; got " +
        s"${seed.length} rows — train on a corpus slice that carries the seed ids")
    val sub = seed.head._2.length / m
    var books: Array[Array[Array[Double]]] =
      Array.tabulate(m)(mi => seed.map(_._2.slice(mi * sub, mi * sub + sub)))
    (0 until iters).foreach { _ =>
      val bc = spark.sparkContext.broadcast(books)
      val stats = vecs
        .flatMap { case (_, v) =>
          (0 until bc.value.length).iterator.map { mi =>
            val w = bc.value(mi)(0).length
            val s = v.slice(mi * w, mi * w + w)
            ((mi, argmin(s, bc.value(mi))), (nanoQuant(s), 1L))
          }
        }
        .groupByKey(_._1)
        .mapValues(_._2)
        .reduceGroups((a, b) => (addExactVec(a._1, b._1), a._2 + b._2))
        .collect()
        .map { case (k, (sums, n)) => k -> ((sums, n)) }.toMap
      books = Array.tabulate(m)(mi => Array.tabulate(ksub)(cid =>
        stats.get((mi, cid))
          .map { case (sums, n) => nanoMean(sums, n) }
          .getOrElse(books(mi)(cid))))
      bc.destroy()
    }
    distill(books)
  }

  /** Normalized training corpus, driver-collected in vec_id order — shared
    * by the PQ and IVF publishing mains and their reproducibility specs
    * (the training corpus is the bounded published-model fixture;
    * [[trainDistributed]] is the same loop at corpus scale).
    */
  private[graft] def normalizedCorpus(spark: SparkSession,
                                      sfDir: String): Array[Array[Double]] =
    Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), graft.ops.Similarity.toDouble(col("embedding")).as("v"))
      .orderBy("vec_id").collect()
      .map { r =>
        val v = r.getSeq[Double](1).toArray
        val n = math.sqrt(v.map(x => x * x).sum)
        v.map(_ / n)
      }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("/tmp/PqModel.scala")
    val (m, ksub, iters) = (8, 32, 5)
    val dim = graft.ops.Similarity.Dim
    val sub = dim / m

    val spark = Harness.session()
    val vecs = normalizedCorpus(spark, sfDir)
    val micros = train(vecs, m, ksub, iters)
    val body = micros.map(book =>
      book.map(cw => cw.mkString("Array(", "L, ", "L)"))
        .mkString("    Array(\n      ", ",\n      ", ")"))
      .mkString("  val Micros: Array[Array[Array[Long]]] = Array(\n", ",\n", ")\n")
    val src =
      s"""package graft.ops
         |
         |/** PUBLISHED product-quantization codebooks — trained offline by
         |  * [[graft.PqTrain]] (per-subspace Lloyd, $iters iterations, init =
         |  * the sampled quantizer) on the $sfDir embeddings and DISTILLED to
         |  * integer micro-units: the learned floats never cross engines, these
         |  * integers do (the QualityModel discipline). Regenerate with
         |  * `runMain graft.PqTrain` after retraining; the artifact is data —
         |  * review the diff like a model update, not a code change.
         |  */
         |object PqModel {
         |  val M = $m
         |  val Ksub = $ksub
         |  val Sub = $sub
         |$body}
         |""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      src.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Harness.emit("pq_train", "subspaces" -> m, "ksub" -> ksub, "iters" -> iters, "out" -> out)
    spark.stop()
  }
}
