package graft

import graft.ops.{OpqModel, Similarity}
import org.apache.spark.sql.functions._

/** OPQ — permutation-restricted Optimized Product Quantization (Ge et al.
  * CVPR'13's eigenvalue-allocation idea without the rotation). Pins, in
  * order: the published [[OpqModel]] (permutation AND books) is bit-for-bit
  * reproducible from the corpus it names; the greedy dealing actually
  * balances (its subspace variance spread is no worse than the identity
  * dealing's, and the `ops_opq_balance` query equals the trainer's exact
  * integers); batch == single per query; and — the algorithmic point — on
  * an ANISOTROPIC corpus whose discriminative variance is concentrated in
  * one contiguous dimension block (the layout the identity dealing is
  * worst at: the whole signal lands in ONE subspace's 32 codewords),
  * OPQ-permuted books beat identity books at IDENTICAL bits. The main
  * fixture is near-isotropic (random near-orthogonal vectors — nothing to
  * re-balance), so the two measure close there; `ops_sim_recall_opq`
  * hash-gates those numbers.
  */
class OpqSpec extends SparkSuite {

  private val TrainDir = "/root/testdata/sf0.01"

  test("retraining reproduces OpqModel (perm + books) bit-for-bit from the published corpus") {
    val corpus = PqTrain.normalizedCorpus(spark, TrainDir)
    val (perm, micros) = OpqTrain.derive(corpus, OpqModel.M, OpqModel.Ksub, 5)
    assert(perm.sameElements(OpqModel.Perm),
      s"permutation diverged from the committed artifact:\n  got ${perm.mkString(",")}")
    for (mi <- micros.indices; cid <- micros(mi).indices)
      assert(micros(mi)(cid).sameElements(OpqModel.Micros(mi)(cid)),
        s"book $mi codeword $cid diverged from the committed artifact")
  }

  test("the dealing balances: spread no worse than identity; perm is a permutation") {
    assert(OpqModel.Perm.sorted.sameElements(0 until Similarity.Dim),
      "Perm is not a permutation of the dimensions")
    val corpus = PqTrain.normalizedCorpus(spark, TrainDir)
    val varNum = OpqTrain.varianceNumerators(corpus)
    val sub = Similarity.Dim / OpqModel.M
    def spread(groups: Seq[Seq[Int]]): BigInt = {
      val sums = groups.map(_.map(varNum).sum)
      sums.max - sums.min
    }
    val idSpread = spread((0 until OpqModel.M).map(g =>
      (g * sub until (g + 1) * sub).toSeq))
    val opSpread = spread((0 until OpqModel.M).map(g =>
      OpqModel.Perm.slice(g * sub, (g + 1) * sub).toSeq))
    info(s"subspace variance spread: identity=$idSpread opq=$opSpread")
    assert(opSpread <= idSpread,
      s"greedy dealing spread $opSpread worse than identity $idSpread")
  }

  test("ops_opq_balance equals the trainer's exact integers (both dealings)") {
    val corpus = PqTrain.normalizedCorpus(spark, sf)
    val varNum = OpqTrain.varianceNumerators(corpus)
    val sub = Similarity.Dim / OpqModel.M
    val got = Similarity.opqBalance(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(got.length == OpqModel.M)
    got.foreach { case (g, vid, vop) =>
      val gi = g.toInt
      val expId = (gi * sub until (gi + 1) * sub).map(varNum).sum
      val expOp = OpqModel.Perm.slice(gi * sub, (gi + 1) * sub).map(varNum).sum
      assert(BigInt(vid) == expId, s"identity variance mass diverged for subspace $g")
      assert(BigInt(vop) == expOp, s"opq variance mass diverged for subspace $g")
    }
  }

  test("opq batch == single per query") {
    assertPerQueryIsolation(Similarity.Opq, Seq(0L, 1L, 2L, 3L))
  }

  // ===== the anisotropic-corpus experiment: the permutation WINS at
  // identical bits when the variance is concentrated in one contiguous
  // block — the identity dealing spends one subspace's 32 codewords on the
  // entire signal while seven books quantize noise =====

  private val Dim = 64
  private def md5unit(tag: String, d: Int): Double =
    Similarity.planeComponent(math.abs(tag.hashCode % 100000), d) / 1000.0

  /** 640 vectors in 64 clusters whose centers differ ONLY in dims 0..7
    * (strong signal); dims 8..63 carry small noise. 64 modes > ksub=32, so
    * no single book can separate the clusters — the dealing decides
    * whether the signal gets 8 books' joint resolution or one book's.
    * Deterministic (md5-derived), no RNG.
    */
  private lazy val anisotropic: Array[Array[Double]] = {
    val centers = Array.tabulate(64)(c =>
      Array.tabulate(8)(d => md5unit(s"ac$c", d)))
    Array.tabulate(640) { i =>
      val c = centers(i % 64)
      normalize(Array.tabulate(Dim)(d =>
        if (d < 8) c(d) + 0.08 * md5unit(s"an$i", d)
        else 0.05 * md5unit(s"an$i", d)))
    }
  }

  private def normalize(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }
  private def cosine(a: Array[Double], b: Array[Double]): Double =
    a.indices.map(i => a(i) * b(i)).sum /
      (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))

  private def toDoubles(m: Array[Array[Array[Long]]]): Array[Array[Array[Double]]] =
    m.map(_.map(_.map(_ / 1e6)))

  private def encode(vs: Array[Array[Double]],
                     books: Array[Array[Array[Double]]]): Array[Array[Int]] = {
    val sub = Dim / books.length
    vs.map { v =>
      Array.tabulate(books.length) { mi =>
        val s = v.slice(mi * sub, mi * sub + sub)
        var best = 0; var bd = PqResTrain.microL2(s, books(mi)(0)); var c = 1
        while (c < books(mi).length) {
          val d = PqResTrain.microL2(s, books(mi)(c))
          if (d < bd) { bd = d; best = c }; c += 1
        }
        best
      }
    }
  }

  test("anisotropic corpus: OPQ-permuted books beat identity books at identical bits") {
    val (m, ksub, k, rerank) = (8, 32, 10, 15)
    val sub = Dim / m
    val vs = anisotropic
    // the permutation DERIVED FROM THE FIXTURE — the same trainer path the
    // published artifact took; it must spread the 8 signal dims one per book
    val perm = OpqTrain.permutation(OpqTrain.varianceNumerators(vs), m)
    val signalBooks = (0 until m).map(g =>
      perm.slice(g * sub, (g + 1) * sub).count(_ < 8))
    assert(signalBooks.forall(_ == 1),
      s"greedy dealing failed to spread the signal dims: $signalBooks")
    val pvs = vs.map(OpqTrain.permute(_, perm))
    val idBooks = toDoubles(PqTrain.train(vs, m, ksub, 5))
    val opBooks = toDoubles(PqTrain.train(pvs, m, ksub, 5))
    val idCodes = encode(vs, idBooks)
    val opCodes = encode(pvs, opBooks)

    def search(q: Int, opq: Boolean): Seq[Int] = {
      val (qv, codes, books) =
        if (opq) (pvs(q), opCodes, opBooks) else (vs(q), idCodes, idBooks)
      val byAdc = vs.indices.filter(_ != q).sortBy { i =>
        val adc = (0 until m).map { mi =>
          PqResTrain.microL2(qv.slice(mi * sub, mi * sub + sub),
            books(mi)(codes(i)(mi)))
        }.sum
        (adc, i.toLong)
      }.take(rerank)
      byAdc.sortBy(i => (-cosine(vs(q), vs(i)), i)).take(k)
    }
    def exactTopK(q: Int): Set[Int] =
      vs.indices.filter(_ != q).sortBy(i => (-cosine(vs(q), vs(i)), i)).take(k).toSet

    val queries = 0 until 16
    val (idHits, opHits) = queries.map { q =>
      val ex = exactTopK(q)
      (search(q, opq = false).count(ex), search(q, opq = true).count(ex))
    }.unzip
    val (idTotal, opTotal) = (idHits.sum, opHits.sum)
    info(s"anisotropic recall@$k over ${queries.size} queries (rerank=$rerank): " +
      s"identity=$idTotal/160 opq=$opTotal/160")
    assert(opTotal > idTotal,
      s"OPQ books did not beat identity books on the anisotropic corpus: " +
        s"opq $opTotal vs identity $idTotal (identical bits)")
  }
}
