package graft

import graft.ops.{PqResModel, Similarity}
import org.apache.spark.sql.functions._

/** Residual IVF-PQ (Jégou et al. TPAMI'11 §V — books quantize x − c(list)
  * instead of x). Pins, in order: the published [[PqResModel]] artifact is
  * bit-for-bit reproducible from the corpus it names; the residual serve
  * keeps every serving-plan contract (artifact scan, pruning, no encode);
  * batch == single per query; one erasure call reaches all THREE standing
  * codes layouts; and — the algorithmic point — on a CLUSTERED corpus,
  * residual books beat raw-vector books at IDENTICAL bits (same coarse
  * quantizer, same m/ksub, same rerank, only what the books quantize
  * differs). The main fixture is deliberately clusterless (random
  * near-orthogonal vectors — centroids sit near the origin, residual ≈ x,
  * the two measure equal there, see `ops_sim_recall`), so the win is
  * demonstrated where the textbook claims it: data with real modes.
  */
class ResidualSpec extends SparkSuite {

  test("retraining reproduces PqResModel bit-for-bit from the published corpus") {
    val corpus = PqTrain.normalizedCorpus(spark, "/root/testdata/sf0.01")
    val micros = PqTrain.train(PqResTrain.residuals(corpus),
      PqResModel.M, PqResModel.Ksub, 5)
    assert(micros.length == PqResModel.Micros.length)
    for (mi <- micros.indices; cid <- micros(mi).indices)
      assert(micros(mi)(cid).sameElements(PqResModel.Micros(mi)(cid)),
        s"book $mi codeword $cid diverged from the committed artifact")
  }

  test("residual serve: artifact scan with pruned lists, no corpus encode, batch == single") {
    val plan = Similarity.serve(spark, sf, Similarity.IvfResidual(), Seq(0L))
      .queryExecution.executedPlan.toString
    val pf = plan.linesIterator.filter(_.contains("PartitionFilters")).mkString("\n")
    assert(pf.contains("list"),
      s"residual codes scan has no partition filter on `list`:\n${plan.take(3000)}")
    assert(!plan.contains(s"sequence(0, ${PqResModel.Ksub - 1}"),
      "residual serving plan re-encodes the corpus")

    assertPerQueryIsolation(Similarity.IvfResidual(), Seq(0L, 1L, 2L, 3L))
  }

  test("ivfChoose: picks the cheapest eligible nprobe; an unreachable target fails loudly") {
    val row = Similarity.ivfChoose(spark, sf, recallTarget = 0.5).collect().head
    val curve = Similarity.ivfCalib(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(2), r.getLong(4)))
      .groupBy(_._1).map { case (np, rs) => (np, rs.map(_._2).sum, rs.map(_._3).sum) }
    val eligible = curve.filter(_._2 >= 20L) // ceil(0.5 * 4 * 10)
    val expect = eligible.minBy(t => (t._3, t._1))
    assert(row.getInt(0) == expect._1 && row.getLong(1) == expect._2 &&
      row.getLong(3) == expect._3,
      s"ivfChoose diverged from the curve argmin: $row vs $expect")
    assert(row.getDouble(2) == expect._2.toDouble / 40.0)
    // a target the curve never reaches must fail LOUDLY, naming the best
    val e = intercept[IllegalArgumentException](
      Similarity.ivfChoose(spark, sf, recallTarget = 1.0).collect())
    assert(e.getMessage.contains("widen the grid"), e.getMessage)
  }

  test("one erasure call reaches all THREE standing codes artifacts") {
    val dir = java.nio.file.Files.createTempDirectory("res_erase_corpus").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/embeddings.parquet"),
      java.nio.file.Paths.get(s"$dir/embeddings.parquet"))
    val s = Similarity.ensurePqCodes(spark, dir)
    val t = Similarity.ensurePqCodesTrained(spark, dir)
    val r = Similarity.ensurePqCodesRes(spark, dir)
    assert(Similarity.codesTablesStanding(spark, dir) == Seq(s, t, r))
    val n = Similarity.erasePqCodes(spark, dir, Set(40L))
    assert(n == 3L, s"expected 1 row in each of 3 artifacts, got $n")
    Seq(s, t, r).foreach { tbl =>
      assert(spark.table(tbl).filter(col("vec_id") === 40L).count() == 0L,
        s"victim codes survived in $tbl")
    }
  }

  test("refreshPqCodesRes: delta-only growth, serving parity with from-scratch") {
    val dir = java.nio.file.Files.createTempDirectory("res_refresh_corpus").toString
    val base = Tables.load(spark, sf, "embeddings")
    base.write.parquet(s"$dir/embeddings.parquet")
    val name = Similarity.ensurePqCodesRes(spark, dir)
    val rowsBefore = spark.table(name).count()
    assert(Similarity.refreshPqCodesRes(spark, dir) == 0L, "no growth must be a no-op")
    base.filter(col("vec_id") % 7 === 0)
      .select((col("vec_id") + 100000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
      .write.mode("append").parquet(s"$dir/embeddings.parquet")
    val added = Similarity.refreshPqCodesRes(spark, dir)
    assert(added > 0L && spark.table(name).count() == rowsBefore + added)
    // incremental == from-scratch on the grown corpus
    val dir2 = java.nio.file.Files.createTempDirectory("res_refresh_scratch").toString
    spark.read.parquet(s"$dir/embeddings.parquet").write.parquet(s"$dir2/embeddings.parquet")
    val scratch = Similarity.ensurePqCodesRes(spark, dir2)
    val a = spark.table(name).collect().map(_.toSeq).toSet
    val b = spark.table(scratch).collect().map(_.toSeq).toSet
    assert(a == b, "refreshed residual artifact diverged from the from-scratch build")
  }

  // ===== the clustered-corpus experiment: residual books WIN at identical
  // bits when the data has modes (the main fixture is adversarially
  // clusterless, so the coarse centroids carry no mass to subtract) =====

  private val Dim = 64
  private def md5unit(tag: String, d: Int): Double =
    Similarity.planeComponent(math.abs(tag.hashCode % 100000), d) / 1000.0

  /** 640 vectors in 16 well-separated clusters on the unit sphere: center
    * + small noise, normalized. Deterministic (md5-derived), no RNG.
    */
  private lazy val clustered: Array[Array[Double]] = {
    val centers = Array.tabulate(16)(c =>
      normalize(Array.tabulate(Dim)(d => md5unit(s"cc$c", d))))
    Array.tabulate(640) { i =>
      val c = centers(i % 16)
      normalize(Array.tabulate(Dim)(d => c(d) + 0.15 * md5unit(s"nz$i", d)))
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

  test("clustered corpus: residual books beat raw books at identical bits") {
    val (m, ksub, nlist, nprobe, k, rerank) = (8, 32, 16, 4, 10, 15)
    val sub = Dim / m
    val vs = clustered
    // coarse quantizer TRAINED ON THE FIXTURE (both variants share it — the
    // comparison isolates what the books quantize)
    val cents = toDoubles(Array(PqTrain.train(vs, 1, nlist, 5)(0)).map(identity))(0)
    def assign(v: Array[Double]): Int = {
      var best = 0; var bd = PqResTrain.microL2(v, cents(0)); var c = 1
      while (c < nlist) {
        val d = PqResTrain.microL2(v, cents(c)); if (d < bd) { bd = d; best = c }; c += 1
      }
      best
    }
    val lists = vs.map(assign)
    val residuals = vs.indices.toArray.map { i =>
      val c = cents(lists(i)); Array.tabulate(Dim)(d => vs(i)(d) - c(d))
    }
    val rawBooks = toDoubles(PqTrain.train(vs, m, ksub, 5))
    val resBooks = toDoubles(PqTrain.train(residuals, m, ksub, 5))
    val rawCodes = encode(vs, rawBooks)
    val resCodes = encode(residuals, resBooks)

    def search(q: Int, res: Boolean): Seq[Int] = {
      val probes = cents.indices
        .sortBy(c => (PqResTrain.microL2(vs(q), cents(c)), c)).take(nprobe).toSet
      val cand = vs.indices.filter(i => i != q && probes(lists(i)))
      val qres = cents.map(c => Array.tabulate(Dim)(d => vs(q)(d) - c(d)))
      val byAdc = cand.sortBy { i =>
        val adc = (0 until m).map { mi =>
          if (res)
            PqResTrain.microL2(
              qres(lists(i)).slice(mi * sub, mi * sub + sub),
              resBooks(mi)(resCodes(i)(mi)))
          else
            PqResTrain.microL2(
              vs(q).slice(mi * sub, mi * sub + sub),
              rawBooks(mi)(rawCodes(i)(mi)))
        }.sum
        (adc, i.toLong)
      }.take(rerank)
      byAdc.sortBy(i => (-cosine(vs(q), vs(i)), i)).take(k)
    }
    def exactTopK(q: Int): Set[Int] =
      vs.indices.filter(_ != q).sortBy(i => (-cosine(vs(q), vs(i)), i)).take(k).toSet

    val queries = 0 until 16 // one per cluster
    val (rawHits, resHits) = queries.map { q =>
      val ex = exactTopK(q)
      (search(q, res = false).count(ex), search(q, res = true).count(ex))
    }.unzip
    val (rawTotal, resTotal) = (rawHits.sum, resHits.sum)
    info(s"clustered recall@$k over ${queries.size} queries (rerank=$rerank): " +
      s"raw=$rawTotal/160 residual=$resTotal/160")
    assert(resTotal > rawTotal,
      s"residual books did not beat raw books on the clustered corpus: " +
        s"residual $resTotal vs raw $rawTotal (identical bits, same routing)")
  }
}
