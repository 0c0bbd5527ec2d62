package graft

import graft.ops.{IvfModel, Similarity}
import org.apache.spark.sql.functions._

/** The published IVF coarse quantizer's contracts — the same pins
  * [[PqModelSpec]] holds for the PQ books, plus the two things a coarse
  * quantizer specifically owes: a better-balanced partitioning than the
  * sampled init it replaces (fixture-measured), and an erasure path that
  * reaches the SECOND codes artifact its layout creates.
  */
class IvfTrainedSpec extends SparkSuite {

  private val trainDir = "/root/testdata/sf0.01" // the corpus IvfTrain ran on

  test("retraining reproduces IvfModel bit-for-bit — driver and distributed, m = 1") {
    val vecs = PqTrain.normalizedCorpus(spark, trainDir)
    val re = PqTrain.train(vecs, m = 1, ksub = IvfModel.Nlist, iters = 5)(0)
    (0 until IvfModel.Nlist).foreach { c =>
      assert(re(c).sameElements(IvfModel.Micros(c)),
        s"centroid $c drifted — IvfModel.scala is stale or training is nondeterministic")
    }
    import spark.implicits._
    val ds = Tables.load(spark, trainDir, "embeddings")
      .select(col("vec_id"), Similarity.toDouble(col("embedding")).as("v"))
      .as[(Long, Array[Double])]
      .map { case (id, v) =>
        val n = math.sqrt(v.map(x => x * x).sum); (id, v.map(_ / n))
      }
    val dist = PqTrain.trainDistributed(ds.repartition(7), m = 1,
      ksub = IvfModel.Nlist, iters = 5)(0)
    (0 until IvfModel.Nlist).foreach { c =>
      assert(dist(c).sameElements(IvfModel.Micros(c)),
        s"distributed twin diverged at centroid $c")
    }
  }

  test("trained centroids strictly beat the sampled init on coarse distortion") {
    val vecs = PqTrain.normalizedCorpus(spark, trainDir)
    def distortion(cents: Array[Array[Double]]): Double =
      vecs.map(v => cents.map(c =>
        v.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum).min).sum
    val sampled = vecs.take(IvfModel.Nlist)
    val trained = IvfModel.Micros.map(_.map(_ / 1e6))
    val (d0, dt) = (distortion(sampled), distortion(trained))
    assert(dt < d0, s"trained coarse distortion $dt not below sampled init $d0")
  }

  test("trained artifact: no worse skew than sampled, pruned plan, no serving encode, recall floor") {
    val tname = Similarity.ensurePqCodesTrained(spark, sf)
    val sname = Similarity.ensurePqCodes(spark, sf)
    def sizes(n: String): Array[Long] =
      spark.table(n).groupBy(col("list")).count().collect().map(_.getLong(1))
    val (ts, ss) = (sizes(tname), sizes(sname))
    assert(ts.sum == ss.sum, "the two layouts must partition the same corpus")
    // fixture-measured: Lloyd flattens the sampled layout's largest list
    assert(ts.max <= ss.max,
      s"trained layout more skewed than sampled: max ${ts.max} vs ${ss.max}")
    val df = Similarity.serve(spark, sf, Similarity.IvfTrained(), Seq(0L)).drop("query_id")
    val plan = df.queryExecution.executedPlan.toString
    val pf = plan.linesIterator.filter(_.contains("PartitionFilters")).mkString("\n")
    assert(pf.contains("list"),
      s"trained codes scan has no partition filter on `list`:\n${plan.take(3000)}")
    // routing ranks centroids driver-side; nothing in the SERVING plan may
    // re-rank or re-encode in-row
    assert(!plan.contains("array_sort("),
      "serving plan carries an in-row ranking — routing/encode not amortized")
    val rows = df.collect()
    assert(rows.length == 10)
    val sims = rows.map(_.getAs[Double]("cos_sim"))
    assert(sims.sameElements(sims.sorted.reverse))
    // the fixture is deliberately clusterless (PQ-adversarial): query 0's
    // exact neighborhood scatters across 8 of the 16 lists, so GLOBAL
    // recall at nprobe=4 is routing-coverage-bound (measured 6/10 — the
    // same bound any IVF layout pays here; the flat-PQ ≥8 floor lives in
    // PqModelSpec). Pin the measured floor, not a hope.
    val exact = SparkEntry.queries("ops_sim_topk")(spark, sf).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val hit = rows.map(_.getAs[Long]("vec_id")).count(exact)
    assert(hit >= 6, s"trained-IVF-PQ recall@10 below the fixture's routing coverage: $hit/10")
  }

  test("trained IVF-PQ equals exact cosine restricted to the probed lists") {
    // the algorithm-defined-candidate contract every IVF form keeps
    // (PqServedSpec pins it for the sampled layout): with rerank covering
    // every probed member, the output IS exact cosine over the probed
    // lists. Probes replicated from the published centroids with the same
    // sequential micro-L2 the kernel computes.
    val tname = Similarity.ensurePqCodesTrained(spark, sf)
    val emb = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), Similarity.toDouble(col("embedding")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val qv = emb(0L)
    val qn = { val n = math.sqrt(qv.map(x => x * x).sum); qv.map(_ / n) }
    def microL2(a: Array[Double], b: Array[Double]): Long = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      math.floor(s * 1e6).toLong
    }
    val probes = IvfModel.Micros.zipWithIndex
      .map { case (c, cid) => (microL2(qn, c.map(_ / 1e6)), cid) }
      .sorted.take(4).map(_._2.toLong).toSet
    val members = spark.table(tname)
      .filter(col("list").isin(probes.toSeq: _*)).count()
    val got = serveRows(Similarity.serve(spark, sf, Similarity.IvfTrained(4), Seq(0L),
        rerank = members.toInt))
      .map(r => (r._2, r._3))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val inLists = spark.table(tname)
      .filter(col("list").isin(probes.toSeq: _*))
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet - 0L
    val want = inLists.toSeq
      .map(id => (id, BigDecimal(cos(emb(id), qv))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      .sortBy { case (id, c) => (-c, id) }.take(10)
    assert(got == want, s"restricted-exact contract broken:\n$got\nvs\n$want")
  }

  test("trained batch == single-query trained serve per query; full probe == flat PQ") {
    val qids = Seq(0L, 1L, 2L, 3L)
    assertPerQueryIsolation(Similarity.IvfTrained(), qids)
    // nprobe = Nlist: admission vacuous, the trained layout is a pure
    // pruning overlay — same trained codes, so the serve IS flat PQ
    val full = Similarity.serve(spark, sf, Similarity.IvfTrained(IvfModel.Nlist), qids)
      .collect().map(_.toSeq).toSet
    val flat = Similarity.serve(spark, sf, Similarity.Flat, qids)
      .collect().map(_.toSeq).toSet
    assert(full == flat, "full-probe trained IVF diverged from the flat-PQ serve")
  }

  test("trained calibration curve: full grid, monotone scanned, full-probe covers the corpus") {
    val rows = Similarity.ivfCalib(spark, sf, trained = true).collect()
    assert(rows.length == 16, s"grid incomplete: ${rows.length} rows")
    val n = Tables.load(spark, sf, "embeddings").count()
    rows.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rs) =>
      val sc = rs.sortBy(_.getAs[Int]("nprobe")).map(_.getAs[Long]("scanned"))
      assert(sc.zip(sc.tail).forall { case (a, b) => a <= b },
        s"scanned not monotone for query $q: ${sc.toSeq}")
      assert(sc.last == n, s"full-probe scanned must cover the corpus: ${sc.last} != $n")
    }
  }

  test("refreshPqCodesTrained: delta-only encode, append-only files, serving == from-scratch") {
    val dir = java.nio.file.Files.createTempDirectory("ivft_refresh_corpus").toString
    val base = Tables.load(spark, sf, "embeddings")
    base.write.parquet(s"$dir/embeddings.parquet")
    val name = Similarity.ensurePqCodesTrained(spark, dir)
    val filesBefore = spark.table(name).inputFiles.toSet
    val rowsBefore = spark.table(name).count()
    assert(Similarity.refreshPqCodesTrained(spark, dir) == 0L, "no growth must be a no-op")
    assert(spark.table(name).inputFiles.toSet == filesBefore)

    base.filter(col("vec_id") % 7 === 0)
      .select((col("vec_id") + 100000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
      .write.mode("append").parquet(s"$dir/embeddings.parquet")
    val added = Similarity.refreshPqCodesTrained(spark, dir)
    assert(added > 0L, "growth not detected")
    assert(spark.table(name).count() == rowsBefore + added)
    assert(filesBefore.subsetOf(spark.table(name).inputFiles.toSet),
      "refresh rewrote existing partition files")
    // incremental == from-scratch: a clean rebuild of the SAME grown corpus
    // in a second dir produces the identical (vec_id, codes, list) table —
    // frozen published quantizers cannot assign growth differently
    val dir2 = java.nio.file.Files.createTempDirectory("ivft_refresh_scratch").toString
    Tables.load(spark, dir, "embeddings").write.parquet(s"$dir2/embeddings.parquet")
    val scratch = Similarity.ensurePqCodesTrained(spark, dir2)
    val a = spark.table(name).collect().map(_.toSeq).toSet
    val b = spark.table(scratch).collect().map(_.toSeq).toSet
    assert(a == b, "refreshed artifact diverged from the from-scratch build")
  }

  test("trained codes standing is a FILESYSTEM fact: unregistered stale files are healed and erased") {
    // the post-JVM-restart state: trained artifact FILES persist in the
    // warehouse while the in-memory catalog has forgotten the table. A
    // catalog-only check would skip exactly the bytes an erasure request
    // must reach; codesTablesStanding must detect the location, heal it
    // (drop-stale-and-rebuild — the cross-JVM discipline every ensure
    // applies), and hand it to the erase.
    def corpus(): String = {
      val d = java.nio.file.Files.createTempDirectory("ivft_stale_corpus").toString
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sf/embeddings.parquet"),
        java.nio.file.Paths.get(s"$d/embeddings.parquet"))
      d
    }
    val dirA = corpus()
    Similarity.ensurePqCodesTrained(spark, dirA)
    val dirB = corpus()
    val wh = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"),
      "graft_artifacts.db")
    val src = wh.resolve(Similarity.codesShort(dirA, trained = true))
    val dst = wh.resolve(Similarity.codesShort(dirB, trained = true))
    java.nio.file.Files.walk(src).forEach { p =>
      java.nio.file.Files.copy(p, dst.resolve(src.relativize(p)),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    val trainedB = s"graft_artifacts.${Similarity.codesShort(dirB, trained = true)}"
    assert(!spark.catalog.tableExists(trainedB), "fixture broke: table registered")
    val standing = Similarity.codesTablesStanding(spark, dirB)
    // ONLY the trained layout stands for dirB — the sampled artifact was
    // never built there, and erase/census must not CREATE a durable
    // content-derived copy as a side effect of reaching the one that is
    assert(standing == Seq(trainedB),
      s"stale trained files not detected as (exactly) standing: $standing")
    assert(spark.catalog.tableExists(trainedB), "healing did not register the table")
    // and one erase call reaches the healed copy: 1 row in the one artifact
    assert(Similarity.erasePqCodes(spark, dirB, Set(40L)) == 1L)
    standing.foreach { tbl =>
      assert(spark.table(tbl).filter(col("vec_id") === 40L).count() == 0L,
        s"victim survived in $tbl")
    }
  }

  test("one erasure call reaches BOTH standing codes artifacts") {
    val dir = java.nio.file.Files.createTempDirectory("ivft_erase_corpus").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/embeddings.parquet"),
      java.nio.file.Paths.get(s"$dir/embeddings.parquet"))
    val s = Similarity.ensurePqCodes(spark, dir)
    val t = Similarity.ensurePqCodesTrained(spark, dir)
    val victims = Set(40L, 41L)
    val n = Similarity.erasePqCodes(spark, dir, victims)
    assert(n == 4L, s"expected 2 rows in each of 2 artifacts, got $n")
    Seq(s, t).foreach { tbl =>
      assert(spark.table(tbl).filter(col("vec_id").isin(40L, 41L)).count() == 0L,
        s"victim codes survived in $tbl")
    }
  }
}
