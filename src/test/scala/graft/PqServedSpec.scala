package graft

import graft.ops.{PqModel, Similarity}

/** The persisted-codes PQ serving path ([[Similarity.ensurePqCodes]] /
  * [[Similarity.serve]] over [[Similarity.Flat]] and [[Similarity.Ivf]]):
  * layout choices must never change answers, and the serving PLANS must
  * actually be the amortized shape the artifact exists for — no
  * corpus-wide encode, and (for IVF-PQ) a partition-pruned codes scan.
  */
class PqServedSpec extends SparkSuite {

  /** The executed plan's text, scan `Location`s untruncated: the default
    * 100-char metadata cap cuts a long table path short of its name.
    */
  private def planOf(df: org.apache.spark.sql.DataFrame): String = {
    val key = "spark.sql.maxMetadataStringLength"
    val prior = spark.conf.get(key)
    spark.conf.set(key, "10000")
    try df.queryExecution.executedPlan.toString finally spark.conf.set(key, prior)
  }

  /** A single-query serve's (vec_id, cos_sim) rows as it returns them: a
    * batch of one comes out in rank order (cos_sim desc, vec_id), the
    * order the unserved forms return.
    */
  private def rankOrdered(df: org.apache.spark.sql.DataFrame): Seq[org.apache.spark.sql.Row] =
    df.drop("query_id").collect().toSeq

  test("the flat serve returns exactly pqTopKTrained's rows") {
    val served = rankOrdered(Similarity.serve(spark, sf, Similarity.Flat, Seq(0L)))
    val trained = Similarity.pqTopKTrained(spark, sf).collect().toSeq
    assert(served == trained,
      s"serving from the codes artifact changed answers:\n$served\nvs\n$trained")
  }

  test("serving plan reads the codes artifact and contains no encode") {
    val name = Similarity.ensurePqCodes(spark, sf)
    val plan = planOf(Similarity.serve(spark, sf, Similarity.Flat, Seq(0L)))
    assert(plan.contains(name.split('.').last),
      s"serving plan does not scan the persisted codes table:\n${plan.take(4000)}")
    // the encode's surviving plan signature is the per-row ARGMIN over the
    // codeword ids — array_min over the candidate struct array since the
    // r16 argmin rewrite (the sequence(0, ksub-1) literal itself
    // constant-folds away). The TRAINED query carries it (corpus-wide
    // re-encode); the SERVED query must not, anywhere — its only
    // higher-order work is the ADC lookups and the one-row query
    // normalization, neither of which takes an array minimum.
    val argmin = "array_min("
    assert(planOf(Similarity.pqTopKTrained(spark, sf)).contains(argmin),
      "sanity: the unserved plan should contain the encode argmin")
    assert(!plan.contains(argmin),
      "serving plan still encodes the corpus — the artifact is not amortizing")
  }

  test("IVF-PQ prunes the codes scan to the probed partitions") {
    Similarity.ensurePqCodes(spark, sf)
    val plan = planOf(Similarity.serve(spark, sf, Similarity.Ivf(), Seq(0L)))
    // static partition pruning: the codes scan must carry a PartitionFilters
    // entry binding `list` to the nprobe probed ids (a post-scan row filter
    // would read every list's bytes — the opposite of the IVF contract)
    val pf = plan.linesIterator.filter(_.contains("PartitionFilters")).mkString("\n")
    assert(pf.contains("list"),
      s"codes scan has no partition filter on `list`:\n$plan")
    assert(!plan.contains(s"sequence(0, ${PqModel.Ksub - 1}"),
      "IVF-PQ serving plan re-encodes the corpus")
  }

  test("IVF-PQ equals brute-force exact top-k restricted to probed lists") {
    // the algorithm-defined candidate set (probed lists, ADC top-rerank)
    // then exact cosine: with rerank >= every probed-list member at this
    // scale, the output must equal exact cosine over the probed lists.
    import org.apache.spark.sql.functions._
    val nlist = 16; val nprobe = 4
    val emb = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), Similarity.toDouble(col("embedding")).as("v"))
    val q = emb.filter(col("vec_id") === 0L).select(col("v").as("qv"))
    val probes = emb.filter(col("vec_id") < nlist)
      .join(broadcast(q))
      .select(col("vec_id"), Similarity.cosine(col("v"), col("qv")).as("cs"))
      .collect().sortBy(r => (-r.getDouble(1), r.getLong(0)))
      .take(nprobe).map(_.getLong(0)).toSet
    val cents = emb.filter(col("vec_id") < nlist)
      .agg(sort_array(collect_list(struct(col("vec_id").as("cid"), col("v").as("cv"))))
        .as("cents"))
    val ranked = array_sort(transform(col("cents"),
      c => struct((-Similarity.cosine(col("v"), c("cv"))).as("neg"), c("cid").as("cid"))))
    val inProbed = emb.join(broadcast(cents))
      .withColumn("list", element_at(ranked, 1)("cid"))
      .filter(col("list").isin(probes.toSeq: _*) && col("vec_id") =!= 0L)
    val total = inProbed.count()
    val exact = inProbed.join(broadcast(q))
      .select(col("vec_id"), round(Similarity.cosine(col("v"), col("qv")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id")).limit(10)
      .collect().toSeq
    // rerank >= probed membership makes the ADC cut a no-op, so the output
    // must EQUAL exact cosine over the probed lists — the candidate-set
    // contract tested independently of ADC quality
    val got = rankOrdered(Similarity.serve(spark, sf, Similarity.Ivf(), Seq(0L),
      rerank = total.toInt))
    assert(got == exact, s"IVF-PQ diverged from exact-over-probed-lists:\n$got\nvs\n$exact")
  }

  test("batched serving: per-query rows equal the single-query serve; heap replaces the window") {
    val qids = Seq(0L, 1L, 2L, 3L)
    assertPerQueryIsolation(Similarity.Flat, qids)
    // the batch plan must NOT shuffle the n×Q ADC rows: the only exchange
    // below the candidate join is the Q-row partial-agg heap output
    val plan = planOf(Similarity.serve(spark, sf, Similarity.Flat, qids))
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"),
      s"per-query top-k is not running as an aggregation (map-side heaps):\n${plan.take(2000)}")
  }

  test("batched IVF-PQ: per-query rows equal the single-query IVF serve; scan stays pruned") {
    val qids = Seq(0L, 1L, 2L, 3L)
    assertPerQueryIsolation(Similarity.Ivf(), qids)
    val plan = planOf(Similarity.serve(spark, sf, Similarity.Ivf(), qids))
    // the batch must keep BOTH amortizations: partition-pruned codes scan
    // (union of all probes) and no corpus-wide encode
    val pf = plan.linesIterator.filter(_.contains("PartitionFilters")).mkString("\n")
    assert(pf.contains("list"),
      s"batched codes scan has no partition filter on `list`:\n${plan.take(3000)}")
    assert(!plan.contains(s"sequence(0, ${PqModel.Ksub - 1}"),
      "batched IVF-PQ serving plan re-encodes the corpus")
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"),
      "per-query top-k is not running as an aggregation (map-side heaps)")
  }

  test("every layout: unknown ids get no rows beside a valid one; an all-unknown batch is empty") {
    // ids outside the corpus have no query row — the serve answers the
    // valid ids alone, and an all-unknown batch (empty routing table, an
    // empty probe-map literal, no probed list) still plans and runs
    val layouts = Seq(Similarity.Flat, Similarity.Ivf(), Similarity.IvfTrained(),
      Similarity.IvfResidual(), Similarity.Opq)
    val unknown = Seq(-1L, 1000000000L)
    layouts.foreach { layout =>
      val valid = serveRows(Similarity.serve(spark, sf, layout, Seq(0L))).toSet
      val mixed = serveRows(Similarity.serve(spark, sf, layout, 0L +: unknown)).toSet
      assert(valid.size == 10 && mixed == valid,
        s"$layout: a mixed batch answered differently than its valid id alone")
      val none = Similarity.serve(spark, sf, layout, unknown)
      assert(none.columns.toSeq == Seq("query_id", "vec_id", "cos_sim"))
      assert(none.collect().isEmpty, s"$layout: an all-unknown batch returned rows")
    }
  }

  test("annRecall: full grid, exact-integer hits, trained-books recall floor holds") {
    val rows = Similarity.annRecall(spark, sf)
      .collect().map(r => ((r.getString(0), r.getLong(1)), (r.getLong(2), r.getDouble(3))))
      .toMap
    // grid completeness: every (variant, query) present even at zero hits
    assert(rows.keySet ==
      (for (v <- Seq("pq", "ivfpq", "ivfpq_t", "ivfpq_res"); q <- 0L to 3L)
        yield (v, q)).toSet)
    // residual books at IDENTICAL bits (same routing, same m/ksub/rerank —
    // only what the books quantize differs): never worse than the raw-
    // vector trained layout in batch total. On this deliberately
    // clusterless fixture the two measure EQUAL (residual ≈ vn when
    // centroids sit near the origin); the fixture where residuals WIN is
    // ResidualSpec's clustered corpus.
    val resTotal = (0L to 3L).map(q => rows(("ivfpq_res", q))._1).sum
    val rawTotal = (0L to 3L).map(q => rows(("ivfpq_t", q))._1).sum
    assert(resTotal >= rawTotal,
      s"residual encoding lost recall at identical bits: $resTotal < $rawTotal")
    rows.foreach { case ((v, q), (hits, recall)) =>
      assert(hits >= 0L && hits <= 10L, s"($v,$q) hits=$hits out of range")
      assert(math.abs(recall - hits / 10.0) < 1e-9, s"($v,$q) recall!=hits/k")
    }
    // NOTE deliberately no pq-vs-ivfpq ordering assertion: IVF's candidate
    // set is NOT a subset of flat PQ's (a true neighbor outside the flat
    // ADC top-rerank can survive inside a probed list), so per-query
    // recall can move either way under pruning. The exact per-query values
    // sit behind the DuckDB hash gate; here we pin only the measured
    // trained-books floor from the r14 recall sweep.
    val floor = (0L to 3L).map(q => rows(("pq", q))._1).min
    assert(floor >= 8L, s"flat-PQ recall floor dropped to $floor/10")
  }

  test("TopKPairs: deterministic k-smallest under any partitioning; buffer bound holds") {
    val k = 7
    val agg = new graft.functions.TopKPairs.Agg(k)
    val rows = (0 until 1000).map(i =>
      ((i * 7919 % 101).toLong, i.toLong)) // many sort-key ties → id tiebreak
    val expect = rows.sorted.take(k).map(_._2)
    // single fold
    val direct = agg.finish(rows.foldLeft(agg.zero)(agg.reduce))
    assert(direct == expect)
    // arbitrary partition/merge trees must agree (the partial-agg contract)
    for (parts <- Seq(2, 3, 8, 31)) {
      val merged = rows.grouped(rows.size / parts + 1)
        .map(_.foldLeft(agg.zero)(agg.reduce))
        .reduce(agg.merge)
      assert(agg.finish(merged) == expect, s"merge tree with $parts parts diverged")
    }
    // the buffer never exceeds 2k however large the group
    val buf = rows.foldLeft(agg.zero) { (b, x) =>
      val nb = agg.reduce(b, x)
      assert(nb.length < 2 * k, s"buffer grew to ${nb.length}")
      nb
    }
    assert(buf.length < 2 * k)
  }

  test("ivfCalib: full grid, monotone scanned cost, full-probe row is the flat-PQ ceiling") {
    val rows = Similarity.ivfCalib(spark, sf).collect()
    assert(rows.length == 16, s"grid incomplete: ${rows.length} rows") // 4 np x 4 queries
    val n = Tables.load(spark, sf, "embeddings").count()
    rows.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rs) =>
      val sc = rs.sortBy(_.getAs[Int]("nprobe")).map(_.getAs[Long]("scanned"))
      assert(sc.zip(sc.tail).forall { case (a, b) => a <= b },
        s"scanned cost not monotone in nprobe for query $q: ${sc.toSeq}")
      assert(sc.last == n,
        s"full-probe scanned must cover the corpus: ${sc.last} != $n")
    }
    // nprobe = nlist makes the IVF admission vacuous: that serve IS flat PQ,
    // so the calibration curve carries its own ceiling
    val qids = Seq(0L, 1L, 2L, 3L)
    val full = Similarity.serve(spark, sf, Similarity.Ivf(16), qids)
      .collect().map(_.toSeq).toSet
    val flat = Similarity.serve(spark, sf, Similarity.Flat, qids)
      .collect().map(_.toSeq).toSet
    assert(full == flat, "full-probe IVF-PQ diverged from the flat-PQ serve")
  }

  test("erasePqCodes: partition-scoped rewrite, untouched lists byte-identical") {
    import org.apache.spark.sql.functions._
    // a COPIED corpus dir so the erasure never perturbs the shared sf
    // artifact other tests serve from
    val dir = java.nio.file.Files.createTempDirectory("pq_erase_corpus").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/embeddings.parquet"),
      java.nio.file.Paths.get(s"$dir/embeddings.parquet"))
    val name = Similarity.ensurePqCodes(spark, dir)
    val before = spark.table(name)
      .collect().map(r => r.getLong(0) -> r.toSeq).toMap
    // victims spread across >1 list so the rewrite touches several
    // partitions while leaving the rest alone
    val byList = spark.table(name).select("vec_id", "list")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val victims = byList.groupBy(_._2).toSeq.sortBy(_._1)
      .take(2).flatMap(_._2.keys.take(2)).toSet
    assert(victims.size >= 3, s"fixture too small: $victims")
    val victimLists = victims.map(byList)
    val untouchedBefore = spark.table(name)
      .filter(!col("list").isin(victimLists.toSeq: _*)).inputFiles.toSet

    val n = Similarity.erasePqCodes(spark, dir, victims)
    assert(n == victims.size.toLong, s"erased $n of ${victims.size}")
    val after = spark.table(name)
      .collect().map(r => r.getLong(0) -> r.toSeq).toMap
    assert(victims.forall(v => !after.contains(v)), "victim codes survived")
    assert(after == before -- victims, "a survivor row changed under erasure")
    // partition-scoped: untouched lists kept their exact files
    val untouchedAfter = spark.table(name)
      .filter(!col("list").isin(victimLists.toSeq: _*)).inputFiles.toSet
    assert(untouchedAfter == untouchedBefore,
      "erasure rewrote partitions outside the affected lists")
    // idempotent: nothing left to find
    assert(Similarity.erasePqCodes(spark, dir, victims) == 0L)
  }

  test("emptying a whole list drops its partition (no stale files)") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("pq_erase_empty").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/embeddings.parquet"),
      java.nio.file.Paths.get(s"$dir/embeddings.parquet"))
    val name = Similarity.ensurePqCodes(spark, dir)
    val rows = spark.table(name).select("vec_id", "list")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val (victimList, members) = rows.groupBy(_._2).minBy(_._2.length)
    Similarity.erasePqCodes(spark, dir, members.map(_._1).toSet)
    assert(spark.table(name).filter(col("list") === victimList).count() == 0L)
    // dynamic overwrite alone would leave the old files: the explicit
    // partition drop must have removed them from the table's file set
    assert(!spark.table(name).inputFiles.exists(_.contains(s"list=$victimList/")),
      "stale partition files survived an emptying erasure")
  }

  test("refreshPqCodes: corpus growth encodes the delta only; serving stays exact") {
    import org.apache.spark.sql.functions._
    // a corpus dir whose embeddings table is a DIRECTORY so it can grow
    val dir = java.nio.file.Files.createTempDirectory("pq_refresh_corpus").toString
    val base = Tables.load(spark, sf, "embeddings")
    base.write.parquet(s"$dir/embeddings.parquet")
    val name = Similarity.ensurePqCodes(spark, dir)
    val filesBefore = spark.table(name).inputFiles.toSet
    val rowsBefore = spark.table(name).count()
    assert(Similarity.refreshPqCodes(spark, dir) == 0L, "no growth must be a no-op")
    assert(spark.table(name).inputFiles.toSet == filesBefore)

    // grow: planted doubles with ids above the corpus (monotone contract)
    base.filter(col("vec_id") % 7 === 0)
      .select((col("vec_id") + 100000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
      .write.mode("append").parquet(s"$dir/embeddings.parquet")
    val added = Similarity.refreshPqCodes(spark, dir)
    assert(added > 0L, "growth not detected")
    assert(spark.table(name).count() == rowsBefore + added)
    // append-only: every pre-growth file survives untouched
    assert(filesBefore.subsetOf(spark.table(name).inputFiles.toSet),
      "refresh rewrote existing partition files")
    // incremental == from-scratch: the refreshed artifact serves the grown
    // corpus exactly as the encode-inline query computes it
    val served = rankOrdered(Similarity.serve(spark, dir, Similarity.Flat, Seq(0L)))
    val trained = Similarity.pqTopKTrained(spark, dir).collect().toSeq
    assert(served == trained,
      s"refreshed artifact diverged from from-scratch encode:\n$served\nvs\n$trained")
  }

  test("compactPqCodes: fragmented lists coalesce to one file, rows byte-identical, quiet lists untouched") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("pq_compact_corpus").toString
    val base = Tables.load(spark, sf, "embeddings")
    base.write.parquet(s"$dir/embeddings.parquet")
    val name = Similarity.ensurePqCodes(spark, dir)
    // five growth waves: every touched list gains a file set per refresh
    (1 to 5).foreach { w =>
      base.filter(col("vec_id") % 7 === 0)
        .select((col("vec_id") + lit(100000L * w)).as("vec_id"),
          transform(col("embedding"), x => x * lit(2.0f + w)).as("embedding"))
        .write.mode("append").parquet(s"$dir/embeddings.parquet")
      assert(Similarity.refreshPqCodes(spark, dir) > 0L)
    }
    def filesByList(): Map[Long, Set[String]] = {
      val ListDir = "list=(-?\\d+)".r
      spark.table(name).inputFiles.toSeq
        .flatMap(f => ListDir.findFirstMatchIn(f).map(_.group(1).toLong -> f))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    }
    val before = filesByList()
    val fragged = before.filter(_._2.size > 4).keys.toSet
    assert(fragged.nonEmpty, s"fixture failed to fragment: ${before.view.mapValues(_.size).toMap}")
    val rows = spark.table(name).collect().map(_.toSeq).toSet

    val n = Similarity.compactPqCodes(spark, dir)
    assert(n == fragged.size.toLong, s"compacted $n of ${fragged.size} fragmented lists")
    val after = filesByList()
    fragged.foreach { l =>
      assert(after(l).size == 1, s"list $l still holds ${after(l).size} files")
    }
    (before.keySet -- fragged).foreach { l =>
      assert(after(l) == before(l), s"quiet list $l was rewritten")
    }
    assert(spark.table(name).collect().map(_.toSeq).toSet == rows,
      "compaction changed table contents")
    // second pass: nothing left to compact
    assert(Similarity.compactPqCodes(spark, dir) == 0L)
  }

  test("artifact is built once and reused (second ensure is a no-op)") {
    val name = Similarity.ensurePqCodes(spark, sf)
    val files = spark.table(name).inputFiles.toSet
    assert(Similarity.ensurePqCodes(spark, sf) == name)
    assert(spark.table(name).inputFiles.toSet == files,
      "second ensurePqCodes rewrote the artifact")
  }
}
