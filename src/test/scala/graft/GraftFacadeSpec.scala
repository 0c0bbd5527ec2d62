package graft

import graft.ops.{Dedup, Similarity}
import org.apache.spark.sql.functions._

/** The public facade stays in lockstep with the operator objects it fronts
  * (a facade that drifts from the registry-verified ops would be worse than
  * no facade).
  */
class GraftFacadeSpec extends SparkSuite {

  private def docs = Tables.load(spark, sf, "documents")

  test("dedup keeps exactly the cluster canonicals plus all singletons") {
    val clusters = Dedup.connectedComponents(Dedup.minhashCandidatesDf(docs))
    val nonCanonical = clusters.filter(col("comp") =!= col("doc_id")).count()
    val kept = Graft.dedup(docs)
    assert(kept.count() == docs.count() - nonCanonical)
    // every kept doc is either a canonical or was never in a cluster
    val keptIds = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    val canonicals = clusters.select("comp").collect().map(_.getLong(0)).toSet
    val clustered = clusters.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptIds.forall(id => canonicals.contains(id) || !clustered.contains(id)))
  }

  test("facade delegates match the registry-verified operators row-for-row") {
    val viaFacade = Graft.similarTopK(Tables.load(spark, sf, "embeddings"), 0L, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val direct = Similarity.topK(spark, sf, 0L, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaFacade == direct)
    val pairsFacade = Graft.dedupPairs(docs).count()
    val pairsDirect = Dedup.minhashCandidatesDf(docs).count()
    assert(pairsFacade == pairsDirect && pairsFacade > 0)
  }

  test("annChoose facade matches the operator's chosen row; vacuum reports per standing layout") {
    val viaFacade = Graft.annChoose(spark, sf, recallTarget = 0.5)
      .collect().map(_.toSeq).toSeq
    val direct = Similarity.ivfChoose(spark, sf, recallTarget = 0.5)
      .collect().map(_.toSeq).toSeq
    assert(viaFacade == direct && viaFacade.size == 1)
    // nothing is in a deferred-vacuum state on the shared fixture: the
    // report names only registered layouts, each with zero reclaimable files
    val vac = Graft.annVacuumCodes(spark, sf)
    assert(vac.keys.forall(_.startsWith("graft_artifacts.pq_codes")), s"$vac")
    assert(vac.values.forall(_.isEmpty), s"unexpected reclaim on a clean fixture: $vac")
  }

  test("annTopK / annRecall facades match the operators") {
    val qids = Seq(0L, 1L)
    val viaFacade = Graft.annTopK(spark, sf, qids, layout = Similarity.Opq)
      .collect().map(_.toSeq).toSet
    val direct = Similarity.serve(spark, sf, Similarity.Opq, qids)
      .collect().map(_.toSeq).toSet
    assert(viaFacade == direct && viaFacade.nonEmpty)
    val layouts = Seq("opq" -> Similarity.Opq, "pq" -> Similarity.Flat)
    val recFacade = Graft.annRecall(spark, sf, qids, layouts)
      .collect().map(_.toSeq).toSet
    val recDirect = Similarity.annRecall(spark, sf, qids, layouts = layouts)
      .collect().map(_.toSeq).toSet
    assert(recFacade == recDirect && recFacade.size == 2 * qids.size)
  }

  test("bloomBuild/bloomMightContain roundtrip: inserted keys true, pruning real") {
    import graft.functions.Bloom
    val dim = Tables.load(spark, sf, "part").filter(col("p_size") <= 5)
    val p = Bloom.forExpected(dim.count(), 0.01)
    val bits = Graft.bloomBuild(dim, col("p_partkey"), p)
    val li = Tables.load(spark, sf, "lineitem")
    val passed = li.filter(Graft.bloomMightContain(col("l_partkey"), bits, p)).count()
    val matching = li.join(dim, col("l_partkey") === col("p_partkey")).count()
    assert(passed >= matching, "facade probe dropped a matching row")
    assert(passed < li.count(), "facade probe pruned nothing")
  }

  test("noveltyGate facade tags the planted repeat maybe_seen") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[BloomNoveltySpec.D]
    val p = graft.functions.Bloom.forExpected(1024, 0.01)
    val name = s"facade_gate_${System.nanoTime()}"
    val q = Graft.noveltyGate(input.toDS().toDF(), p, shardBits = 4)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      input.addData(BloomNoveltySpec.D(1L, "alpha beta gamma"),
        BloomNoveltySpec.D(2L, "alpha beta gamma"))
      q.processAllAvailable()
      val got = spark.table(name)
        .as[graft.streaming.BloomNovelty.Tagged].collect().sortBy(_.doc_id)
      assert(got.map(_.definitely_new).toSeq == Seq(true, false))
    } finally q.stop()
  }

  test("mergePatch column function is the native RFC 7386 expression") {
    import spark.implicits._
    val out = Seq(("""{"a":1,"b":2}""", """{"a":1,"b":3}"""))
      .toDF("n", "o")
      .select(Graft.mergePatch(col("n"), col("o")).as("changes"))
      .head().getString(0)
    assert(out == """{"b":3}""")
  }

  test("dedupStream facade runs the online near-dup pipeline end to end") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[
      graft.streaming.DedupStream.Doc]
    val q = Graft.dedupStream(input.toDS().toDF())
      .writeStream.format("memory").queryName("facade_dedup_stream")
      .outputMode("append").start()
    try {
      input.addData(
        graft.streaming.DedupStream.Doc(1L, "alpha beta gamma delta epsilon zeta"),
        graft.streaming.DedupStream.Doc(2L, "alpha beta gamma delta epsilon eta"))
      q.processAllAvailable()
      val out = spark.table("facade_dedup_stream").collect()
      assert(out.nonEmpty && out.forall(r => r.getLong(0) == 2L && r.getLong(1) == 1L))
    } finally q.stop()
  }

  test("mediaDedupStream facade runs the composed media pipeline end to end") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // two real PNG blobs from the media table: an exact copy under a new id
    // must come back flagged against the original at hamming 0
    val rows = graft.ops.Multimodal.pngTable(spark, sf).take(1)
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[
      graft.ops.Multimodal.MediaRow]
    val q = Graft.mediaDedupStream(input.toDS())
      .writeStream.format("memory").queryName("facade_media_stream")
      .outputMode("append").start()
    try {
      input.addData(rows(0),
        graft.ops.Multimodal.MediaRow(rows(0).doc_id + 1000000L, rows(0).media,
          rows(0).media_type))
      q.processAllAvailable()
      val out = spark.table("facade_media_stream")
        .as[graft.streaming.DedupStream.FpEdge].collect()
      assert(out.nonEmpty && out.forall(e =>
        e.doc_id == rows(0).doc_id + 1000000L && e.dup_of == rows(0).doc_id &&
          e.hamming == 0L), s"got ${out.toSeq}")
    } finally q.stop()
  }

  test("liveTail is the stateless subscriber view (streaming, envelope schema)") {
    // plan-time check: the DSv2 provider resolves lazily, so no database is
    // needed to pin the facade's shape — isStreaming + the envelope columns
    val df = Graft.liveTail(spark, "jdbc:derby:memory:facade_tail;create=true", "events")
    assert(df.isStreaming)
    assert(df.schema.fieldNames.toSeq == Seq("event_id", "ts", "event"))
  }

  test("r10 facade entries delegate to the registry-verified operators") {
    import org.apache.spark.sql.functions._
    // qualityGate == the oracle-gated query, row-for-row
    val gate = Graft.qualityGate(spark, sf)
    val direct = graft.ops.TextStats.qualityLogit(spark, sf)
    assert(gate.exceptAll(direct).isEmpty && direct.exceptAll(gate).isEmpty)
    // promoteKeys == Promotion.materialize
    import spark.implicits._
    val docs = Seq((1L, """{"k": 5, "plan": "pro"}""")).toDF("id", "payload")
    val p = Graft.promoteKeys(docs, "payload", Seq("k" -> "number")).select("k").head
    assert(p.getDouble(0) == 5.0)
    // protoFrames round-trips through the decoder
    val env = Seq(("s", "t", "INSERT", "1", """{"a":1}""", null.asInstanceOf[String]))
      .toDF("schema", "table", "op", "id", "payload", "changes")
    val ev = graft.streaming.ProtoWire.decodeEvent(Graft.protoFrames(env).head())
    assert(ev.op == "INSERT" && ev.table == "t")
    // noveltyMonitor is the kmvNovelty pipeline on hashed content
    implicit val sqlCtx = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, String)]
    val q = Graft.noveltyMonitor(in.toDS().toDF("group", "text"))
      .writeStream.format("memory").queryName("facade_nov")
      .outputMode("append").start()
    val pts = try {
      in.addData(("g", "alpha"), ("g", "beta"), ("g", "alpha"))
      q.processAllAvailable()
      spark.table("facade_nov")
        .as[graft.streaming.WindowSketches.NoveltyPoint].collect().toSeq
    } finally q.stop()
    assert(pts.head.n_rows == 3 && pts.head.est_novel == 2.0, s"got $pts")
    // erase delegates to eraseEntities (shape check on a tiny archive)
    val adir = java.nio.file.Files.createTempDirectory("facade_erase").toString
    graft.sources.Layout.writeEventArchive(
      graft.cdc.EventLog.normalize(Tables.load(spark, sf, "events"))
        .select(col("event_id"), col("ts"), col("user_id"), col("op"), col("props"))
        .limit(500), adir)
    val target = spark.read.parquet(adir).agg(min("user_id")).head.getLong(0)
    val audit = Graft.erase(spark, adir, Seq(target))
    assert(audit.columns.toSeq == Seq("user_id", "day", "rows_removed"))
    assert(spark.read.parquet(adir).filter(col("user_id") === target).count() == 0)
  }
}
