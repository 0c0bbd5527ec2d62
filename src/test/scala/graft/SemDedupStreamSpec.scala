package graft

import graft.ops.Similarity
import graft.streaming.SemDedupStream
import graft.streaming.SemDedupStream.{Judged, VecRow}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Online semantic dedup vs batch SemDeDup: the same corpus (embeddings +
  * planted semantic clones, the `Similarity.semDedup` fixture) replayed as
  * a stream in vec_id order must reproduce the batch (vec_id, bucket,
  * kept) table row for row — assignment expression, exemplar-cap
  * discipline, and the rounded-cosine greedy predicate all bit-parity.
  */
class SemDedupStreamSpec extends SparkSuite {

  test("streamed semantic judgments equal batch semDedupDf row-for-row") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), Similarity.toDouble(col("embedding")).as("v"))
    val planted = base.filter(col("vec_id") % 7 === 0)
      .select((col("vec_id") + 100000L).as("vec_id"),
        transform(col("v"), x => x * lit(2.0)).as("v"))
    val corpus = base.unionAll(planted)

    val batch = Similarity.semDedupDf(corpus)
      .select(col("vec_id"), col("bucket"), col("kept"))
      .as[(Long, Long, Boolean)].collect()
      .map { case (id, b, k) => id -> (b, k) }.toMap

    val cents = SemDedupStream.centroids(corpus)
    val rows = corpus.as[(Long, Seq[Double])].collect().sortBy(_._1)
    val input = MemoryStream[(Long, Seq[Double])]
    val assigned = SemDedupStream.assign(
      input.toDS().toDF("vec_id", "v"), cents).as[VecRow]
    val q = SemDedupStream.judged(assigned)
      .writeStream.format("memory").queryName("semdedup_stream")
      .outputMode("append").start()
    try {
      input.addData(rows.take(rows.length / 2): _*)
      q.processAllAvailable()
      input.addData(rows.drop(rows.length / 2): _*)
      q.processAllAvailable()
      val streamed = spark.table("semdedup_stream").as[Judged].collect()
      assert(streamed.length == batch.size,
        s"${streamed.length} streamed vs ${batch.size} batch rows")
      streamed.foreach { j =>
        val (b, k) = batch(j.vec_id)
        assert(j.bucket == b, s"vec ${j.vec_id}: bucket ${j.bucket} != batch $b")
        assert(j.kept == k, s"vec ${j.vec_id}: kept ${j.kept} != batch $k")
      }
      // the fixture must exercise real drops (planted clones read cos 1.0)
      assert(streamed.exists(!_.kept), "no drops — fixture degenerate")
    } finally q.stop()
  }

  test("PQ-screened state: judgments equal the raw-vector path; the screen actually screens") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val RocksKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(RocksKey)
    spark.conf.set(RocksKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val base = Tables.load(spark, sf, "embeddings")
        .select(col("vec_id"), Similarity.toDouble(col("embedding")).as("v"))
      val planted = base.filter(col("vec_id") % 7 === 0)
        .select((col("vec_id") + 100000L).as("vec_id"),
          transform(col("v"), x => x * lit(2.0)).as("v"))
      val corpus = base.unionAll(planted)
      val cents = SemDedupStream.centroids(corpus)
      val rows = corpus.as[(Long, Seq[Double])].collect().sortBy(_._1)
      // the deployment's vector-store point read, modeled as a broadcast
      // map; the accumulator counts how many pairs actually paid it
      val byId = rows.toMap
      val fetches = spark.sparkContext.longAccumulator("pq_fetches")
      val fetch: Long => Seq[Double] = id => { fetches.add(1L); byId(id) }
      def assigned(in: MemoryStream[(Long, Seq[Double])]) =
        SemDedupStream.assign(in.toDS().toDF("vec_id", "v"), cents).as[VecRow]
      val batch = Similarity.semDedupDf(corpus)
        .select(col("vec_id"), col("bucket"), col("kept"))
        .as[(Long, Long, Boolean)].collect()
        .map { case (id, b, k) => Judged(id, b, k) }.toSet

      val in = MemoryStream[(Long, Seq[Double])]
      val q = SemDedupStream.judgedPq(assigned(in), fetch)
        .writeStream.format("memory").queryName("sem_pq")
        .outputMode("append").start()
      val pq = try {
        in.addData(rows.take(rows.length / 2): _*); q.processAllAvailable()
        in.addData(rows.drop(rows.length / 2): _*); q.processAllAvailable()
        spark.table("sem_pq").as[Judged].collect().toSet
      } finally q.stop()
      // judgments unchanged — ADC only pre-screens, exact cosine decides
      assert(pq == batch, s"PQ-screened judgments diverged: ${(pq -- batch).take(5)}")
      assert(pq.exists(!_.kept), "no drops — fixture degenerate")
      // and the screen is doing work: with random-vector clusters most
      // pairs are provably below tau from codes alone, so the exact
      // fetches must be well under the pair count the raw path evaluates
      val pairBound = rows.size.toLong * 16L // loose floor: >= pairs per cluster chain
      assert(fetches.value > 0, "no fetch ever — planted clones must reach the exact check")
      assert(fetches.value < pairBound,
        s"screen ineffective: ${fetches.value} fetches vs ~$pairBound pair budget")
    } finally prior match {
      case Some(v) => spark.conf.set(RocksKey, v)
      case None    => spark.conf.unset(RocksKey)
    }
  }

  test("cluster-state migration: relocated exemplar store keeps judging history") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StateMigration
    val base = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), Similarity.toDouble(col("embedding")).as("v"))
    val planted = base.filter(col("vec_id") % 7 === 0)
      .select((col("vec_id") + 100000L).as("vec_id"),
        transform(col("v"), x => x * lit(2.0)).as("v"))
    val corpus = base.unionAll(planted)
    val cents = SemDedupStream.centroids(corpus)
    val rows = corpus.as[(Long, Seq[Double])].collect().sortBy(_._1)
    val (wave1, wave2) = rows.splitAt(rows.length / 2)
    def assigned(in: MemoryStream[(Long, Seq[Double])]) =
      SemDedupStream.assign(in.toDS().toDF("vec_id", "v"), cents).as[VecRow]
    // old store: wave 1 checkpointed
    val chk = java.nio.file.Files.createTempDirectory("sem_mig_chk").toString
    val in1 = MemoryStream[(Long, Seq[Double])]
    val q1 = SemDedupStream.judged(assigned(in1))
      .writeStream.format("memory").queryName("sem_mig_a")
      .option("checkpointLocation", chk).outputMode("append").start()
    try { in1.addData(wave1: _*); q1.processAllAvailable() } finally q1.stop()
    // migrate + resume; wave-2 judgments must equal the uninterrupted run's
    val st = StateMigration.readSemDedupState(spark, chk)
    assert(st.count() > 0, "wave 1 built no cluster state")
    val in2 = MemoryStream[(Long, Seq[Double])]
    val q2 = SemDedupStream.judged(assigned(in2), initial = Some(st))
      .writeStream.format("memory").queryName("sem_mig_b")
      .outputMode("append").start()
    val resumed = try {
      in2.addData(wave2: _*); q2.processAllAvailable()
      spark.table("sem_mig_b").as[Judged].collect().toSet
    } finally q2.stop()
    val batch = Similarity.semDedupDf(corpus)
      .select(col("vec_id"), col("bucket"), col("kept"))
      .as[(Long, Long, Boolean)].collect()
      .map { case (id, b, k) => Judged(id, b, k) }.toSet
    val wave2Ids = wave2.map(_._1).toSet
    assert(resumed == batch.filter(j => wave2Ids(j.vec_id)),
      s"relocated semantic store diverged: ${resumed.take(5)}")
    assert(resumed.exists(!_.kept), "wave 2 must exercise drops against wave-1 exemplars")
  }

  test("cluster fold transitions, raw and PQ stores alike: smaller-id greedy, cap, expiry") {
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, TestGroupState}
    import SemDedupStream.{ClusterState, Exemplar, PqScreen}
    val dim = graft.ops.PqModel.M * graft.ops.PqModel.Sub
    // axis vectors: distinct axes are orthogonal (cos 0), a scaled copy of
    // one is its clone (cos 1)
    def axis(i: Int, scale: Double = 1.0) = Seq.tabulate(dim)(j => if (j == i) scale else 0.0)
    val stored = VecRow(7L, 10L, axis(2)) // enrolled by an earlier batch
    // arrival order is not id order; sorted, the batch reads 3 4 5 8 9 12
    val batch = Seq(VecRow(7L, 9L, axis(0, 2.0)), VecRow(7L, 12L, axis(2, 5.0)),
      VecRow(7L, 5L, axis(1)), VecRow(7L, 3L, axis(0)), VecRow(7L, 8L, axis(2, 0.5)),
      VecRow(7L, 4L, axis(1, 3.0)))
    val byId = (stored +: batch).map(r => r.vec_id -> r.v).toMap

    /** A store's handler over a `TestGroupState`, its state seeded from
      * rows, and the exemplar ids that state holds.
      */
    case class Store[S](name: String, seed: Seq[VecRow] => S, ids: S => Seq[Long],
                        run: (Iterator[VecRow], GroupState[S], Int) => Iterator[Judged])

    def transitions[S](st: Store[S]): Seq[Judged] = {
      def state(timedOut: Boolean) = TestGroupState.create[S](
        optionalState = Optional.of(st.seed(Seq(stored))),
        timeoutConf = GroupStateTimeout.ProcessingTimeTimeout,
        batchProcessingTimeMs = 1000L,
        eventTimeWatermarkMs = Optional.empty[Long](),
        hasTimedOut = timedOut)
      val live = state(timedOut = false)
      val judged = st.run(batch.iterator, live, 4).toList
      // 3 is kept though the stored 10 clones it (only SMALLER ids judge);
      // 5 drops against 4, 9 against 3, 12 against the stored 10; 8 keeps,
      // its only clone being the larger 10
      assert(judged.map(j => j.vec_id -> j.kept) == List(
        3L -> true, 4L -> true, 5L -> false, 8L -> true, 9L -> false, 12L -> false),
        s"${st.name}: $judged")
      assert(judged.forall(_.bucket == 7L))
      // cap 4: 3, 4 and 5 fill the set; 8, 9 and 12 are judged, not enrolled
      assert(st.ids(live.get) == Seq(10L, 3L, 4L, 5L), s"${st.name}: ${st.ids(live.get)}")
      assert(live.getTimeoutTimestampMs.isPresent, s"${st.name}: a live cluster re-arms its TTL")
      // expiry: the cluster goes, and no timeout is set on the way out
      val expired = state(timedOut = true)
      assert(st.run(Iterator.empty, expired, 4).isEmpty)
      assert(expired.isRemoved && !expired.isUpdated &&
        !expired.getTimeoutTimestampMs.isPresent, s"${st.name}: expiry re-armed")
      judged
    }

    val raw = transitions(Store[ClusterState]("raw",
      rs => ClusterState(rs.map(r => Exemplar(r.vec_id, r.v))), _.ex.map(_.vec_id),
      (rows, state, cap) =>
        SemDedupStream.onCluster(7L, rows, state, Some("1 hour"), 0.4, cap)))
    val pq = transitions(Store[Seq[SemDedupStream.PqExemplar]]("pq",
      _.map(PqScreen.exemplar), _.map(_.vec_id),
      (rows, state, cap) =>
        SemDedupStream.onPqCluster(7L, rows, state, Some("1 hour"), 0.4, cap, byId)))
    assert(pq == raw)
  }
}
