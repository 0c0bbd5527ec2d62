package graft

import graft.ops.{Dedup, IvfModel, Similarity}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Adversarial HOT-SPOT probe at x10-class scale — the skew-kill signal at
  * 100 TB is not throughput, it is the MAX-TASK/MEDIAN-TASK ratio: a
  * bounded plan keeps every task in the same cost class however skewed the
  * data, an unbounded one parks the hot key's whole blowup on one straggler.
  * Three deliberately degenerate fixtures, each aimed at one documented cap:
  *
  *  - `ivf_hot_list`: half of a 200k-vector corpus planted inside ONE
  *    trained IVF list (clones of centroid 0 + small noise). The batched
  *    trained serve must stay a scan-shaped plan: ADC over the probed
  *    lists (including the hot one) with TopKPairs map-side heaps — cost
  *    grows with the hot list's share, never with pairs.
  *  - `lsh_hot_bucket`: 10k IDENTICAL vectors (one bucket in EVERY hash
  *    table) + 10k spread tail. `bucketCap` truncates each (table, bucket)
  *    to its lowest-id members BEFORE collection, so the emitted pair
  *    count is exactly C(cap, 2) — the cap visibly engaged — instead of
  *    C(10k, 2) ≈ 5·10⁷ per table.
  *  - `ngram_hot_shingle`: 50k docs sharing a 20-token boilerplate prefix
  *    (every pure-prefix 3-gram has df = 50k). `dfCap` drops those
  *    stop-shingles from the inverted index entirely — the 1.25·10⁹-pair
  *    blowup never materializes — while twin docs sharing rare tail
  *    shingles (df = 2) are still found: real signal survives the cut.
  *
  * Prints ONE JSON line: per-probe seconds, rows out, task-count,
  * max/median task ratio, plus the fixture's realized skew (hot-list
  * share, bucket size, hot-shingle df). Numbers land in BASELINE.md.
  */
object HotSpotBench {

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val nVec = sys.env.getOrElse("SPARK_GRAFT_HOT_VECS", "200000").toLong
    val nDoc = sys.env.getOrElse("SPARK_GRAFT_HOT_DOCS", "50000").toLong
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // x10-class data in a 1x-size box: the artifact's list files are tiny
      // (a few MB where 100 TB deployments hold GB per list), so the
      // default 128 MB/4 MB split sizing would pack every hot-list file
      // into ONE task and fake a straggler the real deployment doesn't
      // have. Sizing splits to the fixture — the documented knob — keeps
      // the scan parallelism proportional to bytes, exactly as at scale.
      .config("spark.sql.files.maxPartitionBytes", (1024 * 1024).toString)
      .config("spark.sql.files.openCostInBytes", (64 * 1024).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect()

    // per-probe (stage, duration) pairs: the straggler signal is the
    // max/median ratio WITHIN the significant stages — a global median is
    // dominated by trivial metadata tasks and would over-read the ratio
    val durs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        durs.add((t.stageId, t.taskInfo.duration)); ()
      }
    })
    def measure(body: => Long): (Double, Long, Int, Double) = {
      durs.clear()
      val t0 = System.nanoTime()
      val rows = body
      val secs = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500) // listener bus drain
      val ds = {
        import scala.jdk.CollectionConverters._
        durs.asScala.toSeq
      }
      val total = math.max(1L, ds.map(_._2).sum)
      // significant stage = carries ≥10% of the probe's task time AND has
      // enough tasks for a median to mean anything
      val ratios = ds.groupBy(_._1).values.toSeq
        .filter(st => st.map(_._2).sum * 10 >= total && st.size >= 4)
        .map { st =>
          val s = st.map(_._2).sorted
          s.last.toDouble / math.max(1L, s(s.size / 2))
        }
      (secs, rows, ds.size, if (ratios.isEmpty) 1.0 else ratios.max)
    }

    // ===== fixture 1: hot IVF list =====
    val dir = "/tmp/graft_hotspot"
    val c0 = typedLit(IvfModel.Micros(0).map(_ / 1e6).toSeq)
    val noise = transform(sequence(lit(0), lit(Similarity.Dim - 1)), d =>
      (pmod(xxhash64(col("id"), d), lit(2001)) - 1000).cast("double") / 1000.0)
    spark.range(0, nVec, 2).select(col("id").as("vec_id"),
        zip_with(c0, noise, (c, n) => c + n * 0.05).as("embedding"))
      .unionAll(spark.range(1, nVec, 2)
        .select(col("id").as("vec_id"), noise.as("embedding")))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    // realized skew: share of the corpus in the hottest trained list
    val hotTbl = Similarity.ensurePqCodesTrained(spark, dir)
    val listSizes = spark.table(hotTbl).groupBy(col("list")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hotShare = listSizes.values.max.toDouble / nVec
    val (s1, r1, t1, k1) = measure {
      Similarity.serve(spark, dir, Similarity.IvfTrained(), Seq(0L, 1L, 2L, 3L)).count()
    }

    // ===== fixture 2: hot LSH bucket (identical vectors) =====
    val bucketCap = 512
    val hotVecs = spark.range(10000) // 10k IDENTICAL → one bucket, every table
      .select(col("id").as("vec_id"), c0.as("v"))
      .unionAll(spark.range(10000, 20000)
        .select(col("id").as("vec_id"), noise.as("v")))
    val (s2, r2, t2, k2) = measure {
      Similarity.nearDupPairsDf(hotVecs, bucketCap = bucketCap).count()
    }

    // ===== fixture 3: hot shingle (shared boilerplate prefix) =====
    val prefix = (0 until 20).map(i => s"boiler$i").mkString(" ")
    val docs = spark.range(nDoc).select(col("id").as("doc_id"),
      concat(lit(prefix + " "),
        concat_ws(" ", (0 until 6).map(j =>
          concat(lit(s"t$j"), expr("id DIV 2").cast("string"))): _*)).as("text"))
    val (s3, r3, t3, k3) = measure {
      Dedup.ngramJaccardDf(docs, threshold = 0.05, dfCap = 5000).count()
    }
    // the cap's arithmetic proof: every hot-bucket pair count is C(cap, 2)
    // per table collapsed by distinct; the twin pairs are exactly nDoc/2
    val capPairs = bucketCap.toLong * (bucketCap - 1) / 2

    def j(name: String, s: Double, rows: Long, tasks: Int, ratio: Double) =
      f""""$name":{"secs":$s%.2f,"rows":$rows,"tasks":$tasks,"max_over_median_task":$ratio%.1f}"""
    println(
      s"""{"metric":"hotspot_bench","vecs":$nVec,"docs":$nDoc,""" +
        s""""hot_list_share":${math.round(hotShare * 1000) / 1000.0},""" +
        s""""hot_bucket_members":10000,"bucket_cap":$bucketCap,"cap_pairs":$capPairs,""" +
        s""""twin_pairs_expected":${nDoc / 2},""" +
        Seq(j("ivf_hot_list", s1, r1, t1, k1),
            j("lsh_hot_bucket", s2, r2, t2, k2),
            j("ngram_hot_shingle", s3, r3, t3, k3)).mkString(",") + "}")
    spark.stop()
  }
}
