package graft

import java.nio.file.Files

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types.{BinaryType, StringType, TimestampType}

/** `Tables.load`'s table-metadata cache: a table is inferred once per
  * version (root length and modification time plus the parquet-inference
  * confs), and every later load reads with the cached schema and launches
  * no Spark job.
  */
class TablesSpec extends SparkSuite {
  import spark.implicits._

  private def sc = spark.sparkContext

  /** Spark jobs `body` launched on this thread. A marker job run after it
    * is awaited in the status store, which processes job events in order,
    * so every job of `body` is counted by then.
    */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val group = s"tables-spec-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, "tables spec probe")
    val out = try body finally sc.clearJobGroup()
    sc.setJobGroup(group + "-marker", "tables spec marker")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (sc.statusTracker.getJobIdsForGroup(group + "-marker").isEmpty &&
      System.nanoTime() < deadline) Thread.sleep(10)
    (out, sc.statusTracker.getJobIdsForGroup(group).length)
  }

  private def freshDir(): String = Files.createTempDirectory("tables_spec").toString

  test("a second load of an unchanged table runs no job and returns the same schema and rows") {
    val dir = freshDir()
    (1L to 50L).map(i => (i, s"name-$i", i * 1.5)).toDF("id", "name", "score")
      .write.parquet(s"$dir/orders.parquet")
    val (cold, coldJobs) = jobsDuring(Tables.load(spark, dir, "orders"))
    assert(coldJobs > 0, "the first load must infer (the probe counts that job)")
    val (warm, warmJobs) = jobsDuring(Tables.load(spark, dir, "orders"))
    assert(warmJobs == 0, s"a cached load launched $warmJobs job(s)")
    assert(warm.schema == cold.schema)
    assert(warm.orderBy("id").collect().toSeq == cold.orderBy("id").collect().toSeq)
    // loadPlain shares the entry
    assert(jobsDuring(Tables.loadPlain(spark, dir, "orders"))._2 == 0)
  }

  test("rewriting a table at the same path with a new schema is seen by the next load") {
    val dir = freshDir()
    Seq((1L, "a"), (2L, "b")).toDF("id", "name").write.parquet(s"$dir/part.parquet")
    assert(Tables.load(spark, dir, "part").columns.toSeq == Seq("id", "name"))
    assert(jobsDuring(Tables.load(spark, dir, "part"))._2 == 0)
    Seq((3L, "c", 7), (4L, "d", 8)).toDF("id", "name", "size")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    val (after, jobs) = jobsDuring(Tables.load(spark, dir, "part"))
    assert(jobs > 0, "a rewritten table must be inferred again")
    assert(after.columns.toSeq == Seq("id", "name", "size"))
    assert(after.orderBy("id").as[(Long, String, Int)].collect().toSeq ==
      Seq((3L, "c", 7), (4L, "d", 8)))
    assert(jobsDuring(Tables.load(spark, dir, "part"))._2 == 0)
  }

  /** Write one parquet file straight through parquet's example writer:
    * the footer carries no Spark schema, so inference reads the parquet
    * types themselves (and Spark cannot write TIMESTAMP(NANOS) at all).
    * Each row gives its values in `message` field order.
    */
  private def writeParquet(file: String, message: String, rows: Seq[Seq[Any]]): Unit = {
    val schema = MessageTypeParser.parseMessageType(message)
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(file))
      .withType(schema).withConf(sc.hadoopConfiguration).build()
    val groups = new SimpleGroupFactory(schema)
    try rows.foreach { row =>
      val g = groups.newGroup()
      row.zipWithIndex.foreach {
        case (v: Long, i) => g.append(schema.getFieldName(i), v)
        case (v: String, i) =>
          g.append(schema.getFieldName(i), org.apache.parquet.io.api.Binary.fromString(v))
        case (v, _) => throw new IllegalArgumentException(s"unsupported value $v")
      }
      w.write(g)
    } finally w.close()
  }

  test("a different parquet-inference conf value forces a fresh inference") {
    val dir = freshDir()
    // an unannotated BINARY column: binaryAsString decides its type
    writeParquet(s"$dir/supplier.parquet",
      "message t { required int64 id; optional binary blob; }", Seq(Seq(1L, "hi")))
    val key = "spark.sql.parquet.binaryAsString"
    val prior = spark.conf.get(key)
    try {
      spark.conf.set(key, "false")
      assert(Tables.load(spark, dir, "supplier").schema("blob").dataType == BinaryType)
      assert(jobsDuring(Tables.load(spark, dir, "supplier"))._2 == 0)
      spark.conf.set(key, "true")
      val (asString, jobs) = jobsDuring(Tables.load(spark, dir, "supplier"))
      assert(jobs > 0, "a changed inference conf must not reuse the cached schema")
      assert(asString.schema("blob").dataType == StringType)
      assert(asString.select("blob").as[String].collect().toSeq == Seq("hi"))
    } finally spark.conf.set(key, prior)
    assert(Tables.load(spark, dir, "supplier").schema("blob").dataType == BinaryType)
  }

  private def writeEvents(dir: String, unit: String, ts: Seq[Long]): Unit =
    writeParquet(s"$dir/events.parquet",
      s"message events { required int64 event_id; optional int64 ts (TIMESTAMP($unit,true)); }",
      ts.zipWithIndex.map { case (t, i) => Seq(i.toLong, t) })

  test("both events.ts layouts still normalize, cold and cached") {
    val micros = Seq(1700000000123456L, 1700000100000001L)
    val nanosDir = freshDir()
    writeEvents(nanosDir, "NANOS", micros.map(_ * 1000L + 789L))
    val microsDir = freshDir()
    writeEvents(microsDir, "MICROS", micros)
    Seq(nanosDir, microsDir).foreach { dir =>
      val (cold, coldJobs) = jobsDuring(Tables.load(spark, dir, "events"))
      val (warm, warmJobs) = jobsDuring(Tables.load(spark, dir, "events"))
      assert(coldJobs > 0 && warmJobs == 0, s"$dir: jobs cold $coldJobs, cached $warmJobs")
      Seq(cold, warm).foreach { df =>
        assert(df.schema("ts").dataType == TimestampType)
        assert(df.orderBy("event_id").select(unix_micros(col("ts"))).as[Long].collect().toSeq == micros)
      }
    }
  }
}
