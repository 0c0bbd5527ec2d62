package graft.streaming

import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-gated proof of the SCHEMA-GENERIC live capture
  * (`cdc_generic_roundtrip`): the declared-query discipline extended to
  * the newest capture edge. The staging pass loads the events fixture
  * into a real (in-memory Derby) database and runs the ACTUAL streaming
  * path — `CdcSourceProvider` with `capture=generic`, DSv2 micro-batch
  * readers, executor-side [[RowJson]] folding — to a parquet envelope
  * dump; the query reads the dump and extracts the folded fields back
  * out of the dynamic payload with codegen'd JSON path expressions. The
  * DuckDB oracle recomputes the same columns from the raw parquet table,
  * so the gate proves: every row delivered exactly once through the live
  * stream, every key field folded and ESCAPE-ROUND-TRIPPED byte-exactly
  * (props is itself a JSON document riding as an escaped string value),
  * and the payload carrying exactly the table's column set (`n_keys`).
  *
  * Staging is cached under the same content-fingerprint discipline as
  * the format drops ([[graft.sources.TextFormats.ensureDrop]]) — the
  * capture runs once per fixture generation, bench reps read parquet.
  */
object GenericRoundtrip {

  def stagedGenericCapture(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_gencap_" +
      Integer.toHexString(sfDir.hashCode).takeRight(8)
    graft.sources.TextFormats.ensureDrop(spark, dir,
      graft.sources.TextFormats.eventsFingerprint(spark, sfDir)) { _ =>
      val db = "gencap" + Integer.toHexString(sfDir.hashCode).takeRight(8)
      val url = s"jdbc:derby:memory:$db;create=true"
      val conn = java.sql.DriverManager.getConnection(url)
      try conn.createStatement().execute(
        "CREATE TABLE gen_events (seq BIGINT PRIMARY KEY, ts TIMESTAMP, " +
          "user_id BIGINT, event_type VARCHAR(64), props VARCHAR(32000))")
      finally conn.close()
      // EXECUTOR-SIDE fixture load (the CdcSink delivery shape): each
      // partition streams its rows straight into JDBC batch inserts — no
      // driver materialization, so an x100 staging (10M rows) never holds
      // the table in driver heap. The embedded in-memory Derby confines
      // THIS fixture to one JVM (local[n] satisfies that); against a
      // server-grade JDBC URL the identical code is cluster-correct.
      graft.Tables.load(spark, sfDir, "events")
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("props"))
        .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
          if (rows.nonEmpty) {
            val c = java.sql.DriverManager.getConnection(url)
            try {
              c.setAutoCommit(false)
              val ps = c.prepareStatement("INSERT INTO gen_events VALUES (?,?,?,?,?)")
              var pending = 0
              rows.foreach { r =>
                ps.setLong(1, r.getLong(0))
                ps.setTimestamp(2, r.getTimestamp(1))
                ps.setLong(3, r.getLong(2))
                ps.setString(4, r.getString(3))
                ps.setString(5, r.getString(4))
                ps.addBatch()
                pending += 1
                if (pending >= 1000) { ps.executeBatch(); pending = 0 }
              }
              if (pending > 0) ps.executeBatch()
              c.commit()
            } catch {
              case e: Throwable =>
                try c.rollback() catch { case NonFatal(r) => e.addSuppressed(r) }
                throw e
            } finally c.close()
          }
        }
      val q = spark.readStream.format("graft.streaming.CdcSourceProvider")
        .option("jdbcUrl", url).option("jdbcTable", "gen_events")
        .option("capture", "generic").option("idColumn", "seq")
        .option("numPartitions", "4").load()
        .writeStream.format("parquet").option("path", s"$dir/data")
        .option("checkpointLocation", s"$dir/ckpt")
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      // drop the in-memory db (a successful drop throws 08006 by contract)
      try java.sql.DriverManager.getConnection(s"jdbc:derby:memory:$db;drop=true")
      catch { case _: java.sql.SQLException => () }
    }
    spark.read.parquet(s"$dir/data").select(
      col("event_id"),
      get_json_object(col("payload"), "$.user_id").cast("long").as("user_id"),
      get_json_object(col("payload"), "$.event_type").as("event_type"),
      get_json_object(col("payload"), "$.props").as("props"),
      size(json_object_keys(col("payload"))).cast("long").as("n_keys"))
  }
}
