package graft.streaming

import java.sql.DriverManager
import scala.util.control.NonFatal
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Idempotent JDBC delivery — the "populating other systems" sink the
  * reference exists for (reference `README.md:3`), composed Spark-first:
  * the source side is exactly-once by checkpointed offsets ([[CdcSource]]),
  * and this sink makes redelivery harmless, so the END-TO-END path is
  * exactly-once — strictly stronger than the reference's at-most-once gRPC
  * fan-out (`server.go:249-253` drops on slow/dead clients).
  *
  *  - `foreachBatch` + per-partition connections: each executor partition
  *    opens its own short-lived connection and writes prepared-statement
  *    batches — no driver funnel, no connection serialization (the exact
  *    mirror of [[JdbcFeed]]'s read path).
  *  - Idempotence by key: delete-then-insert on event_id inside one
  *    transaction per partition. A replayed micro-batch (failure recovery
  *    re-runs the last uncommitted batch) overwrites rows instead of
  *    duplicating them. DELETE+INSERT is used rather than MERGE because it is
  *    portable across every JDBC dialect; a dialect-aware upsert is a
  *    drop-in.
  */
object CdcSink {

  /** One micro-batch delivery, usable directly or via [[deliver]].
    * Columns written: (event_id, ts, user_id, event_type, props).
    */
  def upsertBatch(url: String, table: String, batchSize: Int = 500)
                 (batch: DataFrame, batchId: Long): Unit = {
    require(JdbcFeed.isSafeIdent(table), s"unsafe table identifier: $table")
    // In-batch dedup by key BEFORE writing: an at-least-once upstream can
    // redeliver an event_id inside one micro-batch, and the delete batch runs
    // before the insert batch, so two copies would double-insert (PK
    // violation -> permanently poisoned retry loop). The groupBy also
    // shuffles by the key, co-locating copies that landed in different
    // partitions (whose separate transactions couldn't see each other).
    // Copies may DIFFER (a corrected retry): max(struct(...)) picks the
    // lexicographically-latest copy deterministically — dropDuplicates would
    // keep an arbitrary one and deliver nondeterministic data.
    import org.apache.spark.sql.functions.{col, max, struct}
    batch.select("event_id", "ts", "user_id", "event_type", "props")
      .groupBy(col("event_id"))
      .agg(max(struct(col("ts"), col("user_id"), col("event_type"), col("props"))).as("r"))
      .select(col("event_id"), col("r.ts"), col("r.user_id"), col("r.event_type"), col("r.props"))
      .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
        if (rows.nonEmpty) {
          val conn = DriverManager.getConnection(url)
          try {
            conn.setAutoCommit(false)
            val del = conn.prepareStatement(s"DELETE FROM $table WHERE event_id = ?")
            // explicit column list: VALUES without one silently depends on
            // the target's physical column order
            val ins = conn.prepareStatement(
              s"INSERT INTO $table (event_id, ts, user_id, event_type, props) VALUES (?, ?, ?, ?, ?)")
            var pending = 0
            rows.foreach { r =>
              del.setLong(1, r.getLong(0))
              del.addBatch()
              ins.setLong(1, r.getLong(0))
              ins.setTimestamp(2, r.getAs[java.sql.Timestamp](1))
              ins.setLong(3, r.getLong(2))
              ins.setString(4, r.getString(3))
              ins.setString(5, r.getString(4))
              ins.addBatch()
              pending += 1
              if (pending >= batchSize) {
                del.executeBatch(); ins.executeBatch(); pending = 0
              }
            }
            if (pending > 0) { del.executeBatch(); ins.executeBatch() }
            conn.commit()
          } catch {
            case e: Throwable =>
              // rollback on a broken connection throws its own exception —
              // suppress it so the ORIGINAL failure stays diagnosable
              try conn.rollback() catch { case NonFatal(r) => e.addSuppressed(r) }
              throw e
          } finally conn.close()
        }
      }
  }

  /** Streaming delivery: checkpointed foreachBatch over [[upsertBatch]]. */
  def deliver(events: DataFrame, url: String, table: String,
              checkpointDir: String): StreamingQuery =
    events.writeStream
      .foreachBatch(upsertBatch(url, table) _)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .start()
}
