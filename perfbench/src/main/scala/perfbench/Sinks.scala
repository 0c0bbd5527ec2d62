package perfbench

import java.util.concurrent.ConcurrentHashMap

import graft.streaming.PqsClient
import org.apache.spark.sql.{DataFrame, ForeachWriter, Row}

/** JVM-wide stamps written from inside Spark tasks (same JVM under
  * `local[n]`): when each event id reached a subscriber path's writer.
  * Filled only while tracing.
  */
object Stamps {
  private val maps = new ConcurrentHashMap[String, ConcurrentHashMap[java.lang.Long, java.lang.Long]]()
  def of(kind: String): ConcurrentHashMap[java.lang.Long, java.lang.Long] =
    maps.computeIfAbsent(kind, _ => new ConcurrentHashMap[java.lang.Long, java.lang.Long]())
}

/** A program `ForeachWriter` with the time of each `process` call recorded
  * per event id (rows are (table, event JSON)) when tracing is on.
  */
final class StampedWriter(inner: ForeachWriter[Row], kind: String) extends ForeachWriter[Row] {
  override def open(partitionId: Long, epochId: Long): Boolean = inner.open(partitionId, epochId)
  override def process(row: Row): Unit = {
    if (Trace.enabled)
      Stamps.of(kind).put(PqsClient.eventId(row.getString(1)), System.nanoTime())
    inner.process(row)
  }
  override def close(errorOrNull: Throwable): Unit = inner.close(errorOrNull)
}

/** A program `foreachBatch` sink with each batch's span and end time
  * recorded. Batch end times are kept in both modes: they are when a
  * batch's rows became visible in the sink, which the catch-up latency is
  * measured to. The span shares its trace id with the query's trigger spans
  * (see [[ProgressLog]]), and Spark jobs the sink runs are parented on it.
  */
final class TimedBatches(name: String, query: String, sink: (DataFrame, Long) => Unit)
    extends Serializable {
  /** (batch id, start ns, end ns) per committed batch */
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]()
  def apply(df: DataFrame, batchId: Long): Unit = {
    val s = System.nanoTime()
    val trace = s"b:$query:$batchId"
    Trace.span(name, trace) { id =>
      val sc = df.sparkSession.sparkContext
      if (Trace.enabled) {
        sc.setLocalProperty("perfbench.trace", trace)
        sc.setLocalProperty("perfbench.span", id.toString)
      }
      try sink(df, batchId)
      finally if (Trace.enabled) {
        sc.setLocalProperty("perfbench.trace", null)
        sc.setLocalProperty("perfbench.span", null)
      }
    }
    batches.add((batchId, s, System.nanoTime()))
    ()
  }
}
