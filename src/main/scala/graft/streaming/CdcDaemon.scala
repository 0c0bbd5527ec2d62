package graft.streaming

import java.util.concurrent.{Executors, ScheduledExecutorService, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.streaming.StreamingQuery

/** New-table re-discovery — the reference's own TODO (`server.go:133`
  * "watch for new tables"), closed here: a daemon that re-runs catalog
  * discovery on a poll cadence and attaches capture for tables created
  * AFTER install, without restarting anything.
  *
  * Why a new QUERY per new table rather than widening the running union:
  * a Structured Streaming plan is fixed at `start()` — sources cannot be
  * added to a running query. Restarting the union query would interrupt
  * every in-flight table to pick up one new one; attaching an independent
  * query instead is incremental, keeps each table's offsets in its own
  * checkpoint (exactly-once per table, same contract as
  * [[CdcCatalog.readAll]]), and inherits the fan-out design's isolation —
  * a slow new table can never back-pressure the established ones.
  *
  * `attach` is the caller's composition point: it receives the spec of a
  * newly discovered table and must start (and return) the streaming query
  * that captures it — typically `readAll(spark, Seq(spec))` piped into the
  * shared sink with a per-table checkpoint.
  *
  * Scale note: one `DatabaseMetaData.getTables` enumeration per poll —
  * a single cheap catalog query regardless of table count; the discovered
  * set is diffed against the attached set driver-side (set membership over
  * table names, trivially small).
  */
final class CdcDaemon(
    url: String,
    schemaPattern: String,
    tableRegexp: String,
    attach: (String, CdcSource.FeedSpec) => StreamingQuery,
    specFor: String => CdcSource.FeedSpec = null) {

  private val mkSpec: String => CdcSource.FeedSpec =
    if (specFor != null) specFor else t => CdcSource.JdbcSpec(url, t)

  private val attached = scala.collection.mutable.LinkedHashMap.empty[String, StreamingQuery]
  private var timer: Option[ScheduledExecutorService] = None
  private val failures = new AtomicLong()
  @volatile private var lastError: Option[String] = None

  /** Tables currently under capture (schema-qualified, discovery order). */
  def tables: Seq[String] = synchronized { attached.keys.toSeq }

  /** Active capture queries, one per attached table. */
  def queries: Seq[StreamingQuery] = synchronized { attached.values.toSeq }

  /** Timer polls that threw since [[start]] (explicit [[rescan]] calls
    * throw to their caller and are not counted).
    */
  def pollFailures: Long = failures.get

  /** The most recent failed poll's error, `Class: message`. */
  def lastPollError: Option[String] = lastError

  /** One discovery pass: enumerate matching tables, attach capture for any
    * not yet under it. Returns the newly attached names (empty when the
    * catalog is unchanged — the steady-state poll result). Never detaches:
    * a dropped table's query fails on its next poll and surfaces through
    * the query's own exception, the right place for that signal.
    */
  def rescan(): Seq[String] = synchronized {
    val found = CdcCatalog.discoverTables(url, schemaPattern, tableRegexp)
    val fresh = found.filterNot(attached.contains)
    fresh.foreach { t => attached(t) = attach(t, mkSpec(t)) }
    fresh
  }

  /** Start polling the catalog every `pollIntervalMs`. A failed poll
    * (catalog briefly unreachable) is counted in [[pollFailures]] and kept
    * as [[lastPollError]], and never kills re-discovery: the next tick
    * retries.
    */
  def start(pollIntervalMs: Long): this.type = synchronized {
    require(timer.isEmpty, "daemon already started")
    val ex = Executors.newSingleThreadScheduledExecutor { r =>
      val th = new Thread(r, "cdc-daemon-rescan"); th.setDaemon(true); th
    }
    ex.scheduleWithFixedDelay(
      () => try rescan() catch { case scala.util.control.NonFatal(e) =>
        lastError = Some(s"${e.getClass.getName}: ${e.getMessage}")
        failures.incrementAndGet(); ()
      },
      pollIntervalMs, pollIntervalMs, TimeUnit.MILLISECONDS)
    timer = Some(ex)
    this
  }

  /** Stop the poll timer and every attached capture query. */
  def stop(): Unit = synchronized {
    timer.foreach(_.shutdownNow())
    timer = None
    attached.values.foreach(q => try q.stop() catch { case scala.util.control.NonFatal(_) => () })
  }
}

object CdcDaemon {

  /** GENERIC-MODE daemon — the zero-config composition: a table of ANY
    * shape appearing after install is attached through the schema-generic
    * capture ([[CdcSource.GenericJdbcSpec]] — `SELECT *` payload-folded,
    * no per-table code), so "new producer starts writing a brand-new
    * table" needs nothing but the table carrying the monotone `idColumn`.
    * Downstream, the drift census starts cold on the new table's payloads
    * and inventories its schema as data — discovery, capture, and schema
    * observation all without an engine change.
    */
  def generic(url: String, schemaPattern: String, tableRegexp: String,
              idColumn: String,
              attach: (String, CdcSource.FeedSpec) => StreamingQuery): CdcDaemon =
    new CdcDaemon(url, schemaPattern, tableRegexp, attach,
      specFor = t => CdcSource.GenericJdbcSpec(url, t, idColumn))
}
