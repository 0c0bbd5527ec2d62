package graft.streaming

import java.sql.DriverManager
import java.util.concurrent.atomic.AtomicLong
import scala.util.control.NonFatal
import graft.streaming.CdcStream.RawChange

/** JDBC-backed [[CdcSource.ChangeFeed]] — the production shape of the CDC
  * poller (the north star's "Structured Streaming + JDBC source for CDC").
  *
  * Two query shapes, both mirroring the reference:
  *  - `latestId` — one `MAX(id)` probe per trigger, driver-side (the analog of
  *    the NOTIFY wake-up, reference `server.go:258-272`, as a pull);
  *  - `fetch` — the ranged `WHERE event_id > ? AND event_id <= ?` scan
  *    (the id-keyed query shape of the reference's fallback lookup,
  *    `queries.go:62-64`), executed EXECUTOR-side in the partition reader:
  *    each [[CdcSource.IdRangePartition]] opens its own short-lived
  *    connection, so a large backlog is fetched by N readers in parallel and
  *    no connection object ever needs to be serialized.
  *
  * Range bounds are bound as prepared-statement parameters. The table name
  * cannot be a parameter, so it is validated against a strict identifier
  * whitelist instead — the reference Sprintf's the table name into SQL
  * unchecked (`server.go:196`), a noted injection surface we don't copy.
  *
  * Tested against in-process Derby (in `JdbcFeedSpec`) — any JDBC database
  * with a monotone id column works; zero Derby-specific SQL here.
  *
  * Visibility caveat (the classic id-polling CDC pitfall): `MAX(event_id)`
  * assumes ids become VISIBLE in order. Under concurrent writers a
  * transaction holding a smaller id can commit after a larger id was already
  * polled past, and a plain `(lastOffset, latest]` scan then never fetches
  * that row. The reference's NOTIFY transport dodges this (notifications
  * fire on commit) at the price of at-most-once delivery. HARDENED here via
  * the source's `rescanWindow` option ([[CdcSource.CdcMicroBatchStream]]):
  * each batch re-fetches a trailing id window below its start offset, and
  * [[CdcStream.dedupeReplays]] restores exactly-once downstream. Size the
  * window to the id-allocation burst a transaction can straddle (ids issued
  * per max-transaction-duration); for append-only single-writer logs the
  * monotone assumption holds and `rescanWindow = 0` keeps the source
  * exactly-once by itself.
  */
final class JdbcFeed(url: String, table: String) extends CdcSource.ChangeFeed {
  require(JdbcFeed.isSafeIdent(table), s"unsafe table identifier: $table")

  override def latestId(): Long = JdbcFeed.maxId(url, table, "event_id")

  /** Server-side row-size probe for the byte-budget admission cap — one
    * `AVG(LENGTH(...))` over the sampled range instead of the default's
    * fetch-and-measure (sizing must never double-read the feed).
    */
  override def avgRowBytes(fromExclusive: Long, toInclusive: Long): Double = JdbcFeed.withRetry() {
    val conn = DriverManager.getConnection(url)
    try {
      val ps = conn.prepareStatement(
        "SELECT AVG(CAST(COALESCE(LENGTH(props), 0) + " +
          s"COALESCE(LENGTH(event_type), 0) + 28 AS DOUBLE)) FROM $table" +
          " WHERE event_id > ? AND event_id <= ?")
      ps.setLong(1, fromExclusive)
      ps.setLong(2, toInclusive)
      val rs = ps.executeQuery()
      if (rs.next() && rs.getObject(1) != null) rs.getDouble(1) else -1.0
    } finally conn.close()
  }

  override def fetch(fromExclusive: Long, toInclusive: Long): Seq[RawChange] = {
    val conn = DriverManager.getConnection(url)
    try {
      val ps = conn.prepareStatement(
        s"SELECT event_id, ts, user_id, event_type, props FROM $table" +
          " WHERE event_id > ? AND event_id <= ? ORDER BY event_id")
      ps.setLong(1, fromExclusive)
      ps.setLong(2, toInclusive)
      val rs = ps.executeQuery()
      val buf = scala.collection.mutable.ArrayBuffer.empty[RawChange]
      while (rs.next()) {
        buf += RawChange(rs.getLong(1), rs.getTimestamp(2), rs.getLong(3),
          rs.getString(4), rs.getString(5))
      }
      buf.toSeq
    } finally conn.close()
  }
}

object JdbcFeed {
  private val suppressed = new AtomicLong()

  /** Close/rollback failures the JDBC readers suppressed since the JVM
    * started: a reader's cleanup must not fail a batch that already
    * delivered its rows, but a rising count means connections are being
    * left in a bad state.
    */
  def suppressedCloseFailures: Long = suppressed.get

  private[streaming] def countSuppressed(): Unit = suppressed.incrementAndGet()

  /** End a reader's transaction, then close its connection. Autocommit is
    * off on the ranged readers, so even the read opened a transaction, and
    * Derby refuses to close a connection mid-transaction. A failed
    * rollback is counted in [[suppressedCloseFailures]] and the close
    * still runs.
    */
  private[graft] def rollbackAndClose(conn: java.sql.Connection): Unit = {
    try conn.rollback() catch { case NonFatal(_) => countSuppressed() }
    conn.close()
  }

  private val IdentRe = "^[A-Za-z_][A-Za-z0-9_]*(\\.[A-Za-z_][A-Za-z0-9_]*)*$".r
  /** ASCII identifier segments joined by single dots (schema qualification);
    * no leading/trailing/doubled dots, no quoting, no unicode.
    */
  def isSafeIdent(s: String): Boolean = IdentRe.matches(s)

  /** Bounded retry for TRANSIENT lock failures on the capture's JDBC
    * touchpoints: a live table under concurrent DDL (schema migration) or
    * bulk writes can pick the capture's transaction as the deadlock/
    * timeout victim — that must cost one retried round-trip, never the
    * streaming query (a killed query is a restart + checkpoint recovery
    * for what a 100 ms backoff absorbs). Non-SQLException errors
    * propagate immediately; the last attempt's failure propagates too.
    * SQLState class 42 (syntax / access rule: absent table, bad column,
    * privilege) is NEVER transient — it rethrows on the first attempt, so
    * a caller probing for table absence pays one round-trip instead of
    * attempts × backoff.
    */
  def withRetry[T](attempts: Int = 5, backoffMs: Long = 100L)(f: => T): T = {
    var i = 0
    while (true) {
      i += 1
      try return f
      catch {
        case e: java.sql.SQLException =>
          if (i >= attempts ||
              Option(e.getSQLState).exists(_.startsWith("42"))) throw e
          Thread.sleep(backoffMs)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Driver-side `MAX(idColumn)` probe — the wake-up poll shared by the
    * typed feed and the schema-generic capture (which has no [[JdbcFeed]]
    * instance; its rows exist only inside its partition reader). Retried:
    * losing a lock fight with concurrent DDL must not kill the query.
    */
  def maxId(url: String, table: String, idColumn: String): Long = {
    require(isSafeIdent(table), s"unsafe table identifier: $table")
    require(isSafeIdent(idColumn), s"unsafe column identifier: $idColumn")
    withRetry() {
      val conn = DriverManager.getConnection(url)
      try {
        val rs = conn.createStatement().executeQuery(
          s"SELECT MAX($idColumn) FROM $table")
        if (rs.next() && rs.getObject(1) != null) rs.getLong(1) else -1L
      } finally conn.close()
    }
  }
}

/** ResultSet-row → JSON-object serializer — the engine-side analog of the
  * reference trigger's `row_to_json(NEW)` (`/root/reference/queries.go:
  * 17-21`): the capture edge declares NO schema; whatever columns the
  * table has at fetch time become keys of a JSON document, typed by their
  * JDBC type the way `row_to_json` types them by their Postgres type —
  * numbers and booleans bare, everything temporal/textual as a string
  * (the reference's payloads carry timestamps as JSON strings too,
  * SURVEY §1.2), binary as lowercase hex, SQL NULL as JSON null. Key
  * order is the table's column order, matching `row_to_json`.
  *
  * Runs executor-side per row (this is ingest serialization, not a query
  * operator — the downstream pipeline parses it with codegen'd JSON
  * expressions exactly as it parses the reference's notifications).
  */
private[streaming] object RowJson {

  /** Same escape set as the Listen hub's wire encoder ([[Listen]]
    * `jsonEscape`), JVM-side: backslash and quote, short-form control
    * escapes, remaining U+0000–U+001F as `\u00XX`.
    */
  def escape(s: String): String = {
    val b = new java.lang.StringBuilder(s.length + 8)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        case '\\' => b.append("\\\\")
        case '"'  => b.append("\\\"")
        case '\n' => b.append("\\n")
        case '\r' => b.append("\\r")
        case '\t' => b.append("\\t")
        case _ if c < 0x20 => b.append("\\u%04x".format(c.toInt))
        case _ => b.append(c)
      }
      i += 1
    }
    b.toString
  }

  private val hex = "0123456789abcdef".toCharArray

  /** One column's JSON value (never the key), `null` SQL → `null` JSON. */
  def value(rs: java.sql.ResultSet, i: Int, sqlType: Int): String = {
    import java.sql.Types._
    sqlType match {
      case TINYINT | SMALLINT | INTEGER | BIGINT =>
        val v = rs.getLong(i); if (rs.wasNull()) "null" else v.toString
      case NUMERIC | DECIMAL =>
        val v = rs.getBigDecimal(i)
        if (rs.wasNull() || v == null) "null" else v.toPlainString
      case FLOAT | REAL | DOUBLE =>
        val v = rs.getDouble(i)
        if (rs.wasNull()) "null"
        // JSON has no NaN/Infinity literal; quote them (row_to_json does too)
        else if (v.isNaN || v.isInfinite) "\"" + v.toString + "\""
        else v.toString
      case BOOLEAN | BIT =>
        val v = rs.getBoolean(i); if (rs.wasNull()) "null" else v.toString
      case BINARY | VARBINARY | LONGVARBINARY | BLOB =>
        val v = rs.getBytes(i)
        if (rs.wasNull() || v == null) "null"
        else {
          val b = new java.lang.StringBuilder(v.length * 2 + 2)
          b.append('"')
          v.foreach(x => b.append(hex((x >> 4) & 0xf)).append(hex(x & 0xf)))
          b.append('"').toString
        }
      case _ =>
        // CHAR/VARCHAR/CLOB/DATE/TIME/TIMESTAMP/anything-else: the driver's
        // text rendering, escaped — timestamps arrive as strings exactly
        // like the reference's payloads
        val v = rs.getString(i)
        if (rs.wasNull() || v == null) "null" else "\"" + escape(v) + "\""
    }
  }

  /** Per-partition column plan, read once from `ResultSetMetaData` (names
    * pre-escaped and pre-quoted into key prefixes so the per-row loop only
    * appends).
    */
  final class Cols(meta: java.sql.ResultSetMetaData) {
    val n: Int = meta.getColumnCount
    val keys: Array[String] = (1 to n).map(i =>
      "\"" + escape(meta.getColumnLabel(i).toLowerCase(java.util.Locale.ROOT)) + "\":").toArray
    val types: Array[Int] = (1 to n).map(meta.getColumnType).toArray
  }

  def obj(rs: java.sql.ResultSet, cols: Cols): String = {
    val b = new java.lang.StringBuilder(64)
    b.append('{')
    var i = 0
    while (i < cols.n) {
      if (i > 0) b.append(',')
      b.append(cols.keys(i)).append(value(rs, i + 1, cols.types(i)))
      i += 1
    }
    b.append('}').toString
  }
}

object GenericProbe {
  /** Bounded row-size probe for the generic capture's byte-budget cap:
    * fold up to `sampleRows` of the pending head through the real
    * [[RowJson]] serializer and average the payload bytes actually
    * shipped (+ the fixed envelope). Exact and type-agnostic; the ≤
    * `sampleRows` double-read of the head is the documented price.
    */
  def avgRowBytes(spec: CdcSource.GenericJdbcSpec, fromExclusive: Long,
                  toInclusive: Long, sampleRows: Int = 256): Double = JdbcFeed.withRetry() {
    val conn = DriverManager.getConnection(spec.url)
    try {
      val ps = conn.prepareStatement(
        s"SELECT ${spec.selectList} FROM ${spec.table}" +
          s" WHERE ${spec.idColumn} > ? AND ${spec.idColumn} <= ?" +
          s" ORDER BY ${spec.idColumn} FETCH FIRST $sampleRows ROWS ONLY")
      ps.setLong(1, fromExclusive)
      ps.setLong(2, toInclusive)
      val rs = ps.executeQuery()
      val cols = new RowJson.Cols(rs.getMetaData)
      var n = 0L
      var bytes = 0L
      while (rs.next()) { n += 1; bytes += RowJson.obj(rs, cols).length + 16 }
      if (n == 0) -1.0 else bytes.toDouble / n
    } finally conn.close()
  }
}

/** Executor-side streaming reader for the SCHEMA-GENERIC capture
  * ([[CdcSource.GenericJdbcSpec]]): `SELECT *` (or the configured
  * projection) over the id range, each row folded into the two-column
  * capture envelope `(event_id, payload)` with payload = the
  * [[RowJson]] document — ANY table with a monotone sequence column
  * streams through the same offset/partition machinery as the typed feed,
  * no per-table code. Same cursor discipline as [[JdbcRowReader]].
  */
final class GenericJdbcRowReader(spec: CdcSource.GenericJdbcSpec,
                                 fromExclusive: Long, toInclusive: Long)
    extends org.apache.spark.sql.connector.read.PartitionReader[
      org.apache.spark.sql.catalyst.InternalRow] {

  private val conn = {
    val c = DriverManager.getConnection(spec.url)
    c.setAutoCommit(false)
    c
  }
  private val rs = JdbcFeed.withRetry() {
    val ps = conn.prepareStatement(
      s"SELECT ${spec.selectList} FROM ${spec.table}" +
        s" WHERE ${spec.idColumn} > ? AND ${spec.idColumn} <= ?" +
        s" ORDER BY ${spec.idColumn}")
    ps.setFetchSize(1000)
    ps.setLong(1, fromExclusive)
    ps.setLong(2, toInclusive)
    ps.executeQuery()
  }
  private val cols = new RowJson.Cols(rs.getMetaData)
  // the id column's position inside the projection (label match is
  // case-insensitive — JDBC metadata upcases unquoted identifiers)
  private val idIdx = {
    val i = (1 to cols.n).indexWhere(j =>
      rs.getMetaData.getColumnLabel(j).equalsIgnoreCase(spec.idColumn)) + 1
    require(i > 0, s"id column ${spec.idColumn} missing from projection")
    i
  }

  override def next(): Boolean = rs.next()
  override def get(): org.apache.spark.sql.catalyst.InternalRow =
    org.apache.spark.sql.catalyst.InternalRow(
      rs.getLong(idIdx),
      org.apache.spark.unsafe.types.UTF8String.fromString(RowJson.obj(rs, cols)))
  override def close(): Unit = JdbcFeed.rollbackAndClose(conn)
}

/** Executor-side STREAMING partition reader over the ranged fetch — rows are
  * pulled straight off the ResultSet into the scan, never buffered: an
  * initial-backlog partition (offset -1 on an existing table) can span
  * millions of rows, and a Seq-materializing fetch would hold them all in
  * heap before emitting the first one. `setFetchSize` keeps the driver
  * cursor-based too (on Postgres that additionally needs autocommit off,
  * set below; Derby ignores it harmlessly).
  */
final class JdbcRowReader(spec: CdcSource.JdbcSpec, fromExclusive: Long, toInclusive: Long)
    extends org.apache.spark.sql.connector.read.PartitionReader[
      org.apache.spark.sql.catalyst.InternalRow] {

  private val conn = {
    val c = DriverManager.getConnection(spec.url)
    c.setAutoCommit(false)
    c
  }
  private val rs = JdbcFeed.withRetry() {
    val ps = conn.prepareStatement(
      s"SELECT event_id, ts, user_id, event_type, props FROM ${spec.table}" +
        " WHERE event_id > ? AND event_id <= ? ORDER BY event_id")
    ps.setFetchSize(CdcSource.IdsPerReader.toInt)
    ps.setLong(1, fromExclusive)
    ps.setLong(2, toInclusive)
    ps.executeQuery()
  }

  override def next(): Boolean = rs.next()
  override def get(): org.apache.spark.sql.catalyst.InternalRow =
    CdcSource.toInternalRow(RawChange(rs.getLong(1), rs.getTimestamp(2),
      rs.getLong(3), rs.getString(4), rs.getString(5)))
  override def close(): Unit = JdbcFeed.rollbackAndClose(conn)
}

/** Continuous-mode twin of [[GenericJdbcRowReader]] — the
  * [[JdbcContinuousReader]] tail-poll loop (one connection + prepared
  * statement for the query's life, capped per-poll fetch, mod-N class
  * predicate in SQL) emitting the generic `(event_id, payload)` envelope.
  */
final class GenericJdbcContinuousReader(spec: CdcSource.GenericJdbcSpec,
                                        part: CdcSource.ContinuousIdPartition)
    extends org.apache.spark.sql.connector.read.streaming.ContinuousPartitionReader[
      org.apache.spark.sql.catalyst.InternalRow] {
  private val conn = DriverManager.getConnection(spec.url)
  private val maxRowsPerPoll = 10000
  private def prepare() = {
    val p = conn.prepareStatement(
      s"SELECT ${spec.selectList} FROM ${spec.table}" +
        s" WHERE ${spec.idColumn} > ?" +
        (if (part.numPartitions > 1)
           s" AND MOD(${spec.idColumn}, ${part.numPartitions}) = ${part.partition}"
         else "") +
        s" ORDER BY ${spec.idColumn} FETCH FIRST $maxRowsPerPoll ROWS ONLY")
    p.setFetchSize(1000)
    p
  }
  private var ps = prepare()
  private var emitted = part.startExclusive
  private var buf: Iterator[(Long, String)] = Iterator.empty
  private var cur: (Long, String) = _
  override def next(): Boolean = {
    while (!buf.hasNext) {
      ps.setLong(1, emitted)
      // schema evolution mid-stream: metadata is re-read per poll (so a
      // recompiling driver like Derby picks up ALTER TABLE transparently),
      // but drivers that pin a prepared statement's result shape reject the
      // poll after DDL (Postgres: "cached plan must not change result
      // type") — re-prepare once and retry before giving up
      val rs = try ps.executeQuery() catch {
        case _: java.sql.SQLException =>
          try ps.close() catch { case NonFatal(_) => JdbcFeed.countSuppressed() }
          ps = prepare()
          ps.setLong(1, emitted)
          ps.executeQuery()
      }
      val cols = new RowJson.Cols(rs.getMetaData)
      val idIdx = (1 to cols.n).indexWhere(j =>
        rs.getMetaData.getColumnLabel(j).equalsIgnoreCase(spec.idColumn)) + 1
      val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
      while (rs.next()) rows += ((rs.getLong(idIdx), RowJson.obj(rs, cols)))
      rs.close()
      if (rows.nonEmpty) buf = rows.iterator else Thread.sleep(part.pollMs)
    }
    cur = buf.next(); emitted = cur._1; true
  }
  override def get(): org.apache.spark.sql.catalyst.InternalRow =
    org.apache.spark.sql.catalyst.InternalRow(cur._1,
      org.apache.spark.unsafe.types.UTF8String.fromString(cur._2))
  override def getOffset: org.apache.spark.sql.connector.read.streaming.PartitionOffset =
    CdcSource.CdcPartitionOffset(part.partition, emitted)
  override def close(): Unit = conn.close()
}

/** Live catalog discovery — the reference's `information_schema.tables`
  * enumeration with install-time regexp pruning (reference `queries.go:4-9`
  * consumed at `server.go:149-166`): tables that don't match the regexp never
  * get a trigger, so filtered data is NEVER PRODUCED — source-side pruning,
  * the strongest predicate pushdown there is (SURVEY §4). Here: a table with
  * no feed never has a streaming query polling it.
  *
  * Uses JDBC `DatabaseMetaData.getTables` rather than literal
  * `information_schema` SQL so the same code runs against Postgres, Derby, or
  * anything else with a JDBC driver.
  */
object CdcCatalog {

  /** Enumerate base tables in `schemaPattern` and keep those whose TABLE
    * name matches `tableRegexp` — UNANCHORED, the Go RE2 `MatchString`
    * substring semantics of the reference (`server.go:160-162`), same as
    * every F1/F2 filter here. Returned names are SCHEMA-QUALIFIED
    * (`schema.table`): feeds must pin the discovered schema explicitly —
    * a bare name would resolve through the connection's search path and
    * could silently capture a same-named table in another schema.
    */
  def discoverTables(url: String, schemaPattern: String, tableRegexp: String): Seq[String] = {
    val conn = DriverManager.getConnection(url)
    try {
      val rs = conn.getMetaData.getTables(null, schemaPattern, "%", Array("TABLE"))
      val names = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      while (rs.next()) names += ((rs.getString("TABLE_SCHEM"), rs.getString("TABLE_NAME")))
      val re = tableRegexp.r
      names.toSeq.collect {
        case (s, t) if re.findFirstIn(t).isDefined => s"$s.$t"
      }.sorted
    } finally conn.close()
  }

  /** Install-time pruning composed end-to-end: one [[CdcSource.JdbcSpec]] per
    * surviving table (the analog of per-table trigger install,
    * `server.go:168-172`). Errors out on zero matches exactly like the
    * reference (`server.go:143-145`).
    */
  def install(url: String, schemaPattern: String, tableRegexp: String): Seq[CdcSource.JdbcSpec] = {
    val tables = discoverTables(url, schemaPattern, tableRegexp)
    require(tables.nonEmpty,
      s"no tables match regexp '$tableRegexp' (reference server.go:143-145 errors here too)")
    tables.map(t => CdcSource.JdbcSpec(url, t))
  }

  /** [[install]] in SCHEMA-GENERIC mode: one [[CdcSource.GenericJdbcSpec]]
    * per surviving table — the discovered tables may each have a DIFFERENT
    * column set (the reference's normal case: its trigger installs on
    * whatever tables match, `server.go:168-172`, and `row_to_json`
    * serializes each one's own shape). All tables must share the monotone
    * `idColumn` name; a capture set mixing id column names builds its
    * specs directly. The generic envelope is shape-homogeneous by
    * construction, so [[readAll]] unions any set of them.
    */
  def installGeneric(url: String, schemaPattern: String, tableRegexp: String,
                     idColumn: String = "event_id"): Seq[CdcSource.GenericJdbcSpec] = {
    val tables = discoverTables(url, schemaPattern, tableRegexp)
    require(tables.nonEmpty,
      s"no tables match regexp '$tableRegexp' (reference server.go:143-145 errors here too)")
    tables.map(t => CdcSource.GenericJdbcSpec(url, t, idColumn))
  }

  /** The daemon composition (reference `cmd/pqsd/main.go:95-109`): every
    * installed table captured into ONE event stream, each row carrying its
    * source table in the envelope (`pqstream.proto:39` — the `table` field
    * every downstream filter keys on). One DSv2 source per table unioned into
    * a single streaming DataFrame: each source keeps its own offsets in the
    * shared checkpoint, so the union stays exactly-once per table, and a busy
    * table cannot starve a quiet one inside a trigger (each source plans its
    * own partitions).
    *
    * Scale note: each trigger issues one driver-side `MAX(id)` probe per
    * table. Hundreds of tables are fine (cheap indexed probes); at thousands,
    * shard tables across several queries (the fan-out model already runs one
    * query per subscriber) or switch the feeds to a shared control/changelog
    * table so one probe covers all tables.
    */
  def readAll(spark: org.apache.spark.sql.SparkSession,
              specs: Seq[CdcSource.FeedSpec],
              numPartitions: Int = 4,
              rescanWindow: Long = 0L): org.apache.spark.sql.DataFrame =
    readAllFrom(spark, specs, specs.map(_ => -1L), numPartitions, rescanWindow)

  /** [[readAll]] with a PER-TABLE migration resume handle — the multi-source
    * counterpart of the single-feed `startAfterId` option. `startAfterIds`
    * pairs positionally with `specs` (source ordinal i in the union = specs
    * (i) — the order [[StateMigration.committedOffsets]] returns), so each
    * table resumes at ITS OWN committed position: per-table id spaces are
    * independent, and a shared scalar handle would re-deliver on tables
    * behind it and lose events on tables ahead of it.
    */
  def readAllFrom(spark: org.apache.spark.sql.SparkSession,
                  specs: Seq[CdcSource.FeedSpec],
                  startAfterIds: Seq[Long],
                  numPartitions: Int = 4,
                  rescanWindow: Long = 0L): org.apache.spark.sql.DataFrame = {
    require(specs.nonEmpty, "readAll needs at least one feed")
    require(startAfterIds.length == specs.length,
      s"${specs.length} feeds but ${startAfterIds.length} resume offsets — " +
        "each source needs exactly one (pair specs with " +
        "StateMigration.committedOffsets in the original order)")
    import org.apache.spark.sql.functions.lit
    specs.zip(startAfterIds).map { case (s, after) =>
      val reader = spark.readStream.format("graft.streaming.CdcSourceProvider")
        .option("numPartitions", numPartitions.toString)
        .option("rescanWindow", rescanWindow.toString)
        .option("startAfterId", after.toString)
      val (withSpec, label) = s match {
        case j: CdcSource.JdbcSpec =>
          (reader.option("jdbcUrl", j.url).option("jdbcTable", j.table), j.table)
        // generic specs union cleanly with each other (the envelope is the
        // same two columns whatever each table's shape is) but NOT with
        // typed specs — a capture set must be all-generic or all-typed
        case g: CdcSource.GenericJdbcSpec =>
          (reader.option("jdbcUrl", g.url).option("jdbcTable", g.table)
             .option("capture", "generic").option("idColumn", g.idColumn)
             .option("columns", g.columns.mkString(",")), g.table)
        case m: CdcSource.MemorySpec => (reader.option("feed", m.name), m.name)
        case y: CdcSource.SyntheticSpec =>
          (reader.option("synthetic", y.name)
             .option("syntheticUsers", y.numUsers.toString), y.name)
      }
      withSpec.load().withColumn("table", lit(label))
    }.reduce(_ unionByName _)
  }

  /** Multi-table batch BOOTSTRAP → stream handoff — [[Graft.bootstrap]]'s
    * contract extended to a whole capture set: one partitioned JDBC
    * snapshot per table (each up to ITS OWN `MAX(event_id)` cutoff,
    * unioned with the `table` envelope column the daemon path attaches)
    * plus the [[readAllFrom]] union starting each table exactly after its
    * cutoff. Per-table cutoffs matter for the same reason per-table
    * migration offsets do: id spaces are independent, and one shared
    * cutoff would re-deliver on tables behind it and lose history on
    * tables ahead of it. Same `overlap` visibility hedge, applied per
    * table.
    */
  def bootstrapAll(spark: org.apache.spark.sql.SparkSession,
                   specs: Seq[CdcSource.JdbcSpec],
                   numPartitions: Int = 4,
                   overlap: Long = 0L)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    require(specs.nonEmpty, "bootstrapAll needs at least one feed")
    import org.apache.spark.sql.functions.lit
    val cutoffs = specs.map(s => new JdbcFeed(s.url, s.table).latestId())
    val snapshots = specs.zip(cutoffs).map { case (s, cutoff) =>
      val snap =
        if (cutoff < 0L)
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            CdcSource.schema)
        else spark.read.format("jdbc")
          .option("url", s.url)
          .option("dbtable",
            s"(SELECT event_id, ts, user_id, event_type, props FROM ${s.table}" +
              s" WHERE event_id <= $cutoff) snap")
          .option("partitionColumn", "event_id")
          .option("lowerBound", "0")
          .option("upperBound", math.max(cutoff, 1L).toString)
          .option("numPartitions", numPartitions.toString)
          .load()
      snap.withColumn("table", lit(s.table))
    }
    val tail = readAllFrom(spark, specs,
      cutoffs.map(c => math.max(c - overlap, -1L)), numPartitions)
    (snapshots.reduce(_ unionByName _), tail)
  }

  /** Checkpoint-migration resume of a multi-table capture: read the old
    * [[readAll]] checkpoint's per-source committed offsets and rebuild the
    * union with each table starting after its own position — exactly-once
    * across the cut-over, per table. `specs` MUST be the same feeds in the
    * same order as the query that wrote `oldCheckpointDir` (the offset log
    * records positions by source ordinal, not by name).
    */
  def resumeAll(spark: org.apache.spark.sql.SparkSession,
                specs: Seq[CdcSource.FeedSpec],
                oldCheckpointDir: String,
                numPartitions: Int = 4,
                rescanWindow: Long = 0L): org.apache.spark.sql.DataFrame = {
    val offs = StateMigration.committedOffsets(spark, oldCheckpointDir)
    require(offs.length == specs.length,
      s"old checkpoint has ${offs.length} sources but ${specs.length} feeds " +
        "were given — resume must list exactly the original tables in order")
    readAllFrom(spark, specs, offs, numPartitions, rescanWindow)
  }
}
