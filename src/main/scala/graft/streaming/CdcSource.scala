package graft.streaming

import java.util
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, ContinuousPartitionReader, ContinuousPartitionReaderFactory, ContinuousStream, MicroBatchStream, Offset, PartitionOffset, ReadLimit, ReadMaxBytes, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Custom micro-batch CDC source — the Spark-native replacement for the
  * reference's `pg_notify` listener loop (`server.go:98-109, 258-281`).
  *
  * The reference is push-based and lossy (reconnect windows drop events, no
  * offsets, no replay — SURVEY §1.3). The Spark-first design is a PULL
  * poller over an append-only change log with a monotonically increasing id:
  * each micro-batch covers the id range `(lastOffset, latest]`, which makes
  * delivery exactly-once w.r.t. the checkpoint — strictly stronger than the
  * reference's at-most-once.
  *
  * The log is abstracted as a [[ChangeFeed]]; a production implementation
  * issues range queries against Postgres over JDBC (`WHERE id > ? AND id <= ?`
  * — the same query shape the reference's fallback lookup uses,
  * `queries.go:62-64`), opening its connection executor-side in the partition
  * reader. The id range of a batch is split into `numPartitions` readers, so
  * a large backlog is fetched in parallel (the standard partitioned-JDBC-read
  * pattern). Tests use an in-memory feed.
  */
object CdcSource {

  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("ts", TimestampType, nullable = true),
    StructField("user_id", LongType, nullable = true),
    StructField("event_type", StringType, nullable = true),
    StructField("props", StringType, nullable = true)))

  /** Capture envelope of the SCHEMA-GENERIC mode ([[GenericJdbcSpec]]):
    * the monotone sequence id that drives offsets, plus the whole row as
    * one JSON document ([[RowJson]] — the `row_to_json(NEW)` analog,
    * reference `queries.go:17-21`). Everything else about the row —
    * including its real primary key, its timestamps, its op column if the
    * table is an outbox — travels INSIDE the payload, schema-on-read,
    * exactly like the reference's `protobuf.Struct` payloads.
    */
  val genericSchema: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("payload", StringType, nullable = true)))

  /** A pollable append-only change log keyed by a monotone id. */
  trait ChangeFeed extends Serializable {
    def latestId(): Long
    /** rows with fromExclusive < event_id <= toInclusive */
    def fetch(fromExclusive: Long, toInclusive: Long): Seq[CdcStream.RawChange]
    /** Mean serialized row size over the id range, for the byte-budget
      * admission cap ([[CdcMicroBatchStream]] `maxBytesPerTrigger`):
      * payload + type string lengths plus the fixed envelope. ≤ 0 = no
      * estimate (empty range). Default measures a FETCHED sample — fine
      * in-JVM; a remote feed should override with a server-side probe
      * ([[JdbcFeed]] does, via SQL AVG) so sizing never double-reads.
      */
    def avgRowBytes(fromExclusive: Long, toInclusive: Long): Double = {
      val rows = fetch(fromExclusive, toInclusive)
      if (rows.isEmpty) -1.0
      else rows.iterator.map(r =>
        (if (r.props == null) 0 else r.props.length) +
          (if (r.event_type == null) 0 else r.event_type.length) + 28).sum
        .toDouble / rows.size
    }
  }

  /** How a reader (re)connects to the log: a serializable SPEC, not a live
    * feed — input partitions are shipped to executors, so they must carry
    * connection info, never driver-side state.
    */
  sealed trait FeedSpec extends Serializable {
    /** Display form for Spark UI / logs / progress JSON. MUST NOT include the
      * JDBC URL — connection strings routinely carry credentials.
      */
    def describe: String
  }
  /** Test/demo in-JVM feed, resolved via [[FeedRegistry]]. */
  case class MemorySpec(name: String) extends FeedSpec {
    override def describe: String = s"memory:$name"
  }
  /** Production shape: ranged JDBC fetch, connection opened executor-side in
    * the partition reader (see [[JdbcFeed]] / [[JdbcRowReader]]).
    */
  case class JdbcSpec(url: String, table: String) extends FeedSpec {
    require(JdbcFeed.isSafeIdent(table), s"unsafe table identifier: $table")
    override def describe: String = s"jdbc:$table"
  }
  /** SCHEMA-GENERIC live capture — the reference's core value prop
    * (`row_to_json(NEW)` serializes ANY row shape, `queries.go:17-24`)
    * made real at the JDBC capture edge: no per-table column list, no
    * fixed row type. `idColumn` names the monotone sequence that drives
    * offsets (the reference at least intends a parameterized id too —
    * `server.go:26` `fallbackIDColumnType` TODO); a table whose natural
    * key is a UUID/string needs such a column for exactly-once polling —
    * the honest contract of id-ranged CDC — and carries the natural key
    * INSIDE the payload. `columns` optionally narrows the projection
    * (e.g. to skip a huge blob column); empty = `*`, the full row.
    */
  case class GenericJdbcSpec(url: String, table: String,
                             idColumn: String = "event_id",
                             columns: Seq[String] = Nil) extends FeedSpec {
    require(JdbcFeed.isSafeIdent(table), s"unsafe table identifier: $table")
    require(JdbcFeed.isSafeIdent(idColumn), s"unsafe column identifier: $idColumn")
    columns.foreach(c => require(JdbcFeed.isSafeIdent(c), s"unsafe column identifier: $c"))
    /** The SQL projection: explicit columns (id column always included so
      * the reader can extract the offset) or `*`.
      */
    def selectList: String =
      if (columns.isEmpty) "*"
      else (if (columns.exists(_.equalsIgnoreCase(idColumn))) columns
            else idColumn +: columns).mkString(", ")
    override def describe: String = s"jdbc-generic:$table($idColumn)"
  }
  /** Bench/test fixture for state-at-scale probes: rows are a deterministic
    * pure function of the id, generated in the partition reader — no
    * materialized backlog anywhere, so the STATE under test is the only
    * thing that grows. Visibility advances via [[SyntheticFeed.advanceTo]]
    * (driver-side, local mode), letting a probe feed N events in waves and
    * accumulate keyed state across micro-batches like a live capture.
    */
  case class SyntheticSpec(name: String, numUsers: Long) extends FeedSpec {
    override def describe: String = s"synthetic:$name(users=$numUsers)"
  }

  def resolve(spec: FeedSpec): ChangeFeed = spec match {
    case MemorySpec(n)          => FeedRegistry.get(n)
    case JdbcSpec(url, table)   => new JdbcFeed(url, table)
    case SyntheticSpec(n, u)    => SyntheticRegistry.get(n, u)
    case g: GenericJdbcSpec => throw new IllegalArgumentException(
      s"${g.describe} has no typed ChangeFeed: generic rows exist only " +
        "inside the DSv2 partition reader (GenericJdbcRowReader)")
  }

  /** Driver-side tail probe, spec-shaped: the generic capture has no
    * [[ChangeFeed]] (its rows never materialize as `RawChange`), so the
    * offset poll dispatches here instead of through [[resolve]].
    */
  private[streaming] def latestIdOf(spec: FeedSpec): Long = spec match {
    case g: GenericJdbcSpec => JdbcFeed.maxId(g.url, g.table, g.idColumn)
    case other              => resolve(other).latestId()
  }

  /** Spec-shaped row-size probe for the byte-budget cap — the generic
    * capture's probe folds a BOUNDED sample of the pending head through
    * the ACTUAL [[RowJson]] serializer and measures the payload it will
    * really ship (type-agnostic, exact — where the typed feed's SQL AVG
    * is column-specific; the price is a ≤`sampleRows` double-read of the
    * head, bounded and documented).
    */
  private[streaming] def avgRowBytesOf(spec: FeedSpec, fromExclusive: Long,
                                       toInclusive: Long): Double = spec match {
    case g: GenericJdbcSpec =>
      GenericProbe.avgRowBytes(g, fromExclusive, toInclusive)
    case other => resolve(other).avgRowBytes(fromExclusive, toInclusive)
  }

  /** In-memory feed registry (the test/demo stand-in for a JDBC feed — same
    * contract, no database in this environment).
    */
  object FeedRegistry {
    private val feeds = new java.util.concurrent.ConcurrentHashMap[String, MemoryFeed]()
    def get(name: String): MemoryFeed =
      feeds.computeIfAbsent(name, _ => new MemoryFeed)
    /** Install a caller-built feed (e.g. one that instruments its polls)
      * under `name`, replacing any feed registered there.
      */
    def register(name: String, feed: MemoryFeed): Unit = { feeds.put(name, feed); () }
  }

  /** Deterministic row for synthetic id `id`: user cycles over `numUsers`
    * (so state cardinality = min(numUsers, ids seen) and every user's
    * second event onward carries a prev-image), type cycles the four
    * event families, props the flat reference payload shape.
    */
  object SyntheticFeed {
    private val types = Array("signup", "purchase", "click", "view")
    private val baseMs = 1704067200000L // 2024-01-01T00:00:00Z
    def row(id: Long, numUsers: Long): CdcStream.RawChange =
      CdcStream.RawChange(id, new java.sql.Timestamp(baseMs + id * 1000L),
        id % numUsers, types((id % 4).toInt), s"""{"k": ${id % 997}}""")
  }

  final class SyntheticFeed(numUsers: Long) extends ChangeFeed {
    private val visible = new java.util.concurrent.atomic.AtomicLong(-1L)
    /** Make ids [0, id] pollable — the probe's wave control. */
    def advanceTo(id: Long): Unit = visible.set(id)
    override def latestId(): Long = visible.get()
    override def fetch(from: Long, to: Long): Seq[CdcStream.RawChange] =
      ((math.max(from, -1L) + 1) to math.min(to, visible.get()))
        .map(SyntheticFeed.row(_, numUsers))
  }

  object SyntheticRegistry {
    private val feeds = new java.util.concurrent.ConcurrentHashMap[String, SyntheticFeed]()
    def get(name: String, numUsers: Long): SyntheticFeed =
      feeds.computeIfAbsent(name, _ => new SyntheticFeed(numUsers))
  }

  class MemoryFeed extends ChangeFeed {
    private val rows = new java.util.concurrent.ConcurrentSkipListMap[Long, CdcStream.RawChange]()
    def append(rs: CdcStream.RawChange*): Unit = rs.foreach(r => rows.put(r.event_id, r))
    override def latestId(): Long = if (rows.isEmpty) -1L else rows.lastKey()
    override def fetch(from: Long, to: Long): Seq[CdcStream.RawChange] = {
      import scala.jdk.CollectionConverters._
      rows.subMap(from, false, to, true).values.asScala.toSeq
    }
  }

  case class CdcOffset(maxId: Long) extends Offset {
    override def json(): String = s"""{"maxId":$maxId}"""
  }
  object CdcOffset {
    def fromJson(s: String): CdcOffset =
      CdcOffset("""-?\d+""".r.findFirstIn(s).map(_.toLong).getOrElse(-1L))
  }

  case class IdRangePartition(spec: FeedSpec, from: Long, to: Long) extends InputPartition

  /** Ids one micro-batch reader is sized for: one [[JdbcRowReader]] fetch
    * (its `setFetchSize`).
    */
  private[graft] val IdsPerReader = 1000L

  /** Split the id range `(from, to]` into contiguous reader ranges
    * `(lo, hi]`: one reader per ~[[IdsPerReader]] ids, at most
    * `numPartitions`. Each reader opens its own connection, so a trigger
    * carrying a handful of ids gets one reader while a backlog still fans
    * out `numPartitions` ways. Requires `to > from`.
    */
  private[graft] def idRanges(from: Long, to: Long, numPartitions: Int): Seq[(Long, Long)] = {
    val span = to - from
    val n = math.max(1L, math.min(numPartitions.toLong, (span - 1) / IdsPerReader + 1)).toInt
    val step = span / n
    (0 until n).map { i =>
      (from + i * step, if (i == n - 1) to else from + (i + 1) * step)
    }
  }

  private[streaming] def toInternalRow(r: CdcStream.RawChange): InternalRow =
    InternalRow(
      r.event_id,
      // full microsecond precision: getTime alone truncates sub-millisecond
      // digits (they live in getNanos), which would make streaming ts diverge
      // from the batch path for the same row
      if (r.ts == null) null
      else r.ts.getTime / 1000 * 1000000L + r.ts.getNanos / 1000,
      r.user_id,
      UTF8String.fromString(r.event_type),
      UTF8String.fromString(r.props))

  class FeedReaderFactory extends PartitionReaderFactory {
    override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
      val part = p.asInstanceOf[IdRangePartition]
      part.spec match {
        // executor-side streaming read: the reader holds the connection and
        // pulls the ResultSet row by row — an initial-backlog partition can
        // span a whole table, and buffering it (a Seq-returning fetch) would
        // OOM the executor before the first row is emitted
        case j: JdbcSpec => new JdbcRowReader(j, part.from, part.to)
        case g: GenericJdbcSpec => new GenericJdbcRowReader(g, part.from, part.to)
        case m: MemorySpec =>
          val it = FeedRegistry.get(m.name).fetch(part.from, part.to).iterator
          new PartitionReader[InternalRow] {
            private var cur: CdcStream.RawChange = _
            override def next(): Boolean = { val h = it.hasNext; if (h) cur = it.next(); h }
            override def get(): InternalRow = toInternalRow(cur)
            override def close(): Unit = ()
          }
        // generator-backed: rows are computed from the id as the reader
        // advances — a multi-million-id backlog partition allocates nothing
        case s: SyntheticSpec =>
          new PartitionReader[InternalRow] {
            private var id = part.from
            override def next(): Boolean = { id += 1; id <= part.to }
            override def get(): InternalRow =
              toInternalRow(SyntheticFeed.row(id, s.numUsers))
            override def close(): Unit = ()
          }
      }
    }
  }

  /** @param rescanWindow commit-order visibility hardening (the classic
    *   id-polling CDC race, [[JdbcFeed]] scaladoc): a transaction holding a
    *   SMALLER id can commit after `MAX(event_id)` already polled past it —
    *   a plain `(lastOffset, latest]` scan then never sees that row. With
    *   `rescanWindow = W > 0` every batch re-fetches the trailing W ids below
    *   its start offset, so a row whose id lags its commit by up to W ids is
    *   picked up by the next batch that fires. The reference's NOTIFY
    *   transport dodges the race (notifications fire on commit,
    *   `queries.go:49`) at the price of at-most-once delivery.
    *
    *   Contract shift: rescan makes the source AT-LEAST-ONCE within the
    *   window (the W trailing ids are redelivered each batch) — compose with
    *   [[CdcStream.dedupeReplays]] (watermark delay ≥ the commit-visibility
    *   lag) to restore exactly-once end to end. W = 0 (default) keeps the
    *   exactly-once pull contract for append-only single-writer logs, where
    *   id visibility is monotone and the race cannot occur.
    */
  /** @param startAfterId resume handle for checkpoint MIGRATION (see
    *   [[StateMigration]]): a FRESH checkpoint's first batch normally reads
    *   the feed from the beginning (-1); a migrated query instead passes
    *   the old checkpoint's committed offset here so delivery continues
    *   exactly where the old query stopped. Ignored on restart of an
    *   existing checkpoint (Spark then resumes from its own offset log).
    */
  /** @param maxIdsPerTrigger ADMISSION CONTROL (Spark's
    *   `SupportsAdmissionControl`, the Kafka `maxOffsetsPerTrigger`
    *   analog): cap each micro-batch's id RANGE at this many ids, so the
    *   first trigger after downtime chews a month's backlog in bounded
    *   bites instead of planning one giant catch-up batch (whose shuffle
    *   and state updates must then fit memory all at once — the
    *   micro-batch twin of the r8 continuous-reader poll cap). Equals a
    *   row cap on dense logs; an upper bound on rows where ids have gaps.
    *   0 (default) = unlimited, the original contract. Delivery remains
    *   exactly-once: the cap only moves WHERE batch boundaries fall.
    */
  /** @param maxBytesPerTrigger BYTE-budget admission cap for PAYLOAD-
    *   SKEWED feeds, where row count ≠ memory (one fat-document table can
    *   carry MB rows next to KB rows — an id cap alone admits an unbounded
    *   byte volume). The id span each batch admits is
    *   `maxBytes / avgRowBytes`, with the average measured over the HEAD
    *   of the pending range ([[ChangeFeed.avgRowBytes]] — the data this
    *   batch is about to read, so a fat region immediately shrinks the
    *   bite). A SOFT target like Kafka's `maxPartitionBytes`, not a hard
    *   bound: skew within the sampled head can overshoot one batch.
    *   Composes with `maxIdsPerTrigger` (both set → the smaller bite
    *   wins, `ReadLimit.compositeLimit`). 0 = no byte cap.
    */
  class CdcMicroBatchStream(spec: FeedSpec, numPartitions: Int,
                            rescanWindow: Long = 0L,
                            startAfterId: Long = -1L,
                            maxIdsPerTrigger: Long = 0L,
                            maxBytesPerTrigger: Long = 0L)
      extends MicroBatchStream with SupportsAdmissionControl
      with SupportsTriggerAvailableNow {
    /** `Trigger.AvailableNow` bound: the tail recorded at query start —
      * batches drain up to HERE (in admission-capped bites) and the query
      * then stops on its own, the bounded-drain-then-stop contract of a
      * scheduled backfill. Long.MaxValue = normal unbounded trigger.
      */
    @volatile private var availableNowTail: Long = Long.MaxValue
    /** The uncapped tail the last probe read; `None` before the first. */
    @volatile private var lastTail: Option[Long] = None
    /** One `MAX(event_id)` round trip to the log, remembered for
      * [[reportLatestOffset]].
      */
    private def probeTail(): Long = {
      val t = latestIdOf(spec)
      lastTail = Some(t)
      t
    }
    override def prepareForTriggerAvailableNow(): Unit =
      availableNowTail = probeTail()
    override def latestOffset(): Offset = CdcOffset(probeTail())
    override def getDefaultReadLimit: ReadLimit =
      (maxIdsPerTrigger > 0L, maxBytesPerTrigger > 0L) match {
        case (true, true) => ReadLimit.compositeLimit(Array(
          ReadLimit.maxRows(maxIdsPerTrigger), ReadLimit.maxBytes(maxBytesPerTrigger)))
        case (true, false) => ReadLimit.maxRows(maxIdsPerTrigger)
        case (false, true) => ReadLimit.maxBytes(maxBytesPerTrigger)
        case _             => ReadLimit.allAvailable()
      }
    /** Resolve a limit to an id cap. Byte limits size the bite from the
      * pending head's mean row size (max 1000 ids sampled); an unavailable
      * estimate admits everything rather than stalling the query.
      */
    private def capFor(limit: ReadLimit, from: Long, latest: Long): Long = limit match {
      case r: ReadMaxRows => math.min(latest, from + r.maxRows())
      case b: ReadMaxBytes =>
        val avg = avgRowBytesOf(spec, from, math.min(from + 1000L, latest))
        if (avg <= 0) latest
        else math.min(latest, from + math.max(1L, (b.maxBytes() / avg).toLong))
      case c: CompositeReadLimit =>
        c.getReadLimits.map(l => capFor(l, from, latest)).min
      case _ => latest
    }
    override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
      val latest = math.min(probeTail(), availableNowTail)
      val from = start.asInstanceOf[CdcOffset].maxId
      CdcOffset(capFor(limit, from, latest))
    }
    /** Progress reporting: the TRUE tail, so backlog (latest − committed)
      * is visible in `StreamingQueryProgress` even while batches are
      * capped — the number an operator watches during catch-up. Spark
      * calls this right after `latestOffset(start, limit)` in the same
      * trigger, so it returns the uncapped tail that call just read
      * instead of paying a second round trip; it probes only when nothing
      * has been read yet.
      */
    override def reportLatestOffset(): Offset =
      CdcOffset(lastTail.getOrElse(probeTail()))
    override def initialOffset(): Offset = CdcOffset(startAfterId)
    override def deserializeOffset(json: String): Offset = CdcOffset.fromJson(json)
    override def commit(end: Offset): Unit = ()
    override def stop(): Unit = ()
    override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
      val committed = start.asInstanceOf[CdcOffset].maxId
      val to = end.asInstanceOf[CdcOffset].maxId
      if (to <= committed) return Array.empty
      // trailing-window rescan: reach BELOW the committed offset so a
      // late-visible smaller id is still fetched — but never below the log
      // start (the initial backlog batch must not grow by W phantom ids)
      // and never below the MIGRATION boundary: everything <= startAfterId
      // was delivered by the old query and is folded into migrated state,
      // so redelivering it would corrupt the resumed prev-image chains
      // (StateMigration's exactly-once-across-the-cut-over contract)
      val from =
        if (committed < 0) committed
        else math.max(startAfterId, committed - rescanWindow)
      idRanges(from, to, numPartitions).map { case (lo, hi) =>
        IdRangePartition(spec, lo, hi): InputPartition
      }.toArray
    }
    override def createReaderFactory(): PartitionReaderFactory = new FeedReaderFactory
  }

  /** Per-reader progress in continuous mode: the highest event_id the
    * reader has EMITTED — never the id it has merely fetched into its
    * buffer; the epoch coordinator snapshots this at epoch boundaries, and
    * a restart must not skip buffered-but-unemitted rows. `partition` is
    * the reader's mod-class, so [[CdcContinuousStream.mergeOffsets]] can
    * reassemble the per-partition map.
    */
  case class CdcPartitionOffset(partition: Int, maxId: Long) extends PartitionOffset

  /** Merged continuous offset: one high-water id per mod-partition. */
  case class CdcContinuousOffset(maxIds: Map[Int, Long]) extends Offset {
    override def json(): String =
      maxIds.toSeq.sorted.map { case (p, id) => s""""$p":$id""" }
        .mkString("{\"maxIds\":{", ",", "}}")
  }
  object CdcContinuousOffset {
    private val Pair = """"(\d+)":(-?\d+)""".r
    def fromJson(s: String): CdcContinuousOffset =
      CdcContinuousOffset(
        Pair.findAllMatchIn(s).map(m => m.group(1).toInt -> m.group(2).toLong).toMap)
  }

  case class ContinuousIdPartition(spec: FeedSpec, startExclusive: Long,
                                   pollMs: Long, partition: Int = 0,
                                   numPartitions: Int = 1) extends InputPartition

  /** Continuous-processing counterpart of [[CdcMicroBatchStream]] — the
    * LATENCY path (`Trigger.Continuous`). Where a micro-batch pays
    * plan + task-launch + offset/commit-log writes per batch (measured floor
    * ~100 ms p50, BASELINE.md r7), a continuous reader is ONE long-lived
    * task holding its connection and polling the tail of the log at `pollMs`
    * cadence — a row is emitted within poll + scan-pipeline cost of its
    * commit, and epoch bookkeeping (offset snapshots every
    * `Trigger.Continuous(interval)`) happens OFF the record path. This is
    * the topology of the reference's listener loop itself (one LISTEN
    * connection pushing rows as they commit, `server.go:98-109`) — the
    * DEFAULT is therefore a single partition. For ingest scale-out past
    * one connection's ceiling, `numPartitions = N > 1` splits the id space
    * by mod-class: reader k consumes `event_id % N = k` with its own
    * offset ([[CdcPartitionOffset]]), merged into a per-partition map
    * ([[CdcContinuousOffset]]) at epoch boundaries — N independent tail
    * pollers, no coordination on the record path (Spark restricts
    * continuous queries to map-like stages, so there is no shuffle to
    * feed; fan-out parallelism is exactly what the stage shape can use).
    *
    * Delivery: at-least-once at epoch grain (a crash between epoch commits
    * replays the open epoch — Spark's continuous-mode contract), vs the
    * micro-batch path's exactly-once and the reference's at-most-once.
    * Same monotone-id visibility assumption as `rescanWindow = 0` (append
    * -only single-writer log); continuous mode has no rescan hardening.
    * Legal stages on top: projections/filters only — exactly the
    * [[CdcStream.statelessEvents]] subscriber shape.
    */
  /** @param startAfterId migration resume handle, same contract as the
    *   micro-batch path: a fresh checkpoint starts every mod-class reader
    *   AFTER this id (a global high-water id is a correct start for every
    *   class — the legacy-checkpoint-upgrade argument). Default -1 = from
    *   the beginning.
    */
  class CdcContinuousStream(spec: FeedSpec, pollMs: Long,
                            numPartitions: Int = 1,
                            startAfterId: Long = -1L) extends ContinuousStream {
    require(numPartitions >= 1, s"numPartitions must be >= 1, got $numPartitions")
    override def initialOffset(): Offset =
      CdcContinuousOffset((0 until numPartitions).map(_ -> startAfterId).toMap)
    override def deserializeOffset(json: String): Offset =
      if (json.contains("maxIds")) CdcContinuousOffset.fromJson(json)
      else CdcOffset.fromJson(json) // pre-partitioned (r7.0) checkpoint form
    override def commit(end: Offset): Unit = ()
    override def stop(): Unit = ()
    override def planInputPartitions(start: Offset): Array[InputPartition] = {
      // a legacy single-scalar offset is a correct start for EVERY
      // mod-class: all ids <= maxId were emitted before the checkpoint
      val starts: Int => Long = start match {
        case c: CdcContinuousOffset => p => c.maxIds.getOrElse(p, -1L)
        case o: CdcOffset           => _ => o.maxId
      }
      (0 until numPartitions).map { p =>
        ContinuousIdPartition(spec, starts(p), pollMs, p, numPartitions): InputPartition
      }.toArray
    }
    override def mergeOffsets(offsets: Array[PartitionOffset]): Offset =
      CdcContinuousOffset(offsets.map { o =>
        val c = o.asInstanceOf[CdcPartitionOffset]; c.partition -> c.maxId
      }.toMap)
    override def createContinuousReaderFactory(): ContinuousPartitionReaderFactory =
      new ContinuousFeedReaderFactory
  }

  class ContinuousFeedReaderFactory extends ContinuousPartitionReaderFactory {
    override def createReader(p: InputPartition): ContinuousPartitionReader[InternalRow] = {
      val part = p.asInstanceOf[ContinuousIdPartition]
      part.spec match {
        case j: JdbcSpec        => new JdbcContinuousReader(j, part)
        case g: GenericJdbcSpec => new GenericJdbcContinuousReader(g, part)
        case other => new PollingContinuousReader(resolve(other), part)
      }
    }
  }

  /** Tail poller over a [[ChangeFeed]] (memory/synthetic feeds — in-JVM, so
    * per-poll fetch cost is negligible; the mod-class filter runs locally
    * on the fetched slice). `next()` blocks until a row is available:
    * Spark's continuous engine runs it on a dedicated reader thread and
    * injects epoch markers from outside, so blocking here is the intended
    * idiom (the built-in rate source sleeps the same way); query stop
    * interrupts the thread and ends the task.
    */
  final class PollingContinuousReader(feed: ChangeFeed, part: ContinuousIdPartition)
      extends ContinuousPartitionReader[InternalRow] {
    private var emitted = part.startExclusive
    private var fetchedTo = part.startExclusive
    private var buf: Iterator[CdcStream.RawChange] = Iterator.empty
    private var cur: CdcStream.RawChange = _
    override def next(): Boolean = {
      while (!buf.hasNext) {
        val latest = feed.latestId()
        if (latest > fetchedTo) {
          buf = feed.fetch(fetchedTo, latest).iterator
            .filter(r => part.numPartitions == 1 ||
              r.event_id % part.numPartitions == part.partition)
          fetchedTo = latest
        } else Thread.sleep(part.pollMs)
      }
      cur = buf.next(); emitted = cur.event_id; true
    }
    override def get(): InternalRow = toInternalRow(cur)
    override def getOffset: PartitionOffset = CdcPartitionOffset(part.partition, emitted)
    override def close(): Unit = ()
  }

  /** JDBC tail poller holding ONE connection + prepared statement for the
    * life of the query — [[JdbcFeed]]'s connection-per-call shape is right
    * for a few calls per micro-batch, wrong at ms poll cadence (a Derby/
    * Postgres connection open costs more than the poll budget). One
    * round-trip per poll: `WHERE event_id > last ORDER BY event_id` both
    * detects and fetches new rows (no separate MAX() probe). In mod-N mode
    * the class predicate is pushed into the SQL, so each reader's
    * round-trips carry only its own rows (constants are validated ints —
    * no injection surface).
    */
  final class JdbcContinuousReader(spec: JdbcSpec, part: ContinuousIdPartition)
      extends ContinuousPartitionReader[InternalRow] {
    private val conn = java.sql.DriverManager.getConnection(spec.url)
    // per-poll row cap: first start (or restart after long downtime) against
    // a large table would otherwise pull the ENTIRE backlog into one
    // in-memory buffer — the poll loop re-issues from the last emitted id
    // until the tail is drained, so the cap bounds memory without changing
    // what is delivered. FETCH FIRST is ANSI (Derby/Postgres/Oracle);
    // setFetchSize streams each capped result in driver-side chunks too.
    private val maxRowsPerPoll = 10000
    private val ps = conn.prepareStatement(
      s"SELECT event_id, ts, user_id, event_type, props FROM ${spec.table}" +
        " WHERE event_id > ?" +
        (if (part.numPartitions > 1)
           s" AND MOD(event_id, ${part.numPartitions}) = ${part.partition}"
         else "") +
        s" ORDER BY event_id FETCH FIRST $maxRowsPerPoll ROWS ONLY")
    ps.setFetchSize(1000)
    private var emitted = part.startExclusive
    private var buf: Iterator[CdcStream.RawChange] = Iterator.empty
    private var cur: CdcStream.RawChange = _
    override def next(): Boolean = {
      while (!buf.hasNext) {
        ps.setLong(1, emitted)
        val rs = ps.executeQuery()
        val rows = scala.collection.mutable.ArrayBuffer.empty[CdcStream.RawChange]
        while (rs.next())
          rows += CdcStream.RawChange(rs.getLong(1), rs.getTimestamp(2),
            rs.getLong(3), rs.getString(4), rs.getString(5))
        rs.close()
        // a FULL batch means backlog remains: loop again immediately (the
        // next probe starts past this batch's last id) instead of sleeping
        if (rows.nonEmpty) buf = rows.iterator else Thread.sleep(part.pollMs)
      }
      cur = buf.next(); emitted = cur.event_id; true
    }
    override def get(): InternalRow = toInternalRow(cur)
    override def getOffset: PartitionOffset = CdcPartitionOffset(part.partition, emitted)
    override def close(): Unit = conn.close()
  }

  class CdcTable(spec: FeedSpec, numPartitions: Int,
                 rescanWindow: Long = 0L, pollMs: Long = 2L,
                 contPartitions: Int = 1, startAfterId: Long = -1L,
                 maxIdsPerTrigger: Long = 0L,
                 maxBytesPerTrigger: Long = 0L)
      extends Table with SupportsRead {
    override def name(): String = s"cdc_feed(${spec.describe})"
    override def schema(): StructType = spec match {
      case _: GenericJdbcSpec => CdcSource.genericSchema
      case _                  => CdcSource.schema
    }
    override def capabilities(): util.Set[TableCapability] =
      util.EnumSet.of(TableCapability.MICRO_BATCH_READ, TableCapability.CONTINUOUS_READ)
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
      () => new Scan {
        override def readSchema(): StructType = CdcTable.this.schema()
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new CdcMicroBatchStream(spec, numPartitions, rescanWindow, startAfterId,
            maxIdsPerTrigger, maxBytesPerTrigger)
        override def toContinuousStream(checkpointLocation: String): ContinuousStream =
          new CdcContinuousStream(spec, pollMs, contPartitions, startAfterId)
      }
  }
}

/** DataSource V2 provider. In-memory (tests/demo):
  * `spark.readStream.format("graft.streaming.CdcSourceProvider")
  *   .option("feed", "myfeed").option("numPartitions", "4").load()`
  * JDBC (production shape — any DB with a monotone id column):
  * `.option("jdbcUrl", "jdbc:...").option("jdbcTable", "events")`
  * Schema-generic JDBC (ANY table shape — the `row_to_json` capture):
  * `.option("jdbcUrl", "jdbc:...").option("jdbcTable", "widgets")
  *  .option("capture", "generic").option("idColumn", "seq_id")`
  * with optional `.option("columns", "a,b,c")` to narrow the projection.
  */
class CdcSourceProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    if ("generic".equalsIgnoreCase(options.getOrDefault("capture", "")))
      CdcSource.genericSchema
    else CdcSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    // getTable receives the ORIGINAL-case option keys (asCaseSensitiveMap) —
    // wrap back into a case-insensitive map or "numPartitions" is missed
    val opts = new CaseInsensitiveStringMap(properties)
    val parts = Option(opts.get("numPartitions")).map(_.toInt).getOrElse(4)
    // commit-order visibility hardening — see CdcMicroBatchStream scaladoc;
    // a non-zero window makes delivery at-least-once inside it, so compose
    // with CdcStream.dedupeReplays downstream
    val rescan = Option(opts.get("rescanWindow")).map(_.toLong).getOrElse(0L)
    require(rescan >= 0L, s"rescanWindow must be >= 0, got $rescan")
    // tail-poll cadence of the continuous reader (Trigger.Continuous only;
    // micro-batch polling is trigger-driven and ignores this)
    val pollMs = Option(opts.get("continuousPollMs")).map(_.toLong).getOrElse(2L)
    require(pollMs >= 1L, s"continuousPollMs must be >= 1, got $pollMs")
    // mod-class reader count for Trigger.Continuous (default 1 — the
    // reference's one-LISTEN-connection topology); separate from the
    // micro-batch "numPartitions" because the two modes parallelize
    // DIFFERENT things (id-range backlog splits vs independent tail pollers)
    val contParts = Option(opts.get("continuousPartitions")).map(_.toInt).getOrElse(1)
    require(contParts >= 1, s"continuousPartitions must be >= 1, got $contParts")
    val spec: CdcSource.FeedSpec = Option(opts.get("jdbcUrl")) match {
      case Some(url) =>
        val table = Option(opts.get("jdbcTable")).getOrElse(
          throw new IllegalArgumentException("jdbcUrl requires jdbcTable"))
        if ("generic".equalsIgnoreCase(opts.getOrDefault("capture", "")))
          CdcSource.GenericJdbcSpec(url, table,
            Option(opts.get("idColumn")).getOrElse("event_id"),
            Option(opts.get("columns")).map(_.split(",").map(_.trim).toSeq
              .filter(_.nonEmpty)).getOrElse(Nil))
        else CdcSource.JdbcSpec(url, table)
      case None => Option(opts.get("synthetic")) match {
        case Some(name) =>
          CdcSource.SyntheticSpec(name,
            Option(opts.get("syntheticUsers")).map(_.toLong).getOrElse(
              throw new IllegalArgumentException("synthetic requires syntheticUsers")))
        case None => CdcSource.MemorySpec(Option(opts.get("feed")).getOrElse("default"))
      }
    }
    // checkpoint-migration resume handle (StateMigration): fresh-checkpoint
    // queries start the feed AFTER this id instead of from the beginning
    val startAfter = Option(opts.get("startAfterId")).map(_.toLong).getOrElse(-1L)
    // admission control: cap each micro-batch's id range (backlog catch-up
    // in bounded bites — see CdcMicroBatchStream scaladoc); 0 = unlimited
    val maxIds = Option(opts.get("maxIdsPerTrigger")).map(_.toLong).getOrElse(0L)
    require(maxIds >= 0L, s"maxIdsPerTrigger must be >= 0, got $maxIds")
    // byte-budget admission cap for payload-skewed feeds; soft target
    // (the generic capture sizes from a bounded RowJson fold of the
    // pending head — see CdcSource.avgRowBytesOf)
    val maxBytes = Option(opts.get("maxBytesPerTrigger")).map(_.toLong).getOrElse(0L)
    require(maxBytes >= 0L, s"maxBytesPerTrigger must be >= 0, got $maxBytes")
    new CdcSource.CdcTable(spec, parts, rescan, pollMs, contParts, startAfter,
      maxIds, maxBytes)
  }
}
