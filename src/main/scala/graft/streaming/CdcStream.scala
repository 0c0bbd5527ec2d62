package graft.streaming

import graft.cdc.Redactions
import graft.functions.MergePatch
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders,
  KeyValueGroupedDataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, OutputMode,
  StatefulProcessorWithInitialState, TimeMode, TimerValues, TTLConfig, ValueState}

/** Live-mode CDC pipeline: the reference's event loop (`server.go:258-281`)
  * re-expressed as Structured Streaming.
  *
  *  - prev-image tracking: the reference gets OLD from the Postgres trigger
  *    (`queries.go:22-24`); a live stream instead keeps the last payload per
  *    key in keyed state — one fold on both stateful APIs, one
  *    transformWithState processor for every key shape. State is
  *    partitioned by the group key, so at 100 TB each key's state lives on
  *    exactly one executor and the shuffle is the same one the aggregation
  *    would need anyway.
  *  - `changes`: RFC 7386 merge patch on UPDATE (`server.go:235-241`).
  *  - fan-out: the reference's subscriber loop (`server.go:249-253`) blocks on
  *    the slowest client; here each subscriber is its own streaming query
  *    (own checkpoint + offsets), so a slow or failing sink never
  *    back-pressures or force-replays the others.
  *
  * State eviction: pass a `stateTtl` so unbounded key spaces (SURVEY §7.4 #6)
  * expire idle per-key state instead of growing forever.
  */
object CdcStream {

  case class RawChange(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                       event_type: String, props: String) extends Change

  case class CdcEvent(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                      op: String, payload: String, previous: String, changes: String)

  /** Matches [[graft.cdc.EventLog.opCol]]. TRUNCATE is declared-but-dormant,
    * same as the reference (`pqstream.proto:23` vs `queries.go:58-60`).
    */
  def opOf(eventType: String): String = eventType match {
    case "signup"   => "INSERT"
    case "error"    => "DELETE"
    case "truncate" => "TRUNCATE"
    case _          => "UPDATE"
  }

  /** Multi-table capture row: [[RawChange]] plus the source-table envelope
    * field (`pqstream.proto:39`) that [[CdcCatalog.readAll]] attaches.
    */
  case class TableRawChange(table: String, event_id: Long, ts: java.sql.Timestamp,
                            user_id: Long, event_type: String, props: String)
      extends Change

  case class TableCdcEvent(table: String, event_id: Long, ts: java.sql.Timestamp,
                           user_id: Long, op: String, payload: String,
                           previous: String, changes: String)

  /** The fields the prev-image fold reads — shared by both capture row
    * shapes, so one fold serves the single- and multi-table streams.
    */
  sealed trait Change {
    def event_id: Long; def ts: java.sql.Timestamp; def user_id: Long
    def event_type: String; def props: String
  }

  /** Shared per-key micro-batch fold: order rows, thread the prev-image
    * through, emit CDC events; returns the events and the final image
    * (None = no image: the caller removes the key's state). Every typed
    * entry point — classic `flatMapGroupsWithState` and Spark 4
    * `transformWithState`, single-table and by-table — delegates here, so
    * their semantics cannot drift.
    *
    * Erasure sentinels ([[StateErasure.eraseSentinels]], `event_type =
    * "erase"`) are commands, never data: they are dropped before the fold
    * on every path, so a stray one can't fold a null payload into the image.
    * A null payload clears the image — the next event for the key carries
    * `previous = null`, the batch path's `lag` over a null
    * ([[graft.cdc.EventLog.withPrev]]).
    *
    * Within a micro-batch, rows apply in event order (null ts sorts first —
    * one bad row must not kill the query, cf. DeadLetter). FULL-PRECISION
    * micros, same formula as CdcSource.toInternalRow: getTime alone
    * truncates to millis, so two events in the same millisecond but
    * different microseconds could order differently here than in the batch
    * path (EventLog orders by full-precision ts).
    */
  private def foldChanges(rows: Iterator[Change],
                          prev0: Option[String]): (Seq[CdcEvent], Option[String]) = {
    val ordered = rows.filter(_.event_type != "erase").toSeq.sortBy(r =>
      (if (r.ts == null) Long.MinValue
       else r.ts.getTime / 1000 * 1000000L + r.ts.getNanos / 1000,
       r.event_id))
    var prev: Option[String] = prev0
    val out = ordered.map { r =>
      val op = opOf(r.event_type)
      val changes =
        if (op == "UPDATE" && prev.isDefined)
          MergePatch.createMergePatch(r.props, prev.get)
        else null
      val ev = CdcEvent(r.event_id, r.ts, r.user_id, op, r.props,
        prev.orNull, changes)
      prev = Option(r.props)
      ev
    }
    (out, prev)
  }

  private def untagged[K](k: K, e: CdcEvent): CdcEvent = e

  private def tagged(k: (String, Long), e: CdcEvent): TableCdcEvent =
    TableCdcEvent(k._1, e.event_id, e.ts, e.user_id, e.op, e.payload,
      e.previous, e.changes)

  /** [[foldChanges]] over a `GroupState`: an empty image removes the key's
    * state, and the TTL re-arms only while state EXISTS — setting a timeout
    * after remove() writes the entry back and the key re-fires forever, so
    * eviction would never actually shrink the store.
    */
  private def classicGroup[K, O](stateTtl: Option[String], emit: (K, CdcEvent) => O)(
      k: K, rows: Iterator[Change], state: GroupState[String]): Iterator[O] =
    if (state.hasTimedOut) { state.remove(); Iterator.empty }
    else {
      val (out, prev) = foldChanges(rows, state.getOption)
      prev match {
        case Some(p) => state.update(p); stateTtl.foreach(state.setTimeoutDuration)
        case None    => if (state.exists) state.remove()
      }
      out.iterator.map(emit(k, _))
    }

  /** Streaming (or batch) Dataset of raw changes -> CDC events with
    * previous-image + changes, keyed state per user. `initial` seeds the
    * state from migrated rows ([[StateMigration]]) or from an offline
    * erasure rewrite ([[StateErasure.erasePrevImageState]]) on a FRESH
    * checkpoint.
    *
    * This classic path stays beside [[withPrevStateTws]] on purpose: it is
    * the only one that runs on Spark's default HDFS-backed state store
    * (transformWithState requires RocksDB), and it measured faster there
    * (BASELINE.md: 57.3k ev/s vs 46.2k for the same fold on RocksDB).
    */
  def withPrevState(ds: Dataset[RawChange],
                    stateTtl: Option[String] = None,
                    initial: Option[Dataset[(Long, String)]] = None): Dataset[CdcEvent] = {
    import ds.sparkSession.implicits._
    KeyedState.classic(ds.groupByKey(_.user_id), stateTtl, initial)(
      classicGroup(stateTtl, untagged[Long]))
  }

  /** Multi-table variant of [[withPrevState]]: state keyed by
    * (table, user_id), because the reference's OLD image is PER TABLE
    * (`queries.go:22-24` — the trigger fires per table; `previous` can never
    * cross tables). Keying on user_id alone would bleed prev-images between
    * tables the moment two captured tables share key values — the spec pins
    * exactly that. Same TTL/eviction contract as the single-table path.
    */
  def withPrevStateByTable(ds: Dataset[TableRawChange],
                           stateTtl: Option[String] = None): Dataset[TableCdcEvent] = {
    import ds.sparkSession.implicits._
    KeyedState.classic(ds.groupByKey(r => (r.table, r.user_id)), stateTtl, None)(
      classicGroup(stateTtl, tagged))
  }

  /** Stateless fan-out-only subscriber pipeline — the LOW-LATENCY delivery
    * path. A tail-the-database subscriber that doesn't need `previous` /
    * `changes` diffs (the common `pqs` CLI use: watch inserts scroll by) is
    * exempt from the stateful micro-batch machinery entirely: regexp-scoped
    * redaction + op mapping + the jsonpb Event envelope are ONE narrow
    * codegen'd projection, so a micro-batch costs task-launch + scan — no
    * shuffle, no state-store commit, no prev-image WAL. DELETEs omit
    * `payload` (the reference ships `previous` there, which this path by
    * design does not track; jsonpb omits the absent field). Erasure
    * sentinels are dropped, as in [[foldChanges]]; the null-safe compare
    * still delivers a row whose `event_type` is null. With no
    * stateful operator the query also QUALIFIES for async progress
    * tracking (`spark.sql.streaming.asyncProgressTrackingEnabled`), taking
    * the offset-log fsync off the batch critical path — delivery weakens
    * to at-least-once, which is still STRONGER than the reference push
    * path's at-most-once. perfbench `cdc_tail`'s continuous tail runs
    * this path; BASELINE.md (round 7) records its micro-batch floor
    * against the stateful pipeline's.
    */
  def statelessEvents(ds: Dataset[RawChange],
                      redactions: Redactions.FieldRedactions = Map.empty,
                      schema: String = "public",
                      table: String = "events"): DataFrame = {
    val op = when(col("event_type") === "signup", lit("INSERT"))
      .when(col("event_type") === "error", lit("DELETE"))
      .when(col("event_type") === "truncate", lit("TRUNCATE"))
      .otherwise(lit("UPDATE"))
    val payload = when(op === "DELETE", lit(null).cast("string"))
      .otherwise(Redactions.applyMap(col("props"), lit(schema), lit(table), redactions))
    ds.toDF().filter(not(col("event_type") <=> lit("erase")))
      .select(col("event_id"), col("ts"),
        Listen.eventJson(lit(schema), lit(table), op, col("event_id"),
          payload, lit(null).cast("string")).as("event"))
  }

  /** The prev-image tracker on Spark 4 `transformWithState` (SPARK-46815):
    * explicit named `ValueState` with native TTL instead of timeout
    * callbacks, RocksDB-backed. Semantics are IDENTICAL to [[withPrevState]]
    * by construction (both fold through [[foldChanges]]); `CdcStreamSpec`
    * replays the same input through both and asserts row-for-row parity.
    * One class serves every key shape: `emit` tags each event with its key
    * (the table name of a by-table key reaches [[TableCdcEvent]]).
    *
    * GDPR erasure REACHING STREAMING STATE (archive tombstones,
    * `Layout.eraseEntities`, cannot touch the prev-image payload a
    * checkpoint holds durably for an erased user): `cutoffOf` looks up a
    * key's cutoff event_id in the erasure set the archive already writes
    * ([[StateErasure.erasureSet]]), shipped in the processor closure
    * (bounded by erasure-request count, not key count). A lookup that
    * always answers None means no erasure.
    *
    * Per erased key, ON FIRST ENCOUNTER after the erasure: the "prev"
    * payload state is cleared, so the next genuine event emits
    * `previous = null` (first-sight semantics — erasure is point-in-time,
    * the entity returning later is new data). A second state variable
    * ("erasedAt", the cutoff already applied, deliberately TTL-free so the
    * receipt outlives idle-state eviction) makes the clear
    * RESTART-IDEMPOTENT: a query bounced with the same erasure config must
    * not re-clear state a post-erasure event legitimately rebuilt. Input
    * rows at `event_id <= cutoff` are DROPPED — the same point-in-time
    * guard the archive's tombstone anti-join applies
    * ([[graft.sources.Layout.appendArchiveBatch]]), so a replayed
    * pre-erasure batch cannot resurrect the payload through the state path
    * either; this is the end-to-end composition with [[dedupeReplays]]'
    * replay discipline the tombstone contract needs. A key held in state
    * but NEVER seen again is reached by [[StateErasure.eraseSentinels]]:
    * one synthetic command row per erased key forces the handler to fire.
    *
    * Checkpoint layout: "prev" plus the additive "erasedAt", so a
    * checkpoint written with "prev" alone (the layout before the erasing
    * and plain processors were one) resumes here with no migration.
    * `handleInitialState` is the migration hook: each migrated row seeds
    * "prev", or stamps the receipt for an erased key.
    */
  class PrevImageProcessor[K, I <: Change, O](cutoffOf: K => Option[Long],
                                               ttl: Option[java.time.Duration],
                                               emit: (K, CdcEvent) => O)
      extends StatefulProcessorWithInitialState[K, I, O, String] {
    @transient private var prevState: ValueState[String] = _
    @transient private var erasedAt: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      prevState = getHandle.getValueState[String]("prev", Encoders.STRING,
        ttl.map(TTLConfig(_)).getOrElse(TTLConfig.NONE))
      erasedAt = getHandle.getValueState[Long]("erasedAt", Encoders.scalaLong,
        TTLConfig.NONE)
    }

    override def handleInitialState(key: K, initial: String,
                                    timerValues: TimerValues): Unit =
      cutoffOf(key) match {
        case Some(cutoff) => erasedAt.update(cutoff)
        case None         => prevState.update(initial)
      }

    override def handleInputRows(key: K, rows: Iterator[I],
                                 timerValues: TimerValues): Iterator[O] = {
      val live = cutoffOf(key) match {
        case Some(cutoff) =>
          if (!(erasedAt.exists() && erasedAt.get() >= cutoff)) {
            prevState.clear(); erasedAt.update(cutoff)
          }
          rows.filter(_.event_id > cutoff)
        case None => rows
      }
      val p0 = if (prevState.exists()) Some(prevState.get()) else None
      val (out, p1) = foldChanges(live, p0)
      p1 match {
        case Some(p) => prevState.update(p)
        case None    => if (p0.isDefined) prevState.clear()
      }
      out.iterator.map(emit(key, _))
    }
  }

  /** [[PrevImageProcessor]] on `grouped`: processing-time mode iff a TTL is
    * set (TTL requires it), optional initial state.
    */
  private def tws[K: Encoder, I <: Change, O: Encoder](
      grouped: KeyValueGroupedDataset[K, I], ttl: Option[java.time.Duration],
      initial: Option[Dataset[(K, String)]])(
      cutoffOf: K => Option[Long], emit: (K, CdcEvent) => O): Dataset[O] = {
    implicit val str: Encoder[String] = Encoders.STRING
    val p = new PrevImageProcessor[K, I, O](cutoffOf, ttl, emit)
    val mode = if (ttl.isDefined) TimeMode.ProcessingTime() else TimeMode.None()
    initial match {
      case Some(init) => grouped.transformWithState(p, mode, OutputMode.Append(), KeyedState.seed(init))
      case None       => grouped.transformWithState(p, mode, OutputMode.Append())
    }
  }

  /** [[withPrevState]] via [[PrevImageProcessor]]. `erased` (user_id →
    * cutoff event_id) erases in place: resume an EXISTING checkpoint with
    * it (same source, same checkpoint dir) — see [[StateErasure]] for the
    * full recipe including the sentinel injection. `initial` seeds a FRESH
    * checkpoint with migrated state, the erasure applied at seed time.
    */
  def withPrevStateTws(ds: Dataset[RawChange],
                       erased: Map[Long, Long] = Map.empty,
                       initial: Option[Dataset[(Long, String)]] = None,
                       ttl: Option[java.time.Duration] = None): Dataset[CdcEvent] = {
    import ds.sparkSession.implicits._
    tws(ds.groupByKey(_.user_id), ttl, initial)(erased.get, untagged)
  }

  /** [[withPrevStateByTable]] on [[PrevImageProcessor]], keyed by (table,
    * user_id). `cutoffOf` picks the erasure grain:
    *  - entity grain, `k => erased.get(k._2)`: one cutoff across every
    *    captured table — a GDPR request names the person, not the table
    *    (the single-archive shape);
    *  - (table, user) grain, `erasedKeys.get`: for multi-archive
    *    deployments whose per-table id spaces are INDEPENDENT — one user's
    *    cutoff in table A says nothing about table B, and a merged
    *    max-cutoff applied across tables would silently drop the entity's
    *    FUTURE rows in every table whose ids run lower (erasure must never
    *    block future data — the tombstone contract).
    * Sentinels for a multi-table feed: one
    * [[StateErasure.eraseSentinelsByTable]] row per (table, user) the
    * entity is known in. `initial` takes re-keyed migrated state
    * ([[StateMigration.withTableKey]]).
    */
  def withPrevStateByTableTws(ds: Dataset[TableRawChange],
                              cutoffOf: ((String, Long)) => Option[Long] = _ => None,
                              initial: Option[Dataset[((String, Long), String)]] = None)
      : Dataset[TableCdcEvent] = {
    import ds.sparkSession.implicits._
    tws(ds.groupByKey(r => (r.table, r.user_id)), None, initial)(cutoffOf, tagged)
  }

  // ===== schema-generic pipeline (GenericJdbcSpec capture) =====

  /** One row of the schema-generic capture envelope
    * ([[CdcSource.genericSchema]]): the monotone sequence id and the whole
    * source row as a JSON document.
    */
  case class GenericChange(event_id: Long, payload: String)

  /** Generic CDC event: the reference `Event` shape (`pqstream.proto:
    * 37-47`) without a fixed payload schema — `row_key` is the row's
    * identity (extracted from the payload, typically the primary key;
    * string-typed like the proto's `id`), `previous` the last payload seen
    * for that key, `changes` the RFC 7386 merge patch on UPDATE.
    */
  case class GenericCdcEvent(event_id: Long, row_key: String, op: String,
                             payload: String, previous: String, changes: String)

  // not `private`: the Dataset encoder's generated projection must be able
  // to access the class from outside this object
  case class KeyedGenericChange(row_key: String, op_hint: String,
                                event_id: Long, payload: String)

  /** Prev-image tracking for ARBITRARY captured schemas — [[withPrevState]]
    * with the entity key read out of the dynamic payload instead of a
    * typed column. `keyPath` is a JSON path fragment naming the row's
    * identity (e.g. `"sku"` or `"order.id"`); extraction is a codegen'd
    * `get_json_object` BEFORE the stateful handler (the SchemaDrift
    * pattern: narrow JSON work outside the per-key fold), so the shuffle
    * key and the state key are the row identity — at 100 TB each row's
    * prev-image lives with its shuffle partition exactly like the typed
    * path's per-user state.
    *
    * Op semantics: an id-polled capture observes an append-only log, so by
    * default the first payload per key is INSERT and every later one
    * UPDATE (with `changes` = new→old merge patch, the reference's
    * argument order, `patch.go:32`/`server.go:236`). If the captured
    * table is an outbox/changelog carrying its own op column, name it via
    * `opPath`: its value (uppercased) overrides the inference, and a
    * DELETE clears the key's state — the next event for that key is a
    * fresh INSERT, matching the trigger lifecycle (`queries.go:17-21`:
    * OLD is serialized for DELETE and the row then no longer exists).
    * That op inference is why this path keeps its own fold
    * ([[processGenericGroup]]) instead of [[foldChanges]].
    *
    * Rows whose payload lacks the key (null extraction) group under the
    * empty key rather than being dropped — the one-bad-row contract.
    * `initial` seeds a FRESH checkpoint with migrated (or erasure-filtered,
    * [[StateErasure.erasePrevImageState]]) state.
    */
  def withPrevStateByRowKey(ds: Dataset[GenericChange], keyPath: String,
                            opPath: Option[String] = None,
                            stateTtl: Option[String] = None,
                            initial: Option[Dataset[(String, String)]] = None)
      : Dataset[GenericCdcEvent] = {
    import ds.sparkSession.implicits._
    val opCol = opPath.map(p => upper(get_json_object(col("payload"), s"$$.$p")))
      .getOrElse(lit(null).cast("string"))
    val keyed = ds.toDF().select(
      coalesce(get_json_object(col("payload"), s"$$.$keyPath"), lit("")).as("row_key"),
      opCol.as("op_hint"), col("event_id"), col("payload"))
      .as[KeyedGenericChange]
    KeyedState.classic(keyed.groupByKey(_.row_key), stateTtl, initial)(
      processGenericGroup(stateTtl))
  }

  /** Per-row-key fold of the generic capture — one body for the plain,
    * resumed and erasure paths, so their semantics cannot drift.
    */
  private def processGenericGroup(stateTtl: Option[String])(
      k: String, rows: Iterator[KeyedGenericChange],
      state: GroupState[String]): Iterator[GenericCdcEvent] =
    if (state.hasTimedOut) { state.remove(); Iterator.empty }
    else {
      // sequence order IS event order for a generic capture — the id
      // is the log position; there is no typed ts column to consult
      val ordered = rows.toSeq.sortBy(_.event_id)
      var prev: Option[String] = state.getOption
      val out = ordered.map { r =>
        val op = Option(r.op_hint).getOrElse(
          if (prev.isEmpty) "INSERT" else "UPDATE")
        val changes =
          if (op == "UPDATE" && prev.isDefined)
            MergePatch.createMergePatch(r.payload, prev.get)
          else null
        val ev = GenericCdcEvent(r.event_id, k, op, r.payload,
          prev.orNull, changes)
        if (op == "DELETE") prev = None else prev = Some(r.payload)
        ev
      }
      prev match {
        case Some(p) =>
          state.update(p)
          stateTtl.foreach(state.setTimeoutDuration)
        case None => if (state.exists) state.remove()
      }
      out.iterator
    }

  /** The generic events in the reference's jsonpb `Event` envelope
    * ([[Listen.eventJson]]) — `id` carries the row key (the proto's `id`
    * is the row identity as a string, `pqstream.proto:41`), ready for the
    * Listen hub or any JSON sink. DELETEs ship `previous` in the payload
    * slot exactly like the reference trigger does (`queries.go:19-21`).
    */
  def genericEvents(ds: Dataset[GenericCdcEvent],
                    schema: String = "public",
                    table: String = "events"): DataFrame =
    ds.toDF().select(col("event_id"),
      Listen.eventJson(lit(schema), lit(table), col("op"), col("row_key"),
        when(col("op") === "DELETE", col("previous")).otherwise(col("payload")),
        col("changes")).as("event"))

  /** Exactly-once-ify an at-least-once upstream: drop replayed event ids
    * within the watermark horizon. The offset-tracked JDBC source is
    * exactly-once by construction, but a NOTIFY-shaped transport (the
    * reference's, which can re-deliver around reconnects) or any retrying
    * producer needs ingest-side dedup. `dropDuplicatesWithinWatermark` keys
    * state on event_id and EXPIRES it past the watermark — bounded state,
    * unlike plain `dropDuplicates` whose id set grows forever (SURVEY §7.4
    * #6: unbounded keys at 100 TB demand eviction).
    */
  def dedupeReplays(ds: Dataset[RawChange],
                    watermark: String = "10 minutes"): Dataset[RawChange] = {
    import ds.sparkSession.implicits._
    // null-ts rows bypass the dedup instead of entering it: the watermark
    // operator treats a null event time as infinitely late and silently
    // DROPS the row — but the pipeline's contract is that one bad row never
    // disappears silently (processGroup tolerates null ts; DeadLetter exists
    // for malformed rows). They can't be deduplicated without an event time
    // anyway, so they pass through unchanged.
    val timed = ds.filter(col("ts").isNotNull)
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")
    timed.unionByName(ds.filter(col("ts").isNull)).as[RawChange]
  }

  /** Tumbling-window counts with a watermark — the streaming-window analog of
    * `ops_hourly_counts` (the reference has no event time at all; SURVEY §2B).
    */
  def windowedCounts(events: DataFrame,
                     watermark: String = "10 minutes",
                     window_ : String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"))

  /** Live running counts per event type — the Update-output-mode companion
    * to the Append-mode windowed/session aggregates: a dashboard wants the
    * CURRENT total re-emitted whenever it changes, not a finalized row per
    * closed window. No watermark and no eviction — correct here because the
    * key domain (event types) is bounded, so state is |types| rows forever;
    * for unbounded keys use the watermarked window forms instead (this is
    * precisely the state-size trade that separates the two output modes).
    */
  def liveTypeCounts(events: DataFrame): DataFrame =
    events.groupBy(col("event_type")).agg(count(lit(1)).as("n"))

  /** Session windows on the live stream — the streaming analog of the batch
    * `ops_sessionize` (lag + cumulative boundary sum): `session_window` opens
    * a window per (user, event) and MERGES windows that overlap within the
    * gap, so a session closes only after `gap` of per-user silence. The
    * watermark gives sessions a finalization horizon — a merged window is
    * emitted (Append mode) once the watermark passes its end, and its state
    * is dropped; without the watermark session state would accumulate
    * forever. Shuffle is keyed (user, session-window), same partitioning as
    * every other per-user stage.
    */
  def sessionCounts(events: DataFrame,
                    gap: String = "30 minutes",
                    watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  /** Stream-stream interval join: each DELETE-op event (error) paired with
    * the INSERT/UPDATE-op events (purchases) the same user produced in the
    * preceding `withinSeconds` — the online correlation ("which recent
    * actions preceded this failure?") that batch engines answer with a range
    * join (`Relational.rangeJoinBinned`) but a CDC consumer needs as rows
    * arrive.
    *
    * Both sides carry watermarks and the join condition bounds event time in
    * BOTH directions, so Spark derives state-eviction watermarks for each
    * side: a buffered purchase is dropped once no future error can reach
    * back to it (`p_ts < watermark - withinSeconds`), an error row is
    * matched against buffered purchases and never retained past its own
    * watermark. Without the time bound the join would buffer both streams
    * FOREVER — the unbounded-state trap this operator exists to show
    * avoided. State is keyed by (user, time-bucket) internally; shuffle is
    * on user_id for both sides, same as every other keyed stage.
    */
  def correlate(events: DataFrame,
                withinSeconds: Long = 600,
                watermark: String = "10 minutes"): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("p_ts", watermark)
    val errors = events.filter(col("event_type") === "error")
      .select(col("user_id").as("e_user"), col("ts").as("e_ts"),
        col("event_id").as("error_id"))
      .withWatermark("e_ts", watermark)
    errors.join(purchases,
      col("p_user") === col("e_user") &&
        col("p_ts") <= col("e_ts") &&
        col("p_ts") >= col("e_ts") - expr(s"INTERVAL $withinSeconds SECONDS"))
      .select(col("e_user").as("user_id"), col("error_id"), col("e_ts"),
        col("purchase_id"), col("p_ts"))
  }

  /** LEFT OUTER variant of [[correlate]]: every error emits, with null
    * purchase columns when NO purchase preceded it in the window — the
    * "failures with no prior activity" report an inner join silently drops.
    * The semantics outer adds on a stream are about TIME, not just nulls: an
    * unmatched error cannot emit when first seen (a matching purchase may
    * still arrive late), so Spark holds it in state and emits the
    * null-padded row only once the PURCHASE-side watermark guarantees no
    * qualifying `p_ts <= e_ts` row can still arrive — correctness waits
    * exactly one watermark horizon, state stays bounded by the same
    * two-sided eviction as the inner join. Same shuffle (user key, both
    * sides), same state shape; only the emission rule differs.
    */
  def correlateOuter(events: DataFrame,
                     withinSeconds: Long = 600,
                     watermark: String = "10 minutes"): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("p_ts", watermark)
    val errors = events.filter(col("event_type") === "error")
      .select(col("user_id").as("e_user"), col("ts").as("e_ts"),
        col("event_id").as("error_id"))
      .withWatermark("e_ts", watermark)
    errors.join(purchases,
      col("p_user") === col("e_user") &&
        col("p_ts") <= col("e_ts") &&
        col("p_ts") >= col("e_ts") - expr(s"INTERVAL $withinSeconds SECONDS"),
      "leftOuter")
      .select(col("e_user").as("user_id"), col("error_id"), col("e_ts"),
        col("purchase_id"), col("p_ts"))
  }

  /** A subscriber = name + table/event-type regexp (the per-client filter of
    * `Listen`, reference `pqstream.proto:12-15`) + sink directory.
    */
  case class Subscription(name: String, eventTypeRegexp: String, path: String)

  /** Fan-out as ONE independent streaming query per subscriber over the same
    * source — the multicast of `server.go:249-253` without the slow-consumer
    * head-of-line blocking: each query has its own checkpoint and offsets, so
    * a slow or failing sink delays/replays only itself (a single foreachBatch
    * writing all sinks sequentially would stall every subscriber on the
    * slowest one and duplicate earlier sinks' appends when a later sink's
    * failure forces batch replay). File sinks are exactly-once per query via
    * the sink's own transaction log.
    */
  def fanOut(events: DataFrame, subs: Seq[Subscription],
             checkpoint: String): Seq[org.apache.spark.sql.streaming.StreamingQuery] =
    subs.map { s =>
      events.filter(col("event_type").rlike(s.eventTypeRegexp))
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", s"$checkpoint/${s.name}")
        .option("path", s.path)
        .format("parquet")
        .start()
    }
}
