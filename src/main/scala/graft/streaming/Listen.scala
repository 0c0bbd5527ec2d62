package graft.streaming

import java.io.{BufferedReader, BufferedWriter, InputStreamReader, OutputStreamWriter}
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ArrayBlockingQueue, ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import java.util.regex.{Pattern, PatternSyntaxException}

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.ForeachWriter
import org.apache.spark.sql.functions._

import scala.util.control.NonFatal

/** Push transport — the analog of the reference's server-streaming `Listen`
  * RPC (reference `pqstream.proto:7-10`, `server.go:284-315`): a client
  * connects, sends a `ListenRequest` carrying a table regexp, and receives an
  * unbounded stream of `Event` messages filtered to matching tables.
  *
  * Spark-first re-expression with ZERO new dependencies (the container has no
  * gRPC; `java.net` + newline-delimited UTF-8 JSON carries the same message
  * flow, consumable from any language — the `clients/{node,python,ruby}`
  * analog is a ten-line socket reader, see README):
  *
  *  - The HUB ([[ListenServer]]) is the `pqsd` process analog: it owns the
  *    subscriber registry and applies each subscription's regexp server-side
  *    (reference `server.go:290-296` compiles per-request). One hub per
  *    deployment, exactly like the reference's single server — at larger
  *    fan-out, shard hubs by table-hash and point each executor partition at
  *    its shard.
  *  - INGEST is distributed: each executor partition opens its own socket to
  *    the hub ([[ListenSink.writer]]) — no driver funnel, no `.collect()`.
  *    The expensive work (redaction, tiering, merge patch, JSON encoding)
  *    happens in codegen'd expressions ON THE EXECUTORS; the hub's hot path
  *    only reads a line, splits off the table name, and pattern-matches —
  *    it never parses a payload.
  *  - Delivery is AT-MOST-ONCE per subscriber, matching the reference, which
  *    drops events for subscribers that fall behind (`server.go:249-253`
  *    non-blocking redact/fan-out select). Here each subscriber owns a
  *    bounded queue; a full queue drops the newest event and counts it
  *    ([[ListenServer.droppedCount]]). For exactly-once delivery use the
  *    pull path ([[CdcSource]] → [[CdcSink]]) — this transport exists for
  *    the reference's interactive tail-the-database use case.
  *
  * Wire protocol (all lines UTF-8, '\n'-terminated):
  * {{{
  *   subscriber:  C->S  {"tableRegexp":".*"}          (the ListenRequest)
  *                S->C  {"schema":...,"table":...}    (Event JSON, repeated)
  *   ingest:      C->S  {"ingest":true}
  *                C->S  <table>\t<event-json>          (repeated)
  * }}}
  * An invalid regexp answers `{"error":"..."}` and closes — the reference
  * returns the `regexp.Compile` error from the RPC (`server.go:291-293`).
  */
object Listen {

  /** Builds the reference's `Event` JSON wire shape (`pqstream.proto:37-47`
    * as jsonpb prints it, `cmd/pqs/main.go:66-73`): `payload` and `changes`
    * are spliced in as NESTED JSON documents (they are already JSON text in
    * the pipeline), and absent fields are OMITTED — proto3 jsonpb omits
    * unset message fields, so an INSERT has no `changes` key and a
    * tier-dropped payload vanishes rather than appearing as null.
    * Pure codegen'd `concat`/`when` — runs distributed, never on the hub.
    */
  /** JSON string-escape for the spliced envelope values: backslash, quote,
    * the short-form control escapes, and EVERY remaining U+0000–U+001F in
    * backslash-u-XXXX form — jsonpb escapes string fields unconditionally,
    * so a table named `a"b` must reach the wire as `a\"b` and an embedded
    * U+0001 as its four-hex-digit escape, never as invalid JSON (or a
    * broken newline-delimited frame).
    * Pure codegen'd `regexp_replace` chain (backslash FIRST so later
    * escapes aren't double-escaped); in practice schema/table are literals,
    * so the whole chain constant-folds at plan time. Per-row columns whose
    * domain excludes bare control characters take [[jsonEscapeBasic]]
    * instead — see there.
    */
  private val NamedEscapes = Seq(
    "\\\\" -> "\\\\\\\\", "\"" -> "\\\\\"",
    "\n" -> "\\\\n", "\r" -> "\\\\r", "\t" -> "\\\\t")

  private def jsonEscape(c: Column): Column = {
    // the 29 control characters without a short escape, each to its
    // four-hex-digit backslash-u escape
    val rest = (0x00 to 0x1f).filterNot(Seq(0x09, 0x0a, 0x0d).contains)
      .map(cp => "\\x%02x".format(cp) -> "\\\\u%04x".format(cp))
    (NamedEscapes ++ rest).foldLeft(c) { case (acc, (pat, rep)) =>
      regexp_replace(acc, pat, rep)
    }
  }

  /** The short chain for columns whose DOMAIN excludes bare control
    * characters — `op` is a closed enum, `id` a rendered number — so the
    * 29 per-row `backslash-u` passes of [[jsonEscape]] would be guaranteed
    * no-ops on the latency-floor delivery path. Backslash/quote/named
    * escapes still apply (defense in depth at ~zero cost).
    */
  private def jsonEscapeBasic(c: Column): Column =
    NamedEscapes.foldLeft(c) { case (acc, (pat, rep)) =>
      regexp_replace(acc, pat, rep)
    }

  /** The `"table"` field of an Event JSON line (empty if absent) — the
    * replay path's filter key; one regex probe, no document parse (the
    * value is always [[jsonEscape]]d, so a bare quote cannot terminate it
    * early). UNESCAPED before returning, so the replay filter matches the
    * same raw table string `publish()` matches live — a table named with
    * a quote or backslash must filter identically on both paths.
    */
  private[streaming] val TableField =
    java.util.regex.Pattern.compile("\"table\":\"((?:[^\"\\\\]|\\\\.)*)\"")
  private[streaming] def tableOf(line: String): String = {
    val m = TableField.matcher(line)
    if (m.find()) jsonUnescape(m.group(1)) else ""
  }

  /** Inverse of [[jsonEscape]] for a single extracted string value. */
  private[streaming] def jsonUnescape(s: String): String = {
    if (s.indexOf('\\') < 0) return s
    val b = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'n'  => b.append('\n'); i += 2
          case 'r'  => b.append('\r'); i += 2
          case 't'  => b.append('\t'); i += 2
          case 'u' if i + 6 <= s.length =>
            b.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar); i += 6
          case other => b.append(other); i += 2 // \" \\ \/ and friends
        }
      } else { b.append(c); i += 1 }
    }
    b.toString
  }

  def eventJson(schema: Column, table: Column, op: Column, id: Column,
                payload: Column, changes: Column): Column = {
    val head = concat(
      lit("{\"schema\":\""), jsonEscape(schema),
      lit("\",\"table\":\""), jsonEscape(table),
      lit("\",\"op\":\""), jsonEscapeBasic(op),
      lit("\",\"id\":\""), jsonEscapeBasic(id.cast("string")), lit("\""))
    concat(
      head,
      when(payload.isNotNull, concat(lit(",\"payload\":"), payload)).otherwise(lit("")),
      when(changes.isNotNull, concat(lit(",\"changes\":"), changes)).otherwise(lit("")),
      lit("}"))
  }
}

/** The fan-out hub. `port = 0` binds an ephemeral port ([[boundPort]]).
  * All threads are daemons; [[close]] tears everything down.
  *
  * `replaySource` (opt-in) upgrades disconnected subscribers from
  * at-most-once to AT-LEAST-ONCE: a reconnect presenting
  * `"resumeAfter": <last delivered event id>` first receives the gap
  * replayed from the archive tail (`afterId => event JSON lines`, see
  * [[ListenResume.archiveReplay]]), then rejoins the live feed. The
  * guarantee needs the pipeline to COMMIT each batch to the archive
  * BEFORE publishing it to the hub (the [[graft.sources.Layout
  * .appendArchiveBatch]]-then-publish order): the resumed subscriber's
  * queue registers before the archive scan starts, so every event is
  * either already archived (covered by the scan) or published after
  * registration (covered by the queue) — events in both windows arrive
  * twice, which is the bounded duplication at-least-once admits; clients
  * needing exactly-once dedup on the event id they already track as the
  * resume token.
  */
class ListenServer(port: Int = 0, queueCapacity: Int = 1024,
                   replaySource: Option[Long => Iterator[String]] = None,
                   replaySourceByTable: Option[Map[String, Long] => Iterator[String]] = None)
    extends AutoCloseable {

  private val server = new ServerSocket(port, 64, InetAddress.getLoopbackAddress)
  private val closed = new AtomicBoolean(false)
  private val dropped = new AtomicLong(0)
  private val subs = new ConcurrentHashMap[Subscriber, java.lang.Boolean]()

  def boundPort: Int = server.getLocalPort
  def droppedCount: Long = dropped.get
  def subscriberCount: Int = subs.size
  /** Per-subscriber loss, keyed by overflow policy — the observability a
    * shared total can't give (with mixed policies on one hub, the global
    * counter can't say WHOSE queue overflowed).
    */
  def dropsByPolicy: Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    subs.keySet.asScala.toSeq
      .groupBy(s => if (s.dropOldest) "drop-oldest" else "drop-newest")
      .map { case (k, ss) => k -> ss.map(_.drops.get).sum }
  }

  /** In-process publish — the same path ingest connections take.
    *
    * Overflow policy per subscriber: the default drops the NEW event
    * (faithful to the reference's non-blocking send, `server.go:249-253` —
    * its own TODO at `:291` anticipates buffering); a `drop-oldest`
    * subscriber instead evicts the STALEST queued event to admit the new
    * one — same at-most-once loss accounting, but a slow tail-watcher
    * keeps the freshest events (what a dashboard wants) at the price of
    * holes earlier in the stream. Loss counts land in [[droppedCount]]
    * either way; the trade is measured in `ListenBench`.
    */
  def publish(table: String, eventJson: String): Unit =
    publish(table, eventJson, null)

  /** Publish with a PRE-ENCODED proto frame (varint-framed `pqs.Event`,
    * base64 — [[ProtoWire.eventFrames]] computes it executor-side as a
    * pipeline column). Proto subscribers enqueue the shared frame as-is;
    * without one the hub encodes it LAZILY, at most once per published
    * event — either way the per-DELIVERED Jackson parse + proto encode of
    * the pre-r11 subscriber edge is gone (it cost ~4× the JSON line path
    * at 4 subscribers; ListenBench's `listen_throughput_proto_hoisted`
    * tracks the hoisted number).
    */
  def publish(table: String, eventJson: String, protoFrameB64: String): Unit = {
    var frame = protoFrameB64
    var frameFailed = false
    // the lazy encode must never throw OUT of publish: a malformed event
    // JSON (passthrough props from an external source) would otherwise
    // kill the whole ingest connection — every subscriber's feed — for
    // one proto subscriber's sake. Encode failure = that event drops for
    // proto subscribers only (counted), JSON subscribers still get it.
    def frameOnce(): String = {
      if (frame == null && !frameFailed)
        try frame = ProtoWire.framedEventBase64(eventJson)
        catch { case _: Exception => frameFailed = true }
      frame
    }
    val it = subs.keySet.iterator
    while (it.hasNext) {
      val s = it.next()
      if (s.pattern.matcher(table).find()) { // Go RE2 MatchString: unanchored
        val item = if (s.protoFrames) frameOnce() else eventJson
        if (item == null) { dropped.incrementAndGet(); s.drops.incrementAndGet() }
        else if (!s.queue.offer(item)) {
          if (s.dropOldest) {
            var admitted = false
            while (!admitted) {
              // evict the stalest (races the writer: a null poll means the
              // writer freed the slot itself — nothing was lost)
              if (s.queue.poll() != null) { dropped.incrementAndGet(); s.drops.incrementAndGet() }
              admitted = s.queue.offer(item)
            }
          } else { dropped.incrementAndGet(); s.drops.incrementAndGet() } // at-most-once on the new event
        }
      }
    }
  }

  private final class Subscriber(val pattern: Pattern, socket: Socket,
                                 capacity: Int, val dropOldest: Boolean,
                                 val protoFrames: Boolean = false,
                                 replay: () => Iterator[String] = () => Iterator.empty) {
    val queue = new ArrayBlockingQueue[String](capacity)
    val drops = new AtomicLong(0)
    val ready = new CountDownLatch(1) // registration visible before first event
    // resume ordering: the writer must not START the archive scan until the
    // queue is registered for live events, or a publish between scan and
    // registration would be lost (neither archived-at-scan-time nor queued)
    val registered = new CountDownLatch(1)
    private val gone = new AtomicBoolean(false)
    val writerThread: Thread = daemon(s"listen-sub-writer") {
      try {
        val emit: String => Unit = if (protoFrames) {
          // BINARY mode ("format":"proto" in the handshake): queue items
          // arrive ALREADY ENCODED as varint-framed pqs.Event bytes
          // (base64) — pre-computed executor-side by the pipeline
          // ([[ProtoWire.eventFrames]]) or at most once per published
          // event by the hub; this edge only base64-decodes and writes,
          // so N proto subscribers share one encode instead of paying
          // Jackson parse + proto encode per delivery (the pre-r11 shape).
          val out = new java.io.BufferedOutputStream(socket.getOutputStream)
          item => {
            val bytes = java.util.Base64.getDecoder.decode(item)
            out.write(bytes); out.flush()
          }
        } else {
          val w = new BufferedWriter(new OutputStreamWriter(socket.getOutputStream, UTF_8))
          line => { w.write(line); w.write('\n'); w.flush() }
        }
        ready.countDown()
        // registration-before-scan is the at-least-once guarantee; a
        // timeout must FAIL the subscriber loudly (caught below → socket
        // closed → client retries), never silently start the scan early
        // and lose the events in the gap
        require(registered.await(5, TimeUnit.SECONDS),
          "subscriber registration timed out before replay")
        // gap replay first (empty for plain subscribers), live queue after;
        // live events arriving DURING the replay buffer in the queue (size
        // the reconnect's "buffer" accordingly — overflow falls back to the
        // subscriber's drop policy, same as any slow consumer). Replay
        // lines are envelope JSON (the archive's durable form); a proto
        // subscriber's replay converts per line — resume is the cold path.
        // The subscription's table regexp applies to REPLAYED events
        // exactly as publish() applies it to live ones — a narrow
        // subscriber must not receive the whole archive tail on reconnect.
        // One bad archive line (a malformed \u escape breaking tableOf, a
        // proto re-encode failure) must not abort the WHOLE replay — a
        // persistently bad line would make resume permanently impossible
        // (every reconnect re-hits it). Per-line failures are counted as
        // drops and skipped; an IOException is the CLIENT disappearing and
        // still aborts (rethrown into the blanket catch → unregister).
        replay().foreach { line =>
          if (!closed.get && !gone.get) {
            try {
              if (pattern.matcher(Listen.tableOf(line)).find())
                emit(if (protoFrames) ProtoWire.framedEventBase64(line) else line)
            } catch {
              case e: java.io.IOException => throw e
              case _: Exception =>
                dropped.incrementAndGet(); drops.incrementAndGet()
            }
          }
        }
        while (!closed.get && !gone.get) {
          val line = queue.poll(200, TimeUnit.MILLISECONDS)
          if (line != null) emit(line)
        }
      } catch { case NonFatal(_) => () } // client went away: unregister below
      finally remove()
    }
    def remove(): Unit = if (gone.compareAndSet(false, true)) {
      subs.remove(this)
      try socket.close() catch { case NonFatal(_) => () }
    }
  }

  private def daemon(name: String)(body: => Unit): Thread = {
    val t = new Thread(() => body, name)
    t.setDaemon(true); t.start(); t
  }

  // the handshake line is control-plane, not the hot path: Jackson (shipped
  // with Spark) parses it once per connection
  private def handshakeField(line: String, field: String): Option[String] = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    try {
      val node = om.readTree(line)
      // explicit JSON null == absent: clients whose serializers emit
      // optional fields as null ("resumeAfter":null) mean "no token", not
      // "a token you must refuse" — NullNode.asText() is the string
      // "null", which would otherwise trip the unparseable-token refusal
      Option(node.get(field)).filter(n => !n.isNull).map(_.asText())
    } catch { case NonFatal(_) => None }
  }

  /** An OBJECT-valued handshake field as (key → text value) pairs — the
    * multi-table resume token's shape. Per-table null values mean "no
    * token for this table" (the table subscribes fresh, nothing replays
    * for it) — the same null-is-absent contract as the scalar field, not
    * a refusal.
    */
  private def handshakeObjectField(line: String,
                                   field: String): Option[Map[String, String]] = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    try {
      Option(om.readTree(line).get(field)).filter(_.isObject).map { n =>
        import scala.jdk.CollectionConverters._
        n.properties().asScala.filter(!_.getValue.isNull)
          .map(e => e.getKey -> e.getValue.asText()).toMap
      }
    } catch { case NonFatal(_) => None }
  }

  private def handleConnection(socket: Socket): Unit = {
    val in = new BufferedReader(new InputStreamReader(socket.getInputStream, UTF_8))
    val first = in.readLine()
    if (first == null) { socket.close(); return }
    if (handshakeField(first, "ingest").isDefined) {
      // ingest: executor partitions stream `table \t json [\t frameB64]`
      // lines at us. VALID event JSON cannot carry a bare tab (string
      // values escape it as \t), but passthrough props from an external
      // source can be garbage — so a third field is honored only when it
      // LOOKS like a frame (non-empty, base64 alphabet; a JSON remainder
      // always ends in '}', which is not base64, so garbage keeps the
      // pre-r11 first-tab-only delivery instead of being corrupted)
      var line = in.readLine()
      while (line != null && !closed.get) {
        val tab = line.indexOf('\t')
        if (tab > 0) {
          val tab2 = line.lastIndexOf('\t')
          val candidate = if (tab2 > tab) line.substring(tab2 + 1) else ""
          if (candidate.nonEmpty && candidate.forall(ListenServer.isBase64Char))
            publish(line.substring(0, tab), line.substring(tab + 1, tab2), candidate)
          else {
            // trailing-tab lines ('table\tjson\t'): an EMPTY third field
            // must not deliver its separator tab as trailing garbage
            // inside the published event — strip trailing tabs; a
            // non-empty non-base64 remainder keeps the pre-r11
            // first-tab-only delivery unchanged (see comment above)
            var end = line.length
            if (candidate.isEmpty)
              while (end > tab + 1 && line.charAt(end - 1) == '\t') end -= 1
            publish(line.substring(0, tab), line.substring(tab + 1, end))
          }
        }
        line = in.readLine()
      }
      socket.close()
    } else {
      handshakeField(first, "tableRegexp") match {
        case Some(re) =>
          try {
            val p = Pattern.compile(re)
            // opt-in per-subscriber buffer tuning in the ListenRequest:
            // "buffer" overrides the queue capacity, "policy":"drop-oldest"
            // keeps the freshest events under overflow (see publish)
            val cap = handshakeField(first, "buffer")
              .flatMap(v => scala.util.Try(v.toInt).toOption)
              .filter(_ > 0).getOrElse(queueCapacity)
            val dropOldest = handshakeField(first, "policy").contains("drop-oldest")
            // "format":"proto" = varint-length-prefixed pqs.Event frames
            val proto = handshakeField(first, "format").contains("proto")
            // "resumeAfter": at-least-once reconnect — replay the archive
            // gap above the token, then rejoin live (see class doc).
            // "resumeAfterByTable" is the MULTI-TABLE form: per-table id
            // spaces are independent (the committedOffsets lesson — one
            // scalar token would re-deliver tables behind it and LOSE
            // events on tables ahead), so the token is a JSON object of
            // per-table last-delivered ids.
            // Token parse failures distinguish ABSENT (a plain live
            // subscription) from UNPARSEABLE: a client that presented a
            // garbage token asked for at-least-once and must be refused
            // loudly (error line + close, same posture as the
            // missing-replay-source case below) — never silently joined
            // live-only, and never left hanging on a leaked socket by an
            // exception escaping this handshake.
            val resumeAfterRaw = handshakeField(first, "resumeAfter")
            val resumeAfter = resumeAfterRaw
              .flatMap(v => scala.util.Try(v.toLong).toOption)
            val resumeByTableRaw = handshakeObjectField(first, "resumeAfterByTable")
            val resumeByTable = resumeByTableRaw.flatMap { toks =>
              scala.util.Try(toks.map { case (t, v) => t -> v.toLong }).toOption
            }
            if ((resumeAfterRaw.isDefined && resumeAfter.isEmpty) ||
                (resumeByTableRaw.isDefined && resumeByTable.isEmpty)) {
              val w = new BufferedWriter(new OutputStreamWriter(socket.getOutputStream, UTF_8))
              w.write("{\"error\":\"unparseable resume token (expected a numeric id)\"}\n")
              w.flush(); socket.close(); return
            }
            if ((resumeAfter.isDefined && replaySource.isEmpty) ||
                (resumeByTable.isDefined && replaySourceByTable.isEmpty)) {
              val w = new BufferedWriter(new OutputStreamWriter(socket.getOutputStream, UTF_8))
              w.write("{\"error\":\"resumeAfter requires a hub with a replay source\"}\n")
              w.flush(); socket.close(); return
            }
            val replay: () => Iterator[String] = (resumeAfter, resumeByTable) match {
              case (Some(after), _)   => () => replaySource.get(after)
              case (None, Some(toks)) => () => replaySourceByTable.get(toks)
              case _                  => () => Iterator.empty
            }
            val s = new Subscriber(p, socket, cap, dropOldest, proto, replay)
            subs.put(s, java.lang.Boolean.TRUE)
            s.registered.countDown()
            s.ready.await(5, TimeUnit.SECONDS)
            // reader side: only used to detect client disconnect
            try { while (in.readLine() != null) () } catch { case NonFatal(_) => () }
            s.remove()
          } catch {
            case e: PatternSyntaxException =>
              val w = new BufferedWriter(new OutputStreamWriter(socket.getOutputStream, UTF_8))
              w.write("{\"error\":" + quote(e.getMessage) + "}\n"); w.flush()
              socket.close()
          }
        case None =>
          val w = new BufferedWriter(new OutputStreamWriter(socket.getOutputStream, UTF_8))
          w.write("{\"error\":\"expected a ListenRequest {\\\"tableRegexp\\\":...}\"}\n")
          w.flush()
          socket.close()
      }
    }
  }

  private def quote(s: String): String =
    "\"" + Option(s).getOrElse("").replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", "\\n").replace("\r", "\\r").replace("\t", "\\t") + "\""

  daemon("listen-accept") {
    try {
      while (!closed.get) {
        val s = server.accept()
        // any failure escaping the handshake must CLOSE the socket — a
        // swallowed exception with the socket left open hangs the client
        // forever with no error response and leaks the fd
        daemon(s"listen-conn") {
          try handleConnection(s)
          catch { case NonFatal(_) => try s.close() catch { case NonFatal(_) => () } }
        }
      }
    } catch { case NonFatal(_) => () } // server socket closed
  }

  override def close(): Unit = if (closed.compareAndSet(false, true)) {
    try server.close() catch { case NonFatal(_) => () }
    subs.keySet.forEach(_.remove())
  }
}

object ListenServer {
  private[streaming] def isBase64Char(c: Char): Boolean =
    (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
      (c >= '0' && c <= '9') || c == '+' || c == '/' || c == '='
}

/** Gap replay for resumable subscribers: the archive tail
  * ([[graft.sources.Layout.archiveStream]]'s (day, op) parquet layout) as
  * event JSON lines above a resume token. The scan is filtered to
  * `event_id > afterId` (row-group pruned by the layout's key stats) and
  * streamed to the single consumer via `toLocalIterator` — one partition
  * in flight, never the whole gap in hub heap. Replay carries what the
  * archive durably stores (op + payload); the stateful products
  * (`previous`/`changes`) are per-LIVE-delivery artifacts, exactly like a
  * reference client that reconnects and re-reads its own WAL.
  */
object ListenResume {
  def archiveReplay(spark: org.apache.spark.sql.SparkSession, path: String,
                    schema: String = "public", table: String = "events")
      : Long => Iterator[String] = afterId => {
    import scala.jdk.CollectionConverters._
    spark.read.parquet(path)
      .filter(col("event_id") > afterId)
      .orderBy(col("event_id"))
      .select(Listen.eventJson(lit(schema), lit(table), col("op"),
        col("event_id"), col("props"), lit(null).cast("string")).as("event"))
      .toLocalIterator().asScala.map(_.getString(0))
  }

  /** MULTI-TABLE gap replay (a [[CdcCatalog]]-shaped deployment: N captured
    * tables, N archives): each table's gap is replayed above ITS OWN token
    * — per-table id spaces are independent, so a shared scalar would
    * re-deliver tables behind it and lose events on tables ahead (the
    * `StateMigration.committedOffsets` discipline at the push edge).
    * Tables replay sequentially, each in id order; CROSS-table ordering is
    * deliberately unspecified — the reference's per-table trigger streams
    * never had one, and the live feed interleaves arbitrarily too. A table
    * the client presents no token for replays nothing (it subscribes
    * fresh); a token naming a table with no configured archive is a
    * config error — the require below fails the subscriber (socket
    * closed, client retries against a corrected config) rather than
    * silently replaying nothing for it.
    */
  def multiArchiveReplay(spark: org.apache.spark.sql.SparkSession,
                         archives: Map[String, String],
                         schema: String = "public")
      : Map[String, Long] => Iterator[String] = tokens => {
    val unknown = tokens.keySet -- archives.keySet
    require(unknown.isEmpty, s"no archive configured for table(s): $unknown")
    tokens.toSeq.sortBy(_._1).iterator.flatMap { case (table, after) =>
      archiveReplay(spark, archives(table), schema, table)(after)
    }
  }
}

/** Executor-side ingest: a `ForeachWriter` over rows of (table, event_json).
  * One socket per partition per epoch — the write path scales with the
  * cluster; the hub only fans out. At-most-once by design (see [[Listen]]).
  */
object ListenSink {
  def writer(host: String, port: Int): ForeachWriter[Row] =
    new SocketEventWriter(host, port, flushEach = false)

  /** Continuous-trigger variant: flush per record. Under `Trigger.
    * Continuous` the writer stays open for the WHOLE epoch (seconds),
    * so batch-grain flushing (right for micro-batch, where close() follows
    * the batch immediately) would buffer events for the full epoch and
    * forfeit the ms-class record path. Tail traffic is single events —
    * a flush per line IS the steady-state write shape.
    */
  def continuousWriter(host: String, port: Int): ForeachWriter[Row] =
    new SocketEventWriter(host, port, flushEach = true)
}

/** Named top-level class (not an anonymous inner class) so the instance
  * serialized to executors carries only (host, port) — no outer reference.
  */
final class SocketEventWriter(host: String, port: Int, flushEach: Boolean)
    extends ForeachWriter[Row] {
  @transient private var socket: Socket = _
  @transient private var out: BufferedWriter = _

  override def open(partitionId: Long, epochId: Long): Boolean = {
    socket = new Socket(host, port)
    out = new BufferedWriter(new OutputStreamWriter(socket.getOutputStream, UTF_8))
    out.write("{\"ingest\":true}\n")
    if (flushEach) out.flush()
    true
  }

  override def process(row: Row): Unit = {
    out.write(row.getString(0)); out.write('\t')
    out.write(row.getString(1))
    // optional third column: the pipeline's pre-encoded proto frame
    // (ProtoWire.eventFrames) — forwarded so the hub never re-encodes
    if (row.length > 2 && !row.isNullAt(2)) {
      out.write('\t'); out.write(row.getString(2))
    }
    out.write('\n')
    if (flushEach) out.flush()
  }

  override def close(errorOrNull: Throwable): Unit = {
    if (out != null) { try { out.flush() } catch { case NonFatal(_) => () } }
    if (socket != null) { try socket.close() catch { case NonFatal(_) => () } }
  }
}

/** The `pqs` CLI analog (reference `cmd/pqs/main.go:26-77`): connect, send the
  * ListenRequest, print each Event JSON line to stdout until EOF.
  * Usage: `runMain graft.streaming.PqsClient --connect host:port --tables .*`
  */
object PqsClient {

  /** Connection loop factored out so the spec can drive it against a live
    * hub and capture output. Returns when the server closes the stream or
    * `maxEvents` lines have been printed (maxEvents <= 0: unbounded).
    */
  def run(host: String, port: Int, tableRegexp: String,
          sink: String => Unit, maxEvents: Int = -1): Unit = {
    val socket = new Socket(host, port)
    try {
      val w = new BufferedWriter(new OutputStreamWriter(socket.getOutputStream, UTF_8))
      w.write("{\"tableRegexp\":" + jsonQuote(tableRegexp) + "}\n"); w.flush()
      val in = new BufferedReader(new InputStreamReader(socket.getInputStream, UTF_8))
      var n = 0
      var line = in.readLine()
      while (line != null && (maxEvents <= 0 || n < maxEvents)) {
        sink(line); n += 1
        line = if (maxEvents > 0 && n >= maxEvents) null else in.readLine()
      }
    } finally socket.close()
  }

  /** Resumable connection: presents the at-least-once resume token
    * (`resumeAfter` = the last event id this client saw; -1 for a fresh
    * subscription against a resume-capable hub). The client's own token
    * tracking is one JSON field read per line — [[eventId]].
    */
  def runFrom(host: String, port: Int, tableRegexp: String, resumeAfter: Long,
              sink: String => Unit, maxEvents: Int = -1,
              buffer: Int = 0): Unit = {
    val socket = new Socket(host, port)
    try {
      val w = new BufferedWriter(new OutputStreamWriter(socket.getOutputStream, UTF_8))
      val buf = if (buffer > 0) s""","buffer":"$buffer"""" else ""
      w.write("{\"tableRegexp\":" + jsonQuote(tableRegexp) +
        s""","resumeAfter":"$resumeAfter"$buf}""" + "\n")
      w.flush()
      val in = new BufferedReader(new InputStreamReader(socket.getInputStream, UTF_8))
      var n = 0
      var line = in.readLine()
      while (line != null && (maxEvents <= 0 || n < maxEvents)) {
        sink(line); n += 1
        line = if (maxEvents > 0 && n >= maxEvents) null else in.readLine()
      }
    } finally socket.close()
  }

  /** Multi-table resumable connection: per-table tokens (the
    * `resumeAfterByTable` handshake) against a hub built with
    * [[ListenResume.multiArchiveReplay]]. Track tokens per table with
    * [[eventId]] + [[Listen.tableOf]].
    */
  def runFromTables(host: String, port: Int, tableRegexp: String,
                    resumeAfter: Map[String, Long],
                    sink: String => Unit, maxEvents: Int = -1): Unit = {
    val socket = new Socket(host, port)
    try {
      val w = new BufferedWriter(new OutputStreamWriter(socket.getOutputStream, UTF_8))
      val toks = resumeAfter.toSeq.sortBy(_._1)
        .map { case (t, v) => jsonQuote(t) + s""":"$v"""" }.mkString("{", ",", "}")
      w.write("{\"tableRegexp\":" + jsonQuote(tableRegexp) +
        s""","resumeAfterByTable":$toks}""" + "\n")
      w.flush()
      val in = new BufferedReader(new InputStreamReader(socket.getInputStream, UTF_8))
      var n = 0
      var line = in.readLine()
      while (line != null && (maxEvents <= 0 || n < maxEvents)) {
        sink(line); n += 1
        line = if (maxEvents > 0 && n >= maxEvents) null else in.readLine()
      }
    } finally socket.close()
  }

  /** The `"id"` field of an Event JSON line as a Long (-1 if absent/bad) —
    * what a resumable client tracks as its token. Called once per
    * delivered line, so the pattern is compiled once.
    */
  private val IdField = java.util.regex.Pattern.compile("\"id\":\"(\\d+)\"")
  def eventId(line: String): Long = {
    val m = IdField.matcher(line)
    if (m.find()) m.group(1).toLong else -1L
  }

  /** The `"table"` field of an Event JSON line — the other half of a
    * multi-table client's per-table token map.
    */
  def eventTable(line: String): String = Listen.tableOf(line)

  private def jsonQuote(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  def main(args: Array[String]): Unit = {
    var connect = ":7000"; var tables = ".*"
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--connect" => connect = args(i + 1); i += 2
        case "--tables"  => tables = args(i + 1); i += 2
        case other       => sys.error(s"unknown flag: $other")
      }
    }
    val colon = connect.lastIndexOf(':')
    val host = if (colon <= 0) "127.0.0.1" else connect.substring(0, colon)
    val port = connect.substring(colon + 1).toInt
    run(host, port, tables, println)
  }
}
