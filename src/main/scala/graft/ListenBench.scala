package graft

import scala.util.control.NonFatal
import java.io.{BufferedWriter, OutputStreamWriter}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicLong

import graft.streaming.{ListenServer, PqsClient}

/** Push-transport throughput probe — pure JVM, no Spark session: measures
  * the [[ListenServer]] hub's fan-out rate, the analog of the reference's
  * single-goroutine event loop ceiling (reference `server.go:258-281`).
  * Two paths:
  *  - in-process `publish` (the upper bound: no socket between producer
  *    and hub), and
  *  - socket ingest (the executor path: events arrive over TCP exactly as
  *    a `ForeachWriter` partition delivers them).
  * Each event fans out to every subscriber (regexp `.*`), so delivered
  * lines = events × subscribers; the probe waits for full drain, so a
  * drop (at-most-once overflow) would surface as a hang — queue capacity
  * is sized above the burst.
  *
  * Usage: `runMain graft.ListenBench [nEvents] [nSubscribers]` → JSON lines.
  */
object ListenBench {

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(200000)
    val nSubs = args.lift(1).map(_.toInt).getOrElse(4)
    val event = """{"schema":"public","table":"events","op":"UPDATE","id":"7",""" +
      """"payload":{"k":2,"pad":"xxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxx"},"changes":{"k":1}}"""

    def fanOut(metric: String, sec: Double): Unit =
      Harness.emit(metric, "events" -> n, "subscribers" -> nSubs, "sec" -> sec,
        "events_per_sec" -> (n / sec).toLong, "delivered_per_sec" -> (n.toLong * nSubs / sec).toLong)

    def withHub(body: ListenServer => Unit): Unit = {
      val server = new ListenServer(queueCapacity = n + 16)
      try body(server) finally server.close()
    }

    def subscribers(server: ListenServer, each: Int): Seq[Thread] = {
      val done = new AtomicLong(0)
      val ts = (1 to nSubs).map { _ =>
        val t = new Thread(() => {
          val got = new AtomicLong(0)
          PqsClient.run("127.0.0.1", server.boundPort, ".*",
            _ => got.incrementAndGet(), maxEvents = each)
          done.addAndGet(got.get)
        })
        t.setDaemon(true); t.start(); t
      }
      val deadline = System.nanoTime() + 10_000_000_000L
      while (server.subscriberCount < nSubs && System.nanoTime() < deadline)
        Thread.sleep(5)
      require(server.subscriberCount == nSubs, "subscribers failed to register")
      ts
    }

    // in-process publish
    withHub { server =>
      val subs = subscribers(server, n)
      val t0 = System.nanoTime()
      var i = 0
      while (i < n) { server.publish("events", event); i += 1 }
      subs.foreach(_.join(60000))
      val sec = (System.nanoTime() - t0) / 1e9
      require(server.droppedCount == 0, s"dropped ${server.droppedCount} — resize the probe queue")
      fanOut("listen_throughput_inproc", sec)
    }

    // socket ingest (the executor-partition path)
    withHub { server =>
      val subs = subscribers(server, n)
      val sock = new Socket("127.0.0.1", server.boundPort)
      val out = new BufferedWriter(new OutputStreamWriter(sock.getOutputStream, UTF_8), 1 << 16)
      out.write("{\"ingest\":true}\n")
      val t0 = System.nanoTime()
      var i = 0
      while (i < n) { out.write("events\t"); out.write(event); out.write('\n'); i += 1 }
      out.flush()
      subs.foreach(_.join(60000))
      val sec = (System.nanoTime() - t0) / 1e9
      sock.close()
      require(server.droppedCount == 0, s"dropped ${server.droppedCount} — resize the probe queue")
      fanOut("listen_throughput_socket", sec)
    }

    // binary fan-out: nSubs readers of varint-delimited proto frames;
    // `publishOne` sends one event, and the line times n of them through
    // to every reader's drain
    def protoFanOut(metric: String)(publishOne: ListenServer => Unit): Unit = withHub { server =>
      val done = new AtomicLong(0)
      val readers = (1 to nSubs).map { _ =>
        val t = new Thread(() => {
          try {
            val sock = new Socket("127.0.0.1", server.boundPort)
            val w = new BufferedWriter(new OutputStreamWriter(sock.getOutputStream, UTF_8))
            w.write("""{"tableRegexp":".*","format":"proto"}""" + "\n"); w.flush()
            val in = new java.io.BufferedInputStream(sock.getInputStream, 1 << 16)
            var got = 0
            var open = true
            while (open && got < n) {
              var shift = 0; var len = 0; var more = true
              while (more) {
                val x = in.read()
                if (x < 0) { open = false; more = false }
                else {
                  len |= (x & 0x7F) << shift
                  if ((x & 0x80) == 0) more = false else shift += 7
                }
              }
              if (open && in.readNBytes(len).length == len) got += 1
              else open = false
            }
            done.addAndGet(got.toLong)
            sock.close()
          } catch { case NonFatal(_) => () }
        })
        t.setDaemon(true); t.start(); t
      }
      val deadline = System.nanoTime() + 10_000_000_000L
      while (server.subscriberCount < nSubs && System.nanoTime() < deadline)
        Thread.sleep(5)
      val t0 = System.nanoTime()
      var i = 0
      while (i < n) { publishOne(server); i += 1 }
      readers.foreach(_.join(120000))
      val sec = (System.nanoTime() - t0) / 1e9
      require(server.droppedCount == 0, s"dropped ${server.droppedCount} — resize the probe queue")
      // droppedCount can't see a reader that died and UNREGISTERED (publish
      // then skips it) — the delivered total is the honest gate
      require(done.get == n.toLong * nSubs,
        s"delivered ${done.get} of ${n.toLong * nSubs} — a reader died mid-run")
      fanOut(metric, sec)
    }

    // the proto path pays one Jackson parse + one ProtoWire encode per
    // DELIVERED event at the subscriber edge — measure that cost next to
    // the JSON line path above
    protoFanOut("listen_throughput_proto")(_.publish("events", event))

    // encode-once hoist: the SAME binary fan-out with the frame
    // pre-encoded (the pipeline-column shape, ProtoWire.eventFrames) —
    // per-subscriber cost drops to base64-decode + socket write, so the
    // line should sit within ~1.5× of the JSON path at equal fan-out
    val frame = graft.streaming.ProtoWire.framedEventBase64(event)
    protoFanOut("listen_throughput_proto_hoisted")(_.publish("events", event, frame))

    // resume path: a reconnecting subscriber drains an N-event archive gap
    // (Layout tail replay) — the cost of catching up vs tailing live
    {
      val spark = Harness.session()
      import spark.implicits._
      val nGap = math.min(n, 100000)
      val dir = java.nio.file.Files.createTempDirectory("listen_resume_bench").toString
      val batch = (0 until nGap).map(i => (i.toLong,
          new java.sql.Timestamp(1700000000000L + i), i.toLong % 97, "INSERT",
          s"""{"k":$i,"pad":"xxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxx"}"""))
        .toDF("event_id", "ts", "user_id", "op", "props")
      graft.sources.Layout.writeEventArchive(batch, dir)
      val server = new ListenServer(
        replaySource = Some(graft.streaming.ListenResume.archiveReplay(spark, dir)))
      try {
        val got = new AtomicLong(0)
        val t0 = System.nanoTime()
        PqsClient.runFrom("127.0.0.1", server.boundPort, "events", -1L,
          _ => got.incrementAndGet(), maxEvents = nGap)
        val sec = (System.nanoTime() - t0) / 1e9
        require(got.get == nGap, s"resume replay delivered ${got.get}/$nGap")
        Harness.emit("listen_resume_replay", "events" -> nGap, "sec" -> sec,
          "events_per_sec" -> (nGap / sec).toLong)
      } finally { server.close(); spark.stop() }
    }

    // slow-consumer overflow: the loss/freshness trade between the two
    // subscriber policies. One reader pacing 1 ms/event against a burst it
    // cannot absorb; both policies lose events (at-most-once either way) —
    // what differs is WHICH events survive: tail_lag is how far behind the
    // stream's end the subscriber's final delivered event was. The
    // reference default keeps the oldest backlog (large lag); drop-oldest
    // keeps the freshest (lag → 0 once the backlog drains).
    Seq("drop-newest", "drop-oldest").foreach { policy =>
      val server = new ListenServer(queueCapacity = 64)
      try {
        val nSlow = 20000
        val pad = "y" * 2048
        val got = new AtomicLong(0)
        val last = new AtomicLong(-1)
        val reader = new Thread(() => {
          try {
            val sock = new Socket("127.0.0.1", server.boundPort)
            val w = new BufferedWriter(new OutputStreamWriter(sock.getOutputStream, UTF_8))
            w.write(s"""{"tableRegexp":".*","policy":"$policy","buffer":64}""" + "\n")
            w.flush()
            val in = new java.io.BufferedReader(
              new java.io.InputStreamReader(sock.getInputStream, UTF_8))
            var line = in.readLine()
            while (line != null) {
              val seq = line.substring(line.indexOf(":") + 1, line.indexOf(",")).toLong
              got.incrementAndGet(); last.set(seq)
              Thread.sleep(1)
              line = in.readLine()
            }
          } catch { case NonFatal(_) => () }
        })
        reader.setDaemon(true); reader.start()
        val deadline = System.nanoTime() + 5_000_000_000L
        while (server.subscriberCount < 1 && System.nanoTime() < deadline) Thread.sleep(5)
        var i = 0
        while (i < nSlow) {
          server.publish("events", s"""{"seq":$i,"pad":"$pad"}"""); i += 1
        }
        // let the reader drain whatever survived (socket buffer + queue)
        var prev = -1L
        var stable = 0
        while (stable < 15 && System.nanoTime() < deadline + 20_000_000_000L) {
          Thread.sleep(100)
          val g = got.get
          if (g == prev) stable += 1 else { stable = 0; prev = g }
        }
        Harness.emit("listen_slow_consumer", "policy" -> policy, "events" -> nSlow,
          "delivered" -> got.get, "dropped" -> server.droppedCount,
          "tail_lag" -> (nSlow - 1 - last.get))
      } finally server.close()
    }
  }
}
