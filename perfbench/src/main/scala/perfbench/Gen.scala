package perfbench

import java.sql.Timestamp
import java.time.LocalDateTime
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Everything the program under test receives is
  * made here from the run's seed: the same seed gives the same bytes.
  */
object Gen {

  /** Independent stream per purpose, so adding a table or a draw to one
    * generator never shifts another's values.
    */
  def rng(seed: Long, stream: String): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ stream.hashCode.toLong)

  // ===== catalog tables =====

  private val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val PartAdj = Seq("red", "blue", "old", "new", "hot", "cold", "small", "large")
  private val PartNoun = Seq("bolt", "anvil", "plate", "widget", "gear", "ring", "rod", "gizmo")
  private val PartTypes = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")
  private val Langs = Seq("en", "en", "en", "de", "es", "fr", "zh")
  private val Vocab = Seq("a", "agg", "batch", "big", "column", "customer", "data",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark", "stream",
    "table", "the", "value", "vector", "window")
  private val Day = 86400000L

  private def money(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  /** The analytical catalog's ten tables at scale factor `sf` (rows scale
    * like TPC-H; `documents` and `embeddings` are fixed at 500 rows), one
    * parquet directory per table under `dir`.
    */
  def writeCatalogTables(spark: SparkSession, dir: String, seed: Long, sf: Double): Unit = {
    def n(base: Double): Int = math.max(1, math.round(base * sf).toInt)
    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrd = n(1500000); val nLine = n(6000000); val nEv = n(1000000)
    val nUsers = n(15000)
    val nDocs = 500; val nVec = 500; val dim = 64
    def write(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    def st(fields: (String, DataType)*) = StructType(fields.map { case (f, t) => StructField(f, t) })

    write("region", st("r_regionkey" -> IntegerType, "r_name" -> StringType),
      Regions.zipWithIndex.map { case (r, i) => Row(i, r) })
    write("nation", st("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    val rc = rng(seed, "customer")
    write("customer", st("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType),
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", rc.nextInt(25),
        money(rc, -999.99, 9999.99), Segments(rc.nextInt(Segments.size)))))
    val rs = rng(seed, "supplier")
    write("supplier", st("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", rs.nextInt(25),
        money(rs, -999.99, 9999.99))))
    val rp = rng(seed, "part")
    val price = (0 until nPart).map(i => 900.0 + (i % 1000) * 0.1).map(p => math.round(p * 10) / 10.0)
    write("part", st("p_partkey" -> LongType, "p_name" -> StringType, "p_brand" -> StringType,
      "p_type" -> StringType, "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
      (0 until nPart).map(i => Row(i.toLong,
        s"${PartAdj(rp.nextInt(PartAdj.size))} ${PartNoun(rp.nextInt(PartNoun.size))}",
        s"Brand#${1 + rp.nextInt(25)}", PartTypes(rp.nextInt(PartTypes.size)),
        1 + rp.nextInt(50), price(i))))
    val ro = rng(seed, "orders")
    // timestamps are zone-less (parquet isAdjustedToUTC = false), as in
    // the project's reference datasets and their DuckDB oracles
    val d0 = LocalDateTime.of(1995, 1, 1, 0, 0)
    write("orders", st("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
      (0 until nOrd).map(i => Row(i.toLong, ro.nextInt(nCust).toLong,
        Seq("F", "O", "P")(ro.nextInt(3)), money(ro, 1000, 500000),
        d0.plusDays(ro.nextInt(2405).toLong), Priorities(ro.nextInt(5)))))
    val rl = rng(seed, "lineitem")
    write("lineitem", st("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType,
      "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType, "l_shipdate" -> TimestampNTZType),
      (0 until nLine).map { _ =>
        val pk = rl.nextInt(nPart)
        val q = (1 + rl.nextInt(50)).toDouble
        Row(rl.nextInt(nOrd).toLong, pk.toLong, rl.nextInt(nSupp).toLong, 1 + rl.nextInt(7),
          q, math.round(q * price(pk) * 100) / 100.0, rl.nextInt(11) / 100.0,
          rl.nextInt(9) / 100.0, Seq("A", "N", "R")(rl.nextInt(3)), Seq("F", "O")(rl.nextInt(2)),
          d0.plusDays(1L + rl.nextInt(2500)))
      })
    val re = rng(seed, "events")
    val e0 = LocalDateTime.of(2024, 1, 1, 0, 0)
    val evTs = Array.fill(nEv)((re.nextDouble() * 30L * Day * 1000L).toLong).sorted
    write("events", st("event_id" -> LongType, "ts" -> TimestampNTZType, "user_id" -> LongType,
      "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType),
      (0 until nEv).map { i =>
        Row(i.toLong, e0.plusNanos(evTs(i) * 1000L), re.nextInt(nUsers).toLong, EventTypes(re.nextInt(5)),
          money(re, 0.01, 490.02), s"""{"k": ${re.nextInt(100)}}""")
      })
    // 5 % of documents are an exact copy of another document plus a
    // trailing " dup" token: the near-duplicate families have work to find
    val rd = rng(seed, "documents")
    val base = Array.fill(nDocs)(
      Seq.fill(10 + rd.nextInt(90))(Vocab(rd.nextInt(Vocab.size))).mkString(" "))
    val text = base.indices.map { i =>
      if (rd.nextInt(20) == 0) base((i + 1 + rd.nextInt(nDocs - 1)) % nDocs) + " dup" else base(i)
    }
    write("documents", st("doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
      "source" -> StringType, "n_chars" -> LongType),
      text.zipWithIndex.map { case (t, i) =>
        Row(i.toLong, t, Langs(rd.nextInt(Langs.size)), s"src${i % 20}", t.length.toLong)
      })
    val rv = rng(seed, "embeddings")
    write("embeddings", st("vec_id" -> LongType, "embedding" -> ArrayType(FloatType),
      "label" -> IntegerType),
      (0 until nVec).map { i =>
        val v = Array.fill(dim)(rv.nextGaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, rv.nextInt(10))
      })
  }

  // ===== CDC traffic =====

  /** One change as the capture source reads it from the `events` table:
    * `event_type` carries the operation (`signup` = INSERT, `error` =
    * DELETE, anything else = UPDATE; see `CdcStream.opOf`).
    */
  final case class Change(eventId: Long, tsMicros: Long, userId: Long,
                          eventType: String, props: String)

  /** Traffic shape. `zipf` = 0 draws keys uniformly, otherwise from a Zipf
    * law with that exponent over `keys` keys. `opMix` = (INSERT, DELETE)
    * shares; the rest are UPDATEs. Payloads nest `nest` objects deep and
    * carry a filler string whose length is drawn from `sizes`
    * (share, minBytes, maxBytes) buckets. `rate` is the open-loop commit
    * rate in changes per second (0 for a backlog).
    */
  final case class Traffic(keys: Int, zipf: Double, opMix: (Double, Double),
                           nest: Int, sizes: Seq[(Double, Int, Int)], rate: Double)

  val TailTraffic = Traffic(keys = 2000, zipf = 0.0, opMix = (0.1, 0.05), nest = 1,
    sizes = Seq((1.0, 8, 24)), rate = 200.0)
  val CatchupTraffic = Traffic(keys = 5000, zipf = 1.1, opMix = (0.1, 0.05), nest = 3,
    sizes = Seq((0.7, 16, 64), (0.25, 256, 1024), (0.05, 2048, 4096)), rate = 0.0)

  private val UpdateTypes = Seq("click", "purchase", "view")

  /** Deterministic change stream: ids from `firstId`, logical timestamps
    * 1 ms apart from `t0Micros` (monotone in id, as the capture source's
    * offset order assumes). UPDATEs rewrite one leaf of the key's last
    * payload, so merge patches stay small and realistic.
    */
  final class Changes(seed: Long, t: Traffic, firstId: Long, t0Micros: Long) {
    private val r = rng(seed, "cdc")
    private val cdf: Array[Double] =
      if (t.zipf <= 0) null
      else {
        val w = Array.tabulate(t.keys)(i => 1.0 / math.pow(i + 1, t.zipf))
        val s = w.sum
        w.scanLeft(0.0)(_ + _ / s).tail
      }
    private val last = new java.util.HashMap[Long, Array[String]]()
    private var id = firstId

    private def key(): Long =
      if (cdf == null) r.nextInt(t.keys).toLong
      else {
        val u = r.nextDouble()
        val i = java.util.Arrays.binarySearch(cdf, u)
        math.min(t.keys - 1, if (i >= 0) i else -i - 1).toLong
      }
    /** (cumulative share, (share, minBytes, maxBytes)) per size bucket */
    private val buckets = t.sizes.scanLeft(0.0)(_ + _._1).tail.zip(t.sizes)
    private def filler(): String = {
      val u = r.nextDouble()
      val (_, (_, lo, hi)) = buckets.find(_._1 >= u).getOrElse(buckets.last)
      val len = lo + r.nextInt(hi - lo + 1)
      val sb = new java.lang.StringBuilder(len)
      var i = 0
      while (i < len) { sb.append(('a' + r.nextInt(26)).toChar); i += 1 }
      sb.toString
    }
    /** leaves: k, then one string per nesting level */
    private def render(leaves: Array[String]): String = {
      val sb = new java.lang.StringBuilder()
      sb.append("{\"k\":").append(leaves(0))
      var d = 1
      while (d < leaves.length) {
        sb.append(",\"l").append(d).append("\":{\"s\":\"").append(leaves(d)).append('"'); d += 1
      }
      d = 1
      while (d < leaves.length) { sb.append('}'); d += 1 }
      sb.append('}').toString
    }

    def next(): Change = {
      val u = key()
      val x = r.nextDouble()
      val (ins, del) = t.opMix
      val prev = last.get(u)
      val eventType =
        if (x < ins || prev == null) "signup"
        else if (x < ins + del) "error"
        else UpdateTypes(r.nextInt(UpdateTypes.size))
      val leaves =
        if (eventType == "signup") Array.tabulate(1 + t.nest)(d =>
          if (d == 0) r.nextInt(1000).toString else filler())
        else if (eventType == "error") prev
        else {
          val l = prev.clone()
          val d = r.nextInt(l.length)
          l(d) = if (d == 0) r.nextInt(1000).toString else filler()
          l
        }
      if (eventType == "error") last.remove(u) else last.put(u, leaves)
      val c = Change(id, t0Micros + (id - firstId) * 1000L, u, eventType, render(leaves))
      id += 1
      c
    }
  }

  /** SHA-256 over the first `n` changes of a stream: the generator's
    * same-seed-same-bytes self-check.
    */
  def digest(seed: Long, t: Traffic, n: Int): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val g = new Changes(seed, t, 0L, 0L)
    (0 until n).foreach { _ =>
      val c = g.next()
      md.update(s"${c.eventId}\t${c.tsMicros}\t${c.userId}\t${c.eventType}\t${c.props}\n"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  def selfCheck(seed: Long, t: Traffic): Unit = {
    val a = digest(seed, t, 2000)
    require(a == digest(seed, t, 2000), "traffic generator is not deterministic for one seed")
    require(a != digest(seed + 1, t, 2000), "traffic generator ignores its seed")
  }

  def timestamp(micros: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(micros, 1000L))
    t.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
    t
  }
}
