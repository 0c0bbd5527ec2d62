package graft

import java.nio.file.{Files, Path, Paths}
import scala.collection.immutable.SeqMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

class HarnessSpec extends SparkSuite {

  test("the shared test session is the harness session: checkpoint manager, extensions, 4 partitions, UTC") {
    assert(spark.conf.get(graft.streaming.LocalCheckpointFileManager.ConfKey) ==
      classOf[graft.streaming.LocalCheckpointFileManager].getName)
    // curr → prev: a key only curr has is deleted (null), a key only prev has is set
    val patched = spark.sql("""SELECT json_merge_patch('{"a":1}', '{"b":2}') AS p""")
      .collect()(0).getString(0)
    assert(patched == """{"a":null,"b":2}""")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.sparkContext.master == "local[4]")
  }

  test("SPARK_GRAFT_CONF: split on the first '=', empty entries skipped, a malformed entry refused") {
    assert(Harness.confEntries("") == Seq.empty)
    assert(Harness.confEntries("spark.a=x=y") == Seq("spark.a" -> "x=y"))
    assert(Harness.confEntries(",spark.a=1,,spark.b=,") == Seq("spark.a" -> "1", "spark.b" -> ""))
    intercept[IllegalArgumentException](Harness.confEntries("spark.a=1,novalue"))
    intercept[IllegalArgumentException](Harness.confEntries("=nokey"))
  }

  private val mapper = new ObjectMapper()

  test("emitter: quote, backslash, tab and U+0001 round-trip through Jackson, key order kept") {
    val nasty = "a\"b\\c\td\u0001e"
    val line = Harness.line("z" -> nasty, "a" -> 1L, "m" -> true, "d" -> 0.25)
    val tree = mapper.readTree(line)
    assert(tree.fieldNames().asScala.toSeq == Seq("z", "a", "m", "d"))
    assert(tree.get("z").asText() == nasty)
    assert(tree.get("a").asLong() == 1L && tree.get("m").asBoolean() && tree.get("d").asDouble() == 0.25)
    assert(!line.contains("\t") && !line.contains("\u0001"), line)

    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(Harness.emit("probe", "dir" -> nasty, "n" -> 3))
    val emitted = mapper.readTree(out.toString("UTF-8").trim)
    assert(emitted.fieldNames().asScala.toSeq == Seq("metric", "dir", "n"))
    assert(emitted.get("metric").asText() == "probe" && emitted.get("dir").asText() == nasty)
  }

  test("emitter: Bench's nested queries/times objects and arrays, with the number form kept") {
    def f3(v: Double): Any =
      if (v < 0) -1 else BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP)
    val line = Harness.line(
      "queries" -> SeqMap("q_b" -> f3(1.5), "q_a" -> f3(-1)),
      "times" -> SeqMap("q_b" -> Seq(1.5, 2.0).map(f3), "q_a" -> Seq(-1.0, 0.1234).map(f3)),
      "metric" -> "total", "value" -> f3(1.5), "unit" -> "sec", "sf" -> "/d/sf0.01",
      "empty" -> Seq.empty)
    assert(line ==
      """{"queries":{"q_b":1.500,"q_a":-1},"times":{"q_b":[1.500,2.000],"q_a":[-1,0.123]},""" +
      """"metric":"total","value":1.500,"unit":"sec","sf":"/d/sf0.01","empty":[]}""")
    assert(Harness.json(Seq("a", "b")) == """["a","b"]""")
    intercept[IllegalArgumentException](Harness.json(new Object))
  }

  /** Every `.scala` file under `src/main/scala` with its path relative to
    * that root, found by walking up from the working directory.
    */
  private def mainSources(): Seq[(String, String)] = {
    val root: Path =
      Iterator.iterate(Paths.get(sys.props("user.dir")).toAbsolutePath)(_.getParent)
        .takeWhile(_ != null).map(_.resolve("src/main/scala"))
        .find(p => Files.isRegularFile(p.resolve("graft/Graft.scala")))
        .getOrElse(fail("src/main/scala not found above the working directory"))
    val files = Files.walk(root)
    try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map(f => (root.relativize(f).toString, Files.readString(f)))
    finally files.close()
  }

  test("guard: the only SparkSession.builder() in src/main is Graft.sessionBuilder's") {
    val hits = mainSources().flatMap { case (path, text) =>
      val lines = text.split("\n", -1).toIndexedSeq
      lines.indices.filter(i => lines(i).contains("SparkSession.builder()")).map { i =>
        val enclosingDef = (i to 0 by -1).map(lines(_).trim).find(_.startsWith("def "))
        (path, enclosingDef.getOrElse(""))
      }
    }
    assert(hits.size == 1 && hits.head._1 == "graft/Graft.scala" &&
      hits.head._2.startsWith("def sessionBuilder()"),
      s"SparkSession.builder() outside Graft.sessionBuilder(): ${hits.mkString(", ")}")
  }

  test("guard: transformWithState and StatefulProcessor subclasses only in streaming/CdcStream.scala") {
    // the prev-image path keeps transformWithState for its erasure
    // receipts; every other keyed store runs on classic state
    val twsApi = """\.transformWithState\s*\(|(extends|with)\s+[\w.]*StatefulProcessor""".r
    val hits = mainSources().collect {
      case (path, text) if twsApi.findFirstIn(text).isDefined => path
    }
    assert(hits == Seq("graft/streaming/CdcStream.scala"),
      s"transformWithState API used outside CdcStream: ${hits.mkString(", ")}")
  }
}
