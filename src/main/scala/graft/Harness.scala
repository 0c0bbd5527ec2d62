package graft

import com.fasterxml.jackson.core.JsonGenerator
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** What every `main` in this package shares: one local session on
  * [[Graft.sessionBuilder]] (the session users and the specs get) and one
  * JSON-line emitter for its metric lines.
  *
  * Environment: `SPARK_GRAFT_CPUS` (default 32) sizes the local master and
  * the shuffle partitions; `SPARK_GRAFT_CONF` (comma-separated key=value)
  * layers conf overrides onto the builder, so static confs (codegen cache,
  * state provider) can be varied in a session-conf A/B too.
  */
object Harness {

  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(32)

  /** `local[cpus]` with `cpus` shuffle partitions, UTC, no UI, the
    * `SPARK_GRAFT_CONF` overrides, and WARN logging.
    */
  def session(cpus: Int = cpus): SparkSession = {
    val base = Graft.sessionBuilder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = confEntries(sys.env.getOrElse("SPARK_GRAFT_CONF", ""))
      .foldLeft(base) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Parses a `SPARK_GRAFT_CONF` value: entries split on ',', each split on
    * its FIRST '=' so values may contain '=' (commas inside values are not
    * expressible); empty entries are skipped, an entry without a key is
    * refused.
    */
  def confEntries(spec: String): Seq[(String, String)] =
    spec.split(',').toSeq.filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      require(i > 0, s"SPARK_GRAFT_CONF entry is not key=value: '$kv'")
      kv.take(i) -> kv.drop(i + 1)
    }

  private val mapper = new ObjectMapper()

  /** `value` as compact JSON. Strings are escaped; a `Map` becomes an
    * object in the map's iteration order (use a `SeqMap` to keep insertion
    * order), any other collection an array; numbers keep their type's
    * `toString` form (a `BigDecimal` its scale).
    */
  def json(value: Any): String = {
    val out = new java.io.StringWriter
    val g = mapper.createGenerator(out)
    try write(g, value) finally g.close()
    out.toString
  }

  /** One JSON object line with `fields` in the order given. */
  def line(fields: (String, Any)*): String =
    json(scala.collection.immutable.VectorMap(fields: _*))

  /** Prints one metric line: `{"metric":metric, fields...}`. */
  def emit(metric: String, fields: (String, Any)*): Unit =
    println(line(("metric" -> metric) +: fields: _*))

  private def write(g: JsonGenerator, v: Any): Unit = v match {
    case null          => g.writeNull()
    case s: String     => g.writeString(s)
    case b: Boolean    => g.writeBoolean(b)
    case i: Int        => g.writeNumber(i)
    case l: Long       => g.writeNumber(l)
    case d: Double     => g.writeNumber(d)
    case d: BigDecimal => g.writeNumber(d.bigDecimal)
    case m: scala.collection.Map[_, _] =>
      g.writeStartObject()
      m.foreach { case (k, x) => g.writeFieldName(k.toString); write(g, x) }
      g.writeEndObject()
    case xs: Iterable[_] =>
      g.writeStartArray(); xs.foreach(write(g, _)); g.writeEndArray()
    case other =>
      throw new IllegalArgumentException(s"no JSON form for ${other.getClass.getName}")
  }
}
