package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for all Spark-backed suites: the session every
  * main runs ([[Harness.session]] on [[Graft.sessionBuilder]]), on 4 cores.
  */
object TestSpark {
  lazy val spark: SparkSession = Harness.session(cpus = 4)

  /** Run `body` with codegen forced (no interpreter fallback), restoring the
    * PRIOR conf values afterwards — the session is shared JVM-wide, so
    * restoring hard-coded defaults would clobber other suites' settings.
    */
  def withCodegenOnly[T](body: => T): T = {
    val fm = spark.conf.get("spark.sql.codegen.factoryMode")
    val fb = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try body finally {
      spark.conf.set("spark.sql.codegen.factoryMode", fm)
      spark.conf.set("spark.sql.codegen.fallback", fb)
    }
  }
}

trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  /** An ANN serve's rows as (query_id, vec_id, cos_sim). */
  def serveRows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

  /** Per-query isolation of [[graft.ops.Similarity.serve]]: the batched
    * serve of `qids` restricted to each q equals the serve of q alone (a
    * full top-10). Serve rows carry no order guarantee — the SET is the
    * contract.
    */
  def assertPerQueryIsolation(layout: graft.ops.Similarity.Layout, qids: Seq[Long]): Unit = {
    val batch = serveRows(graft.ops.Similarity.serve(spark, sf, layout, qids)).groupBy(_._1)
    qids.foreach { q =>
      val single = serveRows(graft.ops.Similarity.serve(spark, sf, layout, Seq(q)))
      assert(single.size == 10 && batch(q).toSet == single.toSet,
        s"$layout: the batched serve for query $q diverged from its batch of one")
    }
  }
}
