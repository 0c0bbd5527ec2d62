package graft

import scala.util.control.NonFatal
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}

/** Whole-inventory plan audit: one JSON line per declared query with the
  * plan facts the 100 TB review cares about — shuffle-exchange count, scan
  * count, broadcast count, cartesian/nested-loop presence, top-k heap and
  * partial-aggregation markers. `PlanSpec` pins specific shapes as failing
  * tests; this main gives the full-inventory census (run it after adding an
  * operator to see the cost profile at a glance, or diff two audits across a
  * change to catch a plan regression no spec pinned yet).
  *
  * Usage: `sbt "runMain graft.PlanAudit /root/testdata/sf0.001"`.
  * Counts come from the PHYSICAL plan pre-execution (AQE may further
  * coalesce/reuse at runtime — see the ReusedExchange pins in PlanSpec — so
  * these are upper bounds on runtime cost).
  *
  * Reading `cartesian_or_bnlj`: a BroadcastNestedLoopJoin with a ONE-ROW
  * build side is the intentional scalar-subquery shape (`ops_scalar_subquery`,
  * `ops_sim_topk`/`ops_sim_ivf`/`ops_sim_pq`/`ops_sim_pq_trained`
  * query-vector/centroid/codebook rows, `ops_zorder`
  * stats row, `ops_quality_mix` quartile bounds, and the round-5 statistics
  * rows: `ops_bm25` corpus length stats, `ops_ks_test` sample totals,
  * `ops_seasonal` day census, `ops_skipgram_pmi` token total,
  * `ops_q22_idle_rich` balance-stats row, and the round-5 closers:
  * `ops_q11_important_stock` total/count threshold row, `ops_hybrid_rrf`
  * inheriting `ops_sim_topk`'s query-vector row, and the r15 serving
  * family's Q-row query-frame broadcasts: `ops_sim_pq_served`/
  * `ops_sim_pq_batch`/`ops_sim_ivfpq`/`ops_sim_ivfpq_batch`/
  * `ops_sim_recall`, plus the late-r15 `ops_ivf_calib` /
  * `ops_ivf_calib_trained` (the grid of batched serves inherits the
  * same Q-row frames) and `ops_sim_ivfpq_trained` /
  * `ops_sim_ivfpq_trained_batch` (query-frame broadcast against the
  * trained codes scan) — a 1-to-Q-row build side against the codes
  * scan, the batched-ADC shape) — those are
  * the expected hits; anything else flagged here is a regression
  * (`PlanSpec`'s no-CartesianProduct test is the hard gate).
  */
object PlanAudit {
  private def collectAll(p: SparkPlan): Seq[SparkPlan] = {
    // descend into AQE wrappers so exchanges inside adaptive plans count
    val expanded = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other                    => other
    }
    expanded +: expanded.children.flatMap(collectAll)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Harness.session()
    val rows = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      try {
        val nodes = collectAll(fn(spark, sfDir).queryExecution.executedPlan)
        val names = nodes.map(_.nodeName)
        val shuffles = nodes.count(_.isInstanceOf[ShuffleExchangeLike])
        val bcasts = nodes.count(_.isInstanceOf[BroadcastExchangeLike])
        val scans = names.count(_.startsWith("Scan "))
        val cartesian = nodes.exists(n =>
          n.isInstanceOf[CartesianProductExec] || n.isInstanceOf[BroadcastNestedLoopJoinExec])
        val topK = names.contains("TakeOrderedAndProject")
        val partialAgg = nodes.exists(_.toString.contains("partial_"))
        Harness.line("query" -> name, "shuffles" -> shuffles, "scans" -> scans,
          "broadcasts" -> bcasts, "cartesian_or_bnlj" -> cartesian, "topk_heap" -> topK,
          "partial_agg" -> partialAgg)
      } catch {
        case NonFatal(e) => Harness.line("query" -> name, "error" -> e.getClass.getSimpleName)
      }
    }
    rows.foreach(println)
    spark.stop()
  }
}
