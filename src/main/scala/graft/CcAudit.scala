package graft

import org.apache.spark.sql.functions.col

/** Scale-corpus CC verification — the engine-side answer to the x100
  * oracle gap (BASELINE.md r8: DuckDB's recursive-CTE closure OOM'd at
  * 32 GiB on the x100 phash graph, so `ops_phash_cc` had no independent
  * check past x10). Runs the image near-dup closure on a scaled dir and
  * audits it with [[graft.ops.Dedup.auditComponents]] (distributed,
  * oracle-free invariants: edge consistency = no under-merge, canonical
  * min roots, star-min fixpoint, count identity) plus the
  * [[graft.ops.Dedup.ccIdempotenceDiff]] re-run pin. All-zero violations
  * on the full x100 graph = the closure is correct AT the scale the
  * oracle couldn't reach.
  *
  * Usage: runMain graft.CcAudit [scaledDir]   (default /tmp/graft_scale/x100)
  * One JSON line; every *_violation / unlabeled / inconsistent field must
  * be 0 and idempotence_diff must be 0.
  */
object CcAudit {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft_scale/x100")
    val spark = Harness.session()

    val t0 = System.nanoTime()
    // one decode pass: the pair graph feeds the closure AND every audit
    // join, so pin it (localCheckpoint materializes through the codec once)
    val pairs = graft.ops.Multimodal.imagePhashPairs(spark, dir)
      .select(col("doc_a"), col("doc_b")).localCheckpoint()
    val cc = graft.ops.Dedup.connectedComponents(pairs).localCheckpoint()
    val audit = graft.ops.Dedup.auditComponents(pairs, cc)
    val idem = graft.ops.Dedup.ccIdempotenceDiff(cc)
    val sec = (System.nanoTime() - t0) / 1e9
    Harness.emit("cc_audit", Seq[(String, Any)]("dir" -> dir, "edges" -> pairs.count()) ++
      audit.toSeq.sortBy(_._1) ++ Seq("idempotence_diff" -> idem, "sec" -> sec): _*)
    spark.stop()
  }
}
