package graft

import graft.ops.{Dedup, Multimodal, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Engine-side scale parity for the CC-closure query family — the five
  * queries whose DuckDB oracle is a recursive-CTE transitive closure that
  * OOMs on the x10+ blowup corpora (BASELINE.md r9), leaving the x10 sweep
  * with rows-only checks. This closes that gap WITHOUT the oracle: each
  * query is recomputed end to end over an INDEPENDENT closure
  * ([[graft.ops.Dedup.connectedComponentsByPropagation]] — diameter-bound
  * min-label propagation, sharing no recurrence or convergence argument
  * with the production star-alternation loop, itself pinned against a
  * sequential union-find and the DuckDB CTE at spec/sf scale), and the two
  * result frames are fingerprinted and compared. The fingerprint is
  * label-free-safe because CC labels are CANONICAL (min reachable id):
  * equal closures produce identical frames, so hash equality is frame
  * equality, not a shape coincidence.
  *
  * Fingerprint: xxhash64 over the name-sorted stringified columns per row,
  * summed in decimal(38,0) (order-independent — no driver-side sort or
  * collect of the result), plus the exact row count. Fully distributed;
  * scales exactly as far as the queries themselves.
  *
  * Usage: runMain graft.CcParity [scaleDir] — one JSON line per query with
  * rows, both fingerprints, and match; exit 1 on any mismatch. The x10
  * sweep (tools/x10_sweep.sh) folds these lines into X10_PARITY as the
  * engine-hash section, so the artifact carries 183/183 checked.
  */
object CcParity {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft_scale/x10")
    val spark = Harness.session()
    import spark.implicits._

    def fingerprint(df: DataFrame): (Long, java.math.BigDecimal) = {
      val cols = df.columns.sorted.toSeq
        .map(n => coalesce(col(n).cast("string"), lit("\u0000")))
      val r = df.select(xxhash64(cols: _*).cast("decimal(38,0)").as("h"))
        .agg(count(lit(1)), sum(col("h"))).first()
      (r.getLong(0),
        if (r.isNullAt(1)) java.math.BigDecimal.ZERO else r.getDecimal(1))
    }

    val prop: DataFrame => DataFrame =
      Dedup.connectedComponentsByPropagation(_)

    // each twin rebuilds the SAME candidate graph and downstream transform,
    // swapping only the closure — so a mismatch isolates the closure, and a
    // match verifies exactly the piece the oracle cannot
    val cases: Seq[(String, () => DataFrame, () => DataFrame)] = Seq(
      ("ops_dedup_cc",
        () => SparkEntry.queries("ops_dedup_cc")(spark, dir),
        () => prop(Dedup.minhashCandidates(spark, dir))
          .select(col("doc_id"), col("comp"))),
      ("ops_dedup_keep_best",
        () => SparkEntry.queries("ops_dedup_keep_best")(spark, dir),
        () => Dedup.dedupKeepBestWith(spark, dir, prop)),
      ("ops_embed_cluster",
        () => SparkEntry.queries("ops_embed_cluster")(spark, dir),
        () => prop(Similarity.nearDupPairs(spark, dir)
            .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
          .select(col("doc_id").as("vec_id"), col("comp"))),
      ("ops_phash_cc",
        () => SparkEntry.queries("ops_phash_cc")(spark, dir),
        () => prop(Multimodal.imagePhashPairs(spark, dir)
            .select(col("doc_a"), col("doc_b")))
          .select(col("doc_id"), col("comp"))),
      ("ops_cc_audit",
        () => SparkEntry.queries("ops_cc_audit")(spark, dir),
        () => {
          val pairs = Multimodal.imagePhashPairs(spark, dir)
            .select(col("doc_a"), col("doc_b")).localCheckpoint()
          val cc = prop(pairs).localCheckpoint()
          val a = Dedup.auditComponents(pairs, cc)
          Seq((a("vertices"), a("components"),
            a("dup_labels") + a("unlabeled") + a("edge_inconsistent") +
              a("non_min_root") + a("star_min_violation") +
              a("spurious_labels") + a("count_identity_violation")))
            .toDF("vertices", "components", "violations")
        }))

    var fails = 0
    cases.foreach { case (name, prodF, twinF) =>
      val t0 = System.nanoTime()
      val p = fingerprint(prodF())
      val t = fingerprint(twinF())
      val ok = p == t
      if (!ok) fails += 1
      val sec = (System.nanoTime() - t0) / 1e9
      Harness.emit("cc_parity", "query" -> name, "dir" -> dir, "rows" -> p._1,
        "fp" -> p._2.toString, "twin_rows" -> t._1, "twin_fp" -> t._2.toString,
        "match" -> ok, "sec" -> sec)
    }
    spark.stop()
    if (fails > 0) sys.exit(1)
  }
}
