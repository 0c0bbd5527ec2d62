package graft

import scala.collection.mutable.ArrayBuffer

import graft.ops.{Dedup, Similarity}
import org.apache.spark.sql.functions._

/** Skew bounds for the fuzzy-dedup candidate generators: a cluster of c
  * identical documents must NOT emit O(c^2) candidate pairs — that is the
  * 100 TB straggler (one viral boilerplate page = one job-killing bucket).
  * Each test feeds 1000 identical inputs and asserts the bounded shape.
  */
class DedupBoundsSpec extends SparkSuite {

  private val text = "the quick brown fox jumps over the lazy dog again and again"

  private def identicalDocs(n: Int) = {
    import spark.implicits._
    (0L until n.toLong).map(i => (i, text)).toDF("doc_id", "text")
  }

  test("minhash candidates: 1000 identical docs emit a star, not all pairs") {
    val docs = identicalDocs(1000)
    val n = Dedup.minhashCandidatesDf(docs, bucketCap = 100).count()
    // star per bucket, distinct across bands: hub (doc 0) paired with each
    // other member once = 999 pairs, not C(1000,2) = 499500
    assert(n == 999L, s"expected 999 star pairs, got $n")
  }

  test("minhash candidates: below the cap, all pairs are emitted") {
    val docs = identicalDocs(20)
    val n = Dedup.minhashCandidatesDf(docs, bucketCap = 100).count()
    assert(n == 190L, s"expected C(20,2)=190 pairs, got $n")
  }

  test("connected components: chains close transitively, clusters stay disjoint") {
    import spark.implicits._
    // chain 1-2-3-4 (A~B~C~D with no direct A~D pair), disjoint pair 10-11,
    // and a capped-bucket star 20-{21,22,23}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (20L, 22L), (20L, 23L)).toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L),
      s"got $got")
  }

  test("connected components: 1000-node chain converges in ~log n rounds, not diameter") {
    import spark.implicits._
    // worst case for label propagation: a pure chain 0-1-2-...-999 has
    // diameter 999, so diameter-bound propagation needs ~1000 rounds. The
    // large-star/small-star alternation must close it in ~log2(1000) ≈ 10.
    // finishEdges = 0 keeps the one-task finish out, so the distributed
    // rounds run to their fixpoint
    val chain = (0L until 999L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val (labels, rounds) =
      Dedup.connectedComponentsWithRounds(chain, maxIter = 15, finishEdges = 0L)
    assert(rounds <= 12, s"chain should converge in ~log n rounds, took $rounds")
    val got = labels.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == 1000 && got.forall(_._2 == 0L),
      s"all 1000 chain nodes must label to node 0; got ${got.filter(_._2 != 0L).take(5).toSeq}")
  }

  test("connected components: 1000-doc identical cluster collapses to ONE canonical doc") {
    // end to end with the capped candidate generator: the star fallback must
    // still leave the whole cluster connected, so CC collapses it to doc 0
    val docs = identicalDocs(1000)
    val comps = Dedup.connectedComponents(
      Dedup.minhashCandidatesDf(docs, bucketCap = 100))
    assert(comps.count() == 1000L)
    assert(comps.filter(col("comp") =!= 0L).count() == 0L,
      "every member must label to the hub doc 0")
  }

  test("cc audit: invariants all-zero on the real phash graph AND agree with union-find") {
    // the oracle-free audit that verifies the closure at corpus scales the
    // DuckDB recursive CTE cannot reach (CcAudit runs it at x100); here it
    // is cross-checked against a sequential union-find at spec scale, so
    // the audit itself is known-sound before being trusted alone at x100
    val pairs = graft.ops.Multimodal.imagePhashPairs(spark, sf)
      .select(col("doc_a"), col("doc_b")).localCheckpoint()
    assert(pairs.count() > 0, "fixture produced no phash pairs")
    val cc = Dedup.connectedComponents(pairs).localCheckpoint()
    val audit = Dedup.auditComponents(pairs, cc)
    val violations = audit.view.filterKeys(k =>
      k != "vertices" && k != "components").toMap.filter(_._2 != 0L)
    assert(violations.isEmpty, s"audit violations: $violations")
    assert(Dedup.ccIdempotenceDiff(cc) == 0L, "closure is not a fixpoint")
    // independent ground truth: driver-side union-find over the same edges
    val es = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    es.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // canonicalize to min-member labels
    val truth = parent.keys.map(v => v -> find(v)).toMap
    val got = cc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == truth,
      s"closure diverged from union-find on ${(got.toSet -- truth.toSet).take(5)}")
  }

  test("propagation closure (the CcParity reference twin) agrees with star alternation everywhere it is trusted") {
    import spark.implicits._
    // the independent diameter-bound closure must reproduce the production
    // star-alternation labels exactly — on the adversarial fixture (chain,
    // disjoint pair, star) and on the real phash near-dup graph — before
    // CcParity is allowed to stand in for the DuckDB oracle at x10
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (20L, 22L), (20L, 23L)).toDF("doc_a", "doc_b")
    val prop = Dedup.connectedComponentsByPropagation(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(prop == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L),
      s"got $prop")
    val real = graft.ops.Multimodal.imagePhashPairs(spark, sf)
      .select(col("doc_a"), col("doc_b")).localCheckpoint()
    val star = Dedup.connectedComponents(real)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val prop2 = Dedup.connectedComponentsByPropagation(real)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star == prop2, "the two closures diverged on the real graph: " +
      s"${(star.toSet -- prop2.toSet).take(5)} vs ${(prop2.toSet -- star.toSet).take(5)}")
    // and the downstream twin CcParity actually runs: keep-best collapse
    // over either closure is the same frame
    val a = Dedup.dedupKeepBest(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val b = Dedup.dedupKeepBestWith(spark, sf,
        Dedup.connectedComponentsByPropagation(_)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(a == b, s"keep-best twin diverged: ${(a -- b).take(3)} vs ${(b -- a).take(3)}")
  }

  test("cc audit: catches an omitted component, spurious labels, and unlabeled neighbors") {
    // the audit's adversarial cases: a labeling that silently DROPS an
    // entire component (the x100 failure mode the oracle can't check) must
    // NOT pass all-zero, and label rows for vertices no edge touches must
    // surface too. Graph: component {1,2} and component {10,11,12}.
    import spark.implicits._
    val pairs = Seq((1L, 2L), (10L, 11L), (11L, 12L)).toDF("doc_a", "doc_b")
    // case 1 — component {10,11,12} entirely missing from the labels
    val dropped = Seq((1L, 1L), (2L, 1L)).toDF("doc_id", "comp")
    val a1 = Dedup.auditComponents(pairs, dropped)
    assert(a1("unlabeled") == 3L, s"expected 3 unlabeled vertices, got $a1")
    assert(a1("edge_inconsistent") == 3L,
      s"edges into the dropped component must flag, got $a1")
    // case 2 — labels for vertices that are not in the graph at all
    val extra = Seq((1L, 1L), (2L, 1L), (10L, 10L), (11L, 10L), (12L, 10L),
      (99L, 99L), (100L, 99L)).toDF("doc_id", "comp")
    val a2 = Dedup.auditComponents(pairs, extra)
    assert(a2("spurious_labels") == 2L, s"expected 2 spurious labels, got $a2")
    assert(a2("unlabeled") == 0L && a2("edge_inconsistent") == 0L, s"got $a2")
    // case 3 — one endpoint of an edge unlabeled: both the unlabeled vertex
    // and its labeled neighbor (whose incident edge is broken) must flag
    val partial = Seq((1L, 1L), (2L, 1L), (10L, 10L), (11L, 10L))
      .toDF("doc_id", "comp")
    val a3 = Dedup.auditComponents(pairs, partial)
    assert(a3("unlabeled") == 1L && a3("edge_inconsistent") == 2L, s"got $a3")
    // and the true labeling still passes all-zero
    val good = Seq((1L, 1L), (2L, 1L), (10L, 10L), (11L, 10L), (12L, 10L))
      .toDF("doc_id", "comp")
    val a4 = Dedup.auditComponents(pairs, good)
    val viol = a4.view.filterKeys(k => k != "vertices" && k != "components")
      .toMap.filter(_._2 != 0L)
    assert(viol.isEmpty, s"true labeling flagged: $viol")
  }

  test("ngram jaccard: stop-shingles beyond the df cap are cut from the index") {
    val docs = identicalDocs(1000)
    // every shingle appears in all 1000 docs > cap -> whole index cut -> 0 pairs
    val n = Dedup.ngramJaccardDf(docs, dfCap = 100).count()
    assert(n == 0L, s"expected df cut to drop all postings, got $n pairs")
    // with the cap above the cluster size the exact pairs come back
    val m = Dedup.ngramJaccardDf(identicalDocs(20), dfCap = 100).count()
    assert(m == 190L, s"expected C(20,2)=190 exact pairs, got $m")
  }

  test("substring dup: interval-union coverage over cross-doc and within-doc repeats") {
    import spark.implicits._
    // A and B share the 7-token run X1..X7 (3 dup 5-windows each, union = 7
    // tokens); C repeats Y1..Y5 within itself (2 dup windows, disjoint
    // intervals, union = 10); D is all-unique and must be absent. Every
    // non-run token is globally unique so no window straddling a run edge
    // can collide.
    val docs = Seq(
      (1L, "a1 a2 X1 X2 X3 X4 X5 X6 X7 a3 a4"),
      (2L, "b1 X1 X2 X3 X4 X5 X6 X7 b2 b3"),
      (3L, "c1 Y1 Y2 Y3 Y4 Y5 c2 Y1 Y2 Y3 Y4 Y5 c3"),
      (4L, "d1 d2 d3 d4 d5 d6 d7 d8")).toDF("doc_id", "text")
    val got = Dedup.substringDupDf(docs, w = 5)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap
    assert(got == Map(
      1L -> ((11L, 3L, 7L, 0.636364)),
      2L -> ((10L, 3L, 7L, 0.7)),
      3L -> ((13L, 2L, 10L, 0.769231))), s"got $got")
  }

  test("pagerank: integer power iteration is exact and mass-conserving") {
    import spark.implicits._
    // path 1-2-3, one round, T = 1e12: center gets 0.15T + 0.85*(T+T) and
    // each leaf 0.15T + 0.85*(T/2) — hand-computed with the same floor ops
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    def runPr(iters: Int, mass: Long = 1000000000000L) =
      Dedup.pagerankDf(pairs, iters, mass)
        .collect()
        .map(r => r.getLong(0) -> r.getDecimal(1).longValueExact()).toMap
    val one = runPr(1)
    assert(one == Map(1L -> 575000000000L, 2L -> 1850000000000L, 3L -> 575000000000L),
      s"got $one")
    // total mass conserved exactly (0.15 + 0.85 split has no rounding loss
    // here: every division in this graph is exact)
    assert(one.values.sum == 3000000000000L)
    // more rounds stay deterministic and keep the center on top
    val five = runPr(5)
    assert(five(2L) > five(1L) && five(1L) == five(3L), s"got $five")
  }

  test("pagerank: decimal accumulator is exact past the int64 sum bound") {
    import spark.implicits._
    // 10-spoke star at mass 1e18/node: the hub's round-1 received sum is
    // 10 * 1e18 = 1e19 > Long.MaxValue (9.22e18) — the pre-guard int64
    // accumulator would have thrown ARITHMETIC_OVERFLOW here (ANSI) or
    // silently wrapped (non-ANSI). The decimal(38,0) path is exact:
    //   hub   = 0.15e18 + 17 * (1e19 div 20)  = 8.65e18
    //   spoke = 0.15e18 + 17 * (1e17 div 20)  = 2.35e17
    val mass = 1000000000000000000L
    val star = (1L to 10L).map(i => (0L, i)).toDF("doc_a", "doc_b")
    val got = Dedup.pagerankDf(star, iters = 1, massPerNode = mass)
      .collect()
      .map(r => r.getLong(0) -> r.getDecimal(1)).toMap
    assert(got(0L) == new java.math.BigDecimal(8650000000000000000L), s"hub: ${got(0L)}")
    (1L to 10L).foreach { i =>
      assert(got(i) == new java.math.BigDecimal(235000000000000000L), s"spoke $i: ${got(i)}")
    }
  }

  test("lsh tuning: defaults derive from the target; mis-tuned banding is flagged") {
    import spark.implicits._
    // the derivation reproduces the historical default (16 hashes / 2 rows)
    // from its contract (Jaccard >= 0.5 at >= 85% recall) — and moves with
    // the target: stricter similarity targets earn sharper bands
    assert(Dedup.DefaultRowsPerBand == 2)
    assert(Dedup.tunedRowsPerBand(0.9) == 4)
    assert(Dedup.tunedRowsPerBand(0.98) == 8)
    assert(Dedup.tunedRowsPerBand(0.05) == 1) // nothing clears -> max-recall fallback
    // theory-side flagging needs no corpus: a 4-rows-per-band config claimed
    // for a 0.5 target promises only ~23% at the target decile
    val mistuned = Dedup.flagMistunedBanding(Map.empty, 0.5, rowsPerBand = 4)
    assert(mistuned.nonEmpty && mistuned.head.reason.contains("cannot meet target"))
    assert(Dedup.flagMistunedBanding(Map.empty, 0.5, rowsPerBand = 2).isEmpty)
    // measured-side flagging: the tuned config on a corpus of identical
    // pairs (bucket 10, recall 1000m) fits; the same measurement hung on a
    // config whose theory promises more than the corpus delivered is flagged
    val docs = (0 until 10).flatMap { p =>
      val a = (0 until 24).map(i => s"w${p}_$i").mkString(" ")
      Seq((2L * p, a), (2L * p + 1, a))
    }.toDF("doc_id", "text")
    val measured = Dedup.lshCalibrationDf(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(measured(10L) == 1000L)
    assert(Dedup.flagMistunedBanding(measured, Dedup.DefaultTargetJaccard).isEmpty)
    val broken = measured.updated(10L, 300L) // a hypothetical capped/correlated corpus
    val flags = Dedup.flagMistunedBanding(broken, Dedup.DefaultTargetJaccard)
    assert(flags.exists(f => f.bucket == 10L && f.reason.contains("below theory")), s"$flags")
  }

  test("lsh calibration: identical pairs always recalled; candidates bounded by truth per decile") {
    import spark.implicits._
    // 30 vocabulary-disjoint pairs: 15 identical (jaccard 1.0 -> bucket 10),
    // 15 half-overlapping (10 shared / 34 union shingles -> bucket 2)
    val docs = (0 until 30).flatMap { p =>
      val toks = (0 until 24).map(i => s"w${p}_$i")
      val a = toks.mkString(" ")
      val b = if (p < 15) a
              else (toks.drop(12) ++ (0 until 12).map(i => s"u${p}_$i")).mkString(" ")
      Seq((2L * p, a), (2L * p + 1, b))
    }.toDF("doc_id", "text")
    val out = Dedup.lshCalibrationDf(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // identical sets -> identical signatures -> every band collides: recall MUST be total
    assert(out(10L) == ((15L, 15L, 1000L)), s"bucket 10: ${out.get(10L)}")
    // the half-overlap pairs land in their computed decile; the banding
    // S-curve decides how many surface, but never more than exist
    assert(out.contains(2L), s"mid bucket missing: ${out.keySet}")
    out.foreach { case (b, (np, nc, rm)) =>
      assert(nc <= np && rm >= 0 && rm <= 1000, s"bucket $b: ($np, $nc, $rm)")
    }
  }

  test("incremental dedup: identical batch doc always matches its corpus twin; no corpus self-pairs") {
    import spark.implicits._
    // corpus docs 1..9, batch doc 10 (% 10 == 0) identical to corpus doc 3;
    // distinct vocabularies elsewhere so nothing else can pair
    val docs = ((1 to 9).map { i =>
      (i.toLong, (0 until 20).map(j => s"v${i}_$j").mkString(" "))
    } :+ ((10L, (0 until 20).map(j => s"v3_$j").mkString(" ")))).toDF("doc_id", "text")
    val out = Dedup.incrementalDedupDf(docs).collect()
    assert(out.length == 1, s"expected exactly the planted twin: ${out.mkString(",")}")
    assert(out(0).getLong(0) == 10L && out(0).getLong(1) == 3L)
    assert(out(0).getDouble(2) == 1.0)
  }

  test("edit verify: exact distance inside the band, -1 sentinel beyond it, permille normalized") {
    import spark.implicits._
    // b = a plus a 6-char suffix (inside maxDist=10); c = a plus a long tail
    // (beyond it). All three share a's shingles, so LSH pairs them; the
    // banded-DP threshold form must report b exactly and refuse to pay for c.
    val tail = " padding" * 30
    val docs = Seq((0L, text), (1L, text + " extra"), (2L, text + tail))
      .toDF("doc_id", "text")
    val out = Dedup.editVerifyDf(docs, maxDist = 10)
      .select(col("doc_a"), col("doc_b"), col("edit_dist"), col("dist_permille"))
      .as[(Long, Long, Long, Long)].collect()
      .map { case (a, b, d, p) => ((a, b), (d, p)) }.toMap
    assert(out.contains((0L, 1L)), s"near pair not generated: $out")
    assert(out((0L, 1L)) == ((6L, 6000L / (text.length + 6))),
      s"exact distance/permille wrong: ${out((0L, 1L))}")
    // both over-threshold pairs (0,2) and (1,2) report the -1 sentinel
    for (p <- Seq((0L, 2L), (1L, 2L)) if out.contains(p))
      assert(out(p) == ((-1L, -1L)), s"beyond-band pair must be -1: ${out(p)}")
    assert(out.contains((0L, 2L)) || out.contains((1L, 2L)),
      s"tail doc never paired — fixture no longer collides: $out")
  }

  test("semdedup: hot centroid judges against the capped exemplar set only") {
    import spark.implicits._
    // nlist = 1 forces EVERY vector into one hot cluster — the dead-centroid
    // mass-concentration scenario. cap = 4 bounds the collected exemplar row
    // to ids {0,1,2,3}. Basis vectors e0..e4 for ids 0..4 are mutually
    // orthogonal; ids 9 and 10 are both e5 — an exact dup pair living
    // ENTIRELY beyond the cap. Under the capped semantics 10 must be KEPT
    // (no sub-cap exemplar clears tau), proving the judgment row really is
    // truncated; under the old uncapped collect it would have dropped.
    def basis(k: Int) = Array.tabulate(Similarity.Dim)(d => if (d == k) 1.0 else 0.0)
    val emb = (Seq(0, 1, 2, 3, 4).map(i => (i.toLong, basis(i))) ++
      Seq((9L, basis(5)), (10L, basis(5)))).toDF("vec_id", "v")
    val out = Similarity.semDedupDf(emb, nlist = 1, tau = 0.4, clusterCap = 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(out.keySet == Set(0L, 1L, 2L, 3L, 4L, 9L, 10L))
    assert(out.values.forall(_._1 == 0L), s"all members share the hot cluster: $out")
    // orthogonal members never drop; the beyond-cap dup pair BOTH survive
    // because neither is an exemplar — the bounded-row trade, explicit
    assert(out.forall(_._2._2), s"capped judgment must keep all: $out")
    // ... and with the cap above the cluster size the dup is caught again
    val full = Similarity.semDedupDf(emb, nlist = 1, tau = 0.4, clusterCap = 100)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(!full(10L) && full(9L), s"uncapped-regime semantics must drop the dup: $full")
  }

  /** (collect_list aggregates in the optimized plan, how many of them sit
    * ABOVE a join). The census/count-first shape puts the membership join
    * BELOW every posting/bucket collect, so the collect's input is already
    * cut to the cap — the pre-r8 shape had no join under the aggregate and
    * buffered the degenerate group before its filter could drop it.
    */
  private def collectAggGuards(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    val aggs = df.queryExecution.optimizedPlan.collect {
      case a: Aggregate
        if a.aggregateExpressions.exists(_.toString.toLowerCase.contains("collect_list")) => a
    }
    (aggs.length, aggs.count(_.collectFirst { case j: Join => j }.nonEmpty))
  }

  test("df cut is buffer-bounded: a stop-shingle never aggregates past cap+1") {
    import spark.implicits._
    // the aggregation-level bound, unit-tested directly: reduce and merge
    // both refuse to grow a buffer past cap + 1 elements, so the planted
    // corpus-wide stop-shingle costs cap+1 longs, never O(corpus)
    val agg = new graft.functions.CollectCapped.Agg(3)
    val b = (0L until 100L).foldLeft(agg.zero)(agg.reduce)
    assert(b.length == 4, s"reduce must stop at cap+1, got ${b.length}")
    val m = agg.merge(
      (0L until 100L).foldLeft(agg.zero)(agg.reduce),
      (0L until 100L).foldLeft(agg.zero)(agg.reduce))
    assert(m.length == 4, s"merge must stop at cap+1, got ${m.length}")
    // within the cap nothing truncates: content equals a full collect
    val small = Seq(5L, 1L, 3L).foldLeft(agg.zero)(agg.reduce)
    assert(small.sorted == ArrayBuffer(1L, 3L, 5L))

    // end to end: 12 docs share vocabulary A (every A-shingle has df 12 >
    // cap -> the whole A index is cut), 5 docs share vocabulary B (df 5 <=
    // cap -> kept with exact pairs)
    val docs = ((0 until 12).map(i => (i.toLong, "a0 a1 a2 a3 a4")) ++
      (0 until 5).map(i => (100L + i, "b0 b1 b2 b3 b4"))).toDF("doc_id", "text")
    val out = Dedup.ngramJaccardDf(docs, threshold = 0.05, dfCap = 10)
    val pairs = out.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.length == 10 && pairs.forall { case (a, b) => a >= 100L && b >= 100L },
      s"expected only the C(5,2)=10 in-cap B pairs, got ${pairs.toSeq}")
    // containment + calibration share cappedPostings — same cut, same result
    assert(Dedup.containmentDf(docs, dfCap = 10).collect()
      .forall(r => r.getLong(0) >= 100L && r.getLong(1) >= 100L))
    val calib = Dedup.lshCalibrationDf(docs, dfCap = 10).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // ground truth sees only the B cluster: one decile bucket of 10 pairs
    assert(calib.getOrElse(10L, 0L) == 10L, s"calib truth pairs: $calib")
  }

  test("band buckets are census-first: a 100k-member degenerate bucket never collects") {
    // the full viral-boilerplate scenario: every doc identical, so ONE bucket
    // per band holds all 100k members. The census (count+min partial agg)
    // routes the bucket to the star branch; the collect branch's input is
    // filtered to c <= cap BEFORE the aggregate, so no task ever buffers an
    // O(100k) ids row. Output is still the connectivity-preserving star.
    val docs = identicalDocs(100000)
    val out = Dedup.minhashCandidatesDf(docs, bucketCap = 100)
    val (nAgg, nGuarded) = collectAggGuards(out)
    assert(nAgg >= 1 && nGuarded == nAgg,
      s"every bucket collect must be census-guarded: $nGuarded/$nAgg")
    assert(out.count() == 99999L, "hub star: one pair per non-hub member")
    val (sAgg, sGuarded) = collectAggGuards(Dedup.simhashPairs(spark, sf))
    assert(sAgg >= 1 && sGuarded == sAgg, s"simhash: $sGuarded/$sAgg")
  }

  test("ann lsh: oversized buckets are truncated to the cap before pairing") {
    import spark.implicits._
    val vec = Array.tabulate(Similarity.Dim)(d => (d + 1).toDouble)
    val emb = (0L until 1000L).map(i => (i, vec)).toDF("vec_id", "v")
    val out = Similarity.nearDupPairsDf(emb, threshold = 0.99, bucketCap = 50)
    // one degenerate bucket truncated to its 50 lowest ids -> C(50,2) pairs
    assert(out.count() == 1225L)
    assert(out.agg(max(col("vec_a")), max(col("vec_b"))).as[(Long, Long)].head == ((48L, 49L)))
  }
}
