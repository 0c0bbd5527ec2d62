package graft

import graft.ops.Dedup
import org.apache.spark.sql.DataFrame
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed

/** The one-task union-find finish of [[Dedup.connectedComponents]] against
  * the distributed large-star/small-star loop forced to its fixpoint
  * (`finishEdges = 0`) and against the independent propagation closure,
  * row for row, at edge thresholds 0, 1, n−1 and n (n = the input's edge
  * rows, so the finish takes over at the first witness, after a round, or
  * never).
  */
class CcFinishSpec extends SparkSuite {
  import spark.implicits._

  private def check(p: Prop, tests: Int): Unit = {
    val r = SCTest.check(SCTest.Parameters.default
      .withInitialSeed(Seed(0x5eedL)).withMinSuccessfulTests(tests), p)
    assert(r.passed, r.status.toString)
  }

  private type Edges = Seq[(Long, Long)]

  /** Chains, stars, self-loops and duplicate/reversed copies over a small
    * id range, so shapes overlap and merge. Chains stay short because the
    * propagation closure pays one round per diameter step; the fixed
    * shapes below carry the long chain.
    */
  private def graphs(maxChain: Int): Gen[Edges] = {
    val id = Gen.choose(0L, 40L)
    val chain = for { start <- id; len <- Gen.choose(1, maxChain) } yield
      (0 until len).map(i => (start + i, start + i + 1))
    val star = for { hub <- id; leaves <- Gen.listOfN(6, id) } yield leaves.map(hub -> _)
    val loop = id.map(v => Seq(v -> v))
    for {
      parts <- Gen.choose(0, 4)
      shapes <- Gen.listOfN(parts, Gen.oneOf(chain, star, loop))
      es = shapes.flatten
      copies <- Gen.someOf(es)
    } yield es ++ copies.map(_.swap) ++ copies
  }

  /** What every closure must emit: one min-id label per vertex appearing
    * in any pair (a vertex whose only edges are self-loops is its own
    * component).
    */
  private def truth(es: Edges): Seq[(Long, Long)] = {
    val adj = es.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    adj.keys.toSeq.map { v =>
      var seen = Set(v); var frontier = Set(v)
      while (frontier.nonEmpty) {
        frontier = frontier.flatMap(adj).diff(seen); seen ++= frontier
      }
      v -> seen.min
    }.sorted
  }

  private def rows(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  test("union-find kernel == a reachability closure on any edge list") {
    val kernel = Prop.forAll(graphs(maxChain = 40)) { es =>
      val got = Dedup.unionFindLabels(es.iterator).toSeq.sorted
      got == truth(es)
    }
    check(kernel, 300)
    assert(Dedup.unionFindLabels(Iterator.empty).isEmpty)
  }

  test("one-task finish == forced loop == propagation, row for row, at thresholds 0/1/n-1/n") {
    val closures = Prop.forAll(graphs(maxChain = 5)) { es =>
      val pairs = es.toDF("doc_a", "doc_b")
      val (looped, loopRounds) = Dedup.connectedComponentsWithRounds(pairs, finishEdges = 0L)
      val want = truth(es)
      val n = es.size.toLong
      val finishes = Seq(1L, n - 1, n).map { t =>
        val (labels, rounds) = Dedup.connectedComponentsWithRounds(pairs, finishEdges = t)
        assert(labels.schema == looped.schema, s"threshold $t changed the label schema")
        assert(rounds <= loopRounds)
        if (t >= n) assert(rounds == 0, "an edge set that fits must not run a round")
        rows(labels)
      }
      val prop = rows(Dedup.connectedComponentsByPropagation(pairs))
      (rows(looped) +: prop +: finishes).forall(_ == want)
    }
    check(closures, 3)
  }

  test("fixed shapes: empty, self-loops only, duplicates, a long chain, a star") {
    val shapes: Seq[Edges] = Seq(
      Seq.empty,
      Seq(3L -> 3L, 5L -> 5L),
      Seq(3L -> 3L, 5L -> 5L, 5L -> 5L, 6L -> 9L, 9L -> 9L),
      Seq(1L -> 2L, 2L -> 1L, 1L -> 2L, 2L -> 2L, 7L -> 8L),
      (1L to 50L).map(i => (i * 3, 0L)))
    shapes.foreach { es =>
      val pairs = es.toDF("doc_a", "doc_b")
      assert(rows(Dedup.connectedComponents(pairs)) == truth(es), s"finish on ${es.take(4)}")
      assert(rows(Dedup.connectedComponentsWithRounds(pairs, finishEdges = 0L)._1) == truth(es),
        s"loop on ${es.take(4)}")
    }
    // a reversed 200-chain closes in the finish alone (DedupBoundsSpec pins
    // the loop's rounds on a 1000-chain)
    val chain = (0L until 200L).map(i => (i + 1, i))
    val (labels, rounds) = Dedup.connectedComponentsWithRounds(chain.toDF("doc_a", "doc_b"))
    assert(rounds == 0 && rows(labels) == truth(chain))
  }

  test("int ids keep the loop's int label schema through the finish") {
    val pairs = Seq((1, 2), (2, 3), (9, 8)).toDF("doc_a", "doc_b")
    val finished = Dedup.connectedComponents(pairs)
    val looped = Dedup.connectedComponentsWithRounds(pairs, finishEdges = 0L)._1
    assert(finished.schema == looped.schema)
    assert(finished.collect().map(r => (r.getInt(0), r.getInt(1))).toSet ==
      Set((1, 1), (2, 1), (3, 1), (8, 8), (9, 8)))
  }
}
