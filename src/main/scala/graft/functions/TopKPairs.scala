package graft.functions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** Bounded TOP-K aggregation over (sortKey, id) pairs — the per-group heap
  * that makes BATCHED top-k a partial aggregation instead of a shuffle:
  * `groupBy(q).agg(topK(...))` runs map-side heaps of ≤ 2k entries per
  * (partition, group) and ships ONE k-row buffer per group across the
  * exchange, where a window `row_number <= k` would shuffle every input
  * row to its group's partition first (data-sized — the difference between
  * a Q-row exchange and an n×Q-row exchange in the batched-ANN serve,
  * [[graft.ops.Similarity.serve]]).
  *
  * Ordering is lexicographic (key ASC, id ASC) — with an integer sort key
  * (the ADC micro sums) and distinct ids the kept set is DETERMINISTIC
  * under any partitioning or merge order, so oracle parity survives the
  * heap. Buffer discipline: append until 2k then sort+truncate to k —
  * amortized O(log k) per row, hard 2k bound regardless of group size
  * (the CollectCapped lesson: the bound must bind the BUFFER, not the
  * output).
  */
object TopKPairs {

  class Agg(k: Int) extends Aggregator[(Long, Long), ArrayBuffer[(Long, Long)], Seq[Long]] {
    require(k >= 1, s"k must be >= 1, got $k")

    private def compact(b: ArrayBuffer[(Long, Long)]): ArrayBuffer[(Long, Long)] = {
      if (b.length > k) {
        val kept = b.sortInPlace().take(k)
        b.clear(); b ++= kept
      }
      b
    }

    override def zero: ArrayBuffer[(Long, Long)] = ArrayBuffer.empty

    override def reduce(b: ArrayBuffer[(Long, Long)], x: (Long, Long)): ArrayBuffer[(Long, Long)] = {
      b += x
      if (b.length >= 2 * k) compact(b) else b
    }

    override def merge(a: ArrayBuffer[(Long, Long)],
                       b: ArrayBuffer[(Long, Long)]): ArrayBuffer[(Long, Long)] =
      compact(a ++= b)

    /** k smallest (key, id) pairs' ids, in (key, id) ascending order. */
    override def finish(b: ArrayBuffer[(Long, Long)]): Seq[Long] =
      compact(b).sortInPlace().map(_._2).toSeq

    override def bufferEncoder: Encoder[ArrayBuffer[(Long, Long)]] =
      ExpressionEncoder[ArrayBuffer[(Long, Long)]]()
    override def outputEncoder: Encoder[Seq[Long]] =
      ExpressionEncoder[Seq[Long]]()
  }

  /** Column form: `topK(k)(keyCol, idCol)` → array of the k ids with the
    * smallest (key, id).
    */
  def topK(k: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udaf(new Agg(k))
}
