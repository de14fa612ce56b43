package graft.functions

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.expressions.Aggregator

/**
 * Per-group top-k as a PARTIAL-AGGREGATING bounded buffer — the scale
 * alternative to the `row_number() OVER (PARTITION BY g ORDER BY s)`
 * pattern: a window sorts EVERY row of every group after shuffling them
 * all; this aggregator keeps at most k (score, id) pairs per group per
 * partition map-side, so the shuffle carries ≤ k rows per group per
 * partition and nothing is ever globally sorted. Same result set when
 * the ORDER BY matches this operator's total order: score DESC, id ASC
 * (the id tie-break makes the answer deterministic, which a bare
 * `ORDER BY score` window never is).
 *
 * Buffer: a sorted array (binary-insert like [[KmvSketchAgg]]); once
 * saturated, each row costs one comparison against the current k-th
 * entry. `merge` is a sorted merge + truncate. NULL scores/ids are
 * ignored, matching builtin aggregates.
 */
class TopKAgg(k: Int)
    extends Aggregator[(java.lang.Double, java.lang.Long), Array[(Double, Long)], Array[(Double, Long)]] {
  require(k >= 1, s"k must be >= 1, got $k")

  import TopKAgg.beats

  override def zero: Array[(Double, Long)] = Array.empty

  override def reduce(b: Array[(Double, Long)],
                      in: (java.lang.Double, java.lang.Long)): Array[(Double, Long)] = {
    if (in._1 == null || in._2 == null) return b
    val s = TopKAgg.sortKey(in._1.doubleValue())
    val id = in._2.longValue()
    val n = b.length
    if (n == k && !beats(s, id, b(n - 1)._1, b(n - 1)._2)) return b
    var lo = 0
    var hi = n
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (beats(b(mid)._1, b(mid)._2, s, id)) lo = mid + 1 else hi = mid
    }
    val out = new Array[(Double, Long)](math.min(n + 1, k))
    System.arraycopy(b, 0, out, 0, math.min(lo, out.length))
    if (lo < out.length) {
      out(lo) = (s, id)
      System.arraycopy(b, lo, out, lo + 1, out.length - lo - 1)
    }
    out
  }

  override def merge(a: Array[(Double, Long)], b: Array[(Double, Long)]): Array[(Double, Long)] = {
    if (a.isEmpty) return b
    if (b.isEmpty) return a
    val out = new Array[(Double, Long)](math.min(a.length + b.length, k))
    var i = 0; var j = 0; var o = 0
    while (o < out.length) {
      out(o) =
        if (j >= b.length) { val x = a(i); i += 1; x }
        else if (i >= a.length) { val x = b(j); j += 1; x }
        else if (beats(a(i)._1, a(i)._2, b(j)._1, b(j)._2)) { val x = a(i); i += 1; x }
        else { val x = b(j); j += 1; x }
      o += 1
    }
    out
  }

  override def finish(b: Array[(Double, Long)]): Array[(Double, Long)] = b

  override def bufferEncoder: Encoder[Array[(Double, Long)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[(Double, Long)]]()
  override def outputEncoder: Encoder[Array[(Double, Long)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[(Double, Long)]]()
}

object TopKAgg {
  /** The (score DESC, id ASC) total order: (s1, i1) ⇔ "ranks higher".
    * Double.compare gives Spark's sort semantics at the edges (NaN above
    * every value — `ORDER BY score DESC` puts NaN first); scores enter
    * through [[sortKey]], so the buffer invariant holds for ALL doubles
    * and the window-form equivalence survives NaN/-0.0 inputs. Shared
    * with [[graft.operators.FusedTopK]]'s primitive buffers: one tie
    * discipline for every bounded top-k. */
  def beats(s1: Double, i1: Long, s2: Double, i2: Long): Boolean = {
    val c = java.lang.Double.compare(s1, s2)
    c > 0 || (c == 0 && i1 < i2)
  }

  /** -0.0 → 0.0, as Spark's sort-key normalization treats it. */
  def sortKey(s: Double): Double = if (s == 0.0) 0.0 else s

  /** Column form: `top_k(score, id, k)` → array<struct<_1: score,
    * _2: id>> ranked by (score DESC, id ASC), length ≤ k. */
  def top_k(score: Column, id: Column, k: Int): Column =
    org.apache.spark.sql.functions.udaf(new TopKAgg(k)).apply(score, id)
}
