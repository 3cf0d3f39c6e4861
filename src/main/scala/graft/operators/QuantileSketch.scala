package graft.operators

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Mergeable quantile sketch as a typed `Aggregator` — the
  * bounded-memory answer to "p50/p99 of a column over 100 TB" when an
  * exact per-group quantile would sort a whole group in one task (the
  * q39 window hazard, see SCALE.md). Design follows Dunning's MERGING
  * t-digest (Dunning & Ertl, "Computing extremely accurate quantiles
  * using t-digests", 2019): the summary is a value-sorted list of
  * (mean, weight) centroids, and a centroid may absorb its neighbor
  * only while its span under the scale function
  * k1(q) = (c/2π)·asin(2q−1) stays ≤ 1 — k1 is steep at the tails, so
  * centroids stay tiny there and tail quantiles stay sharp. Reference
  * analog: MailLogSentinel has no sketch family at all (its reports
  * are exact counts, report.py); this is part of the beyond-reference
  * scale surface alongside q35/q65.
  *
  * Guarantees (mirrors the HeavyHitters exact-regime trick that lets a
  * sketch carry a DuckDB oracle):
  *
  *  - a compress emits at most `compression + 1` centroids (adjacent
  *    output pairs each span k > 1 over a total k-range of c/2), and
  *    partial aggregation compresses map-side, so only bounded buffers
  *    cross the exchange;
  *  - when `compression ≥ 2·n` no two singletons ever merge: the merge
  *    of two weight-1 centroids spans Δq = 2/n, and k1's slope is at
  *    least c/π (its minimum, at q=½), so Δk ≥ 2c/(πn) ≥ 4/π > 1. The
  *    sketch then degenerates to the exact sorted multiset and
  *    quantile extraction is EXACT and partitioning-invariant — which
  *    is what lets q67 hash-match DuckDB;
  *  - in the approximate regime the result depends on merge order (as
  *    every t-digest does), but the rank error stays O(q·(1−q)/c);
  *    QuantileSketchSpec pins an empirical 2% rank bound at c=100.
  *
  * Quantile extraction is DISCRETE lower-rank (the q39 convention):
  * target rank r = ⌊q·(W−1)⌋+1, return the mean of the first centroid
  * whose cumulative weight reaches r. In the exact regime that is
  * precisely the sorted element at rank r, so the oracle is a
  * ROW_NUMBER filter; in the approximate regime it is the centroid
  * mean covering that rank.
  */
object QuantileSketch {

  /** Value-sorted (mean, weight) centroids; a trailing unsorted run of
    * fresh singletons is allowed between compressions. */
  type Centroids = Vector[(Double, Long)]

  /** One merge pass over the value-sorted centroids under the k1 scale
    * function k1(q) = (c/2π)·asin(2q−1): a centroid may absorb the next
    * one only while its k-span stays ≤ 1. Any two ADJACENT output
    * centroids then span k > 1 (the rejected merge would have covered
    * both), so the output has at most 2·(k1(1)−k1(0)) + 1 = c + 1
    * centroids — which keeps a compress's result strictly under the
    * 4·c reduce buffer, preserving the amortized-sort contract. (The
    * earlier midpoint-weight-limit greedy fragmented to ~4.6c on
    * uniform data, above the buffer cap: every subsequent append then
    * re-triggered a full sort.) Exposed for specs. */
  private[graft] def compress(cs: Centroids, compression: Int): Centroids = {
    if (cs.length <= 1) cs
    else {
      val sorted = cs.sortBy(_._1)
      val total = sorted.iterator.map(_._2).sum.toDouble
      def k1(q: Double): Double = {
        val qc = math.min(1.0, math.max(0.0, q))
        compression / (2.0 * math.Pi) * math.asin(2.0 * qc - 1.0)
      }
      val out = Vector.newBuilder[(Double, Long)]
      var cm = sorted.head._1
      var cw = sorted.head._2
      var cum = 0.0 // total weight already emitted before (cm, cw)
      var kLeft = k1(0.0)
      sorted.iterator.drop(1).foreach { case (m, w) =>
        val qRight = (cum + cw + w) / total
        if (k1(qRight) - kLeft <= 1.0) {
          cm = (cm * cw + m * w) / (cw + w)
          cw += w
        } else {
          out += ((cm, cw)); cum += cw; kLeft = k1(cum / total); cm = m; cw = w
        }
      }
      out += ((cm, cw))
      out.result()
    }
  }

  /** Lower-rank discrete quantiles from a compressed (sorted) sketch. */
  private def quantilesOf(cs: Centroids, qs: Seq[Double]): Seq[Double] = {
    val total = cs.iterator.map(_._2).sum
    if (total == 0L) qs.map(_ => Double.NaN)
    else qs.map { q =>
      val target = math.floor(q * (total - 1)).toLong + 1L
      var cum = 0L
      var ans = cs.last._1
      val it = cs.iterator
      var found = false
      while (it.hasNext && !found) {
        val (m, w) = it.next()
        cum += w
        if (cum >= target) { ans = m; found = true }
      }
      ans
    }
  }

  /** Typed Aggregator: Double in, centroid list as buffer, requested
    * quantiles out. Fresh values append as singletons and compress only
    * when the buffer outgrows 4·compression — O(log) amortized sorts. */
  final class TDigest(compression: Int, qs: Seq[Double])
      extends Aggregator[Double, Centroids, Seq[Double]] {
    require(compression > 0, "compression must be positive")
    require(qs.nonEmpty && qs.forall(q => q >= 0.0 && q <= 1.0))
    private val bufCap = math.max(64L, 4L * compression)

    override def zero: Centroids = Vector.empty

    override def reduce(b: Centroids, v: Double): Centroids = {
      val nb = b :+ (v, 1L)
      if (nb.length > bufCap) compress(nb, compression) else nb
    }

    override def merge(a: Centroids, b: Centroids): Centroids = {
      val ab = a ++ b
      if (ab.length > bufCap) compress(ab, compression) else ab
    }

    override def finish(r: Centroids): Seq[Double] =
      quantilesOf(compress(r, compression), qs)

    override def bufferEncoder: Encoder[Centroids] = ExpressionEncoder()
    override def outputEncoder: Encoder[Seq[Double]] = ExpressionEncoder()
  }

  /** Compression that puts the sketch in its EXACT regime for an input
    * of `n` rows (compression ≥ 2·n ⇒ no two singletons ever merge —
    * see the object doc). Derive it from the ACTUAL input count rather
    * than hard-coding: a fixed constant is the scale trap — correct at
    * the SF it was sized for, silently approximate one SF up. `n` may
    * be the total row count even when aggregating per group (every
    * group is ≤ the total). Refuses rather than degrades when 2·n
    * overflows Int — at that scale the exact regime is infeasible and
    * the caller should run the approximate regime deliberately. */
  def exactCompressionFor(n: Long): Int = {
    require(n >= 0 && 2L * n <= Int.MaxValue.toLong,
      s"exact t-digest regime infeasible for n=$n rows (2n overflows); " +
        "use a fixed approximate compression instead")
    math.max(64, (2L * n).toInt)
  }

  /** Aggregate column: array<double> of the requested quantiles. */
  def quantiles(value: Column, qs: Seq[Double], compression: Int): Column =
    udaf(new TDigest(compression, qs)).apply(value)
}
