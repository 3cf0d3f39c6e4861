package graft.operators

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** K-MINIMUM-VALUES distinct-count sketch (Bar-Yossef et al. 2002),
  * with the multiset-operation estimators of Beyer et al. 2007 ("On
  * synopses for distinct-value estimation under multiset operations"):
  * the sketch of a set is its k smallest DISTINCT hash values; the
  * sketch of a UNION is the k smallest of the two sketches' union, and
  * an INTERSECTION is estimated from how many of those union survivors
  * sit in both input sketches. The set-algebra member of the sketch
  * family (linear-counting NDV, Misra–Gries heavy hitters, t-digest
  * quantiles, Bloom membership): bounded buffer — at most k longs per
  * group — and lossless merges, so partial aggregation, streaming
  * micro-batches, and cross-partition rollups all compose exactly.
  *
  * Estimators (M = 2³² hash space, h₍k₎ = largest value in a FULL
  * sketch):
  *
  *   NDV(A)      ≈ (k−1)·M div h₍k₎           (exact |A| when |A| < k)
  *   K∩          = |KMV_k(A ∪ B) ∩ A_k ∩ B_k|
  *   NDV(A ∩ B)  ≈ K∩ · NDV(A ∪ B) div k
  *
  * Everything is INTEGER arithmetic on md5-derived values, and "the k
  * smallest distinct values of a set" is order-independent — so unlike
  * engine-internal HLL registers the whole estimate chain is
  * deterministic and oracle-checkable EXACTLY: DuckDB derives the
  * identical 32-bit hashes and a rank ≤ k window reproduces the
  * identical sketch, estimator output included (q181).
  *
  * NULL CONTRACT: like NdvSketch, the primitive-Long input would
  * decode a NULL hash as 0 — callers filter nulls before [[lowestK]].
  */
object KmvSketch {

  /** Hash space size: [[hash32]] values lie in [0, 2³²). */
  val HashSpace: Long = 1L << 32

  /** 32-bit hash for any column — first 8 md5 hex chars as a long.
    * Plain column arithmetic, DuckDB-spellable as
    * `CAST(('0x' || substr(md5(x), 1, 8)) AS BIGINT)` (q84's recipe). */
  def hash32(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 8), 16, 10).cast("long")

  /** Typed Aggregator: sorted array of the ≤ k smallest distinct
    * values seen. reduce is O(k) insert-or-ignore; merge is a sorted
    * dedup-merge truncated at k — both closed over the bounded buffer,
    * so the exchange ships at most k longs per group however large the
    * group's data is. */
  final class LowestK(k: Int)
      extends Aggregator[Long, Array[Long], Array[Long]] {
    require(k >= 1 && k <= 65536, "need 1 <= k <= 65536")

    override def zero: Array[Long] = Array.empty[Long]

    override def reduce(b: Array[Long], v: Long): Array[Long] = {
      val i = java.util.Arrays.binarySearch(b, v)
      if (i >= 0) b // already present
      else {
        val ins = -i - 1
        if (b.length < k) {
          val out = new Array[Long](b.length + 1)
          System.arraycopy(b, 0, out, 0, ins)
          out(ins) = v
          System.arraycopy(b, ins, out, ins + 1, b.length - ins)
          out
        } else if (ins < k) {
          // drop the current max to admit the smaller value
          val out = new Array[Long](k)
          System.arraycopy(b, 0, out, 0, ins)
          out(ins) = v
          System.arraycopy(b, ins, out, ins + 1, k - ins - 1)
          out
        } else b
      }
    }

    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      val out = new Array[Long](math.min(k, a.length + b.length))
      var i = 0; var j = 0; var o = 0
      var last = Long.MinValue; var first = true
      while (o < out.length && (i < a.length || j < b.length)) {
        val v =
          if (j >= b.length || (i < a.length && a(i) <= b(j))) {
            val x = a(i); i += 1; x
          } else { val x = b(j); j += 1; x }
        if (first || v != last) {
          out(o) = v; o += 1; last = v; first = false
        }
      }
      if (o == out.length) out else java.util.Arrays.copyOf(out, o)
    }

    override def finish(r: Array[Long]): Array[Long] = r
    override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder()
    override def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder()
  }

  /** Aggregate column: the sorted ≤ k-smallest-hash array. */
  def lowestK(hash: Column, k: Int): Column =
    udaf(new LowestK(k)).apply(hash)

  /** NDV estimate column for a [[lowestK]] sketch column (by NAME, so
    * the integer `div` can be spelled in expr form): exact size when
    * the sketch never filled, (k−1)·M div h₍k₎ otherwise. */
  def estimateNdv(sketchCol: String, k: Int): Column =
    when(size(col(sketchCol)) < k, size(col(sketchCol)).cast("long"))
      .otherwise(expr(
        s"${(k - 1).toLong * HashSpace}L div element_at($sketchCol, $k)"))

  /** The Beyer et al. SET-ALGEBRA stage over a frame of per-key
    * sketches (one row per key, `sketchCol` a [[lowestK]] array): for
    * every unordered key pair, the union estimate (k smallest of the
    * two sketches' union IS the union's KMV sketch — the defining
    * closure property), the intersection survivor count K∩, and the
    * intersection estimate K∩ · NDV(A∪B) div k. All column-space
    * integer arithmetic — the q181 estimator chain, whose oracle
    * replays it from the same 32-bit hashes.
    *
    * Scale shape: |keys|² sketch ROWS (≤ k longs each), never data —
    * the input frame is sketch-sized, so the self-join is bounded by
    * the key census however large the corpus behind it. */
  def pairEstimates(sk: org.apache.spark.sql.DataFrame, keyCol: String,
                    sketchCol: String, k: Int,
                    outA: String = "key_a",
                    outB: String = "key_b"): org.apache.spark.sql.DataFrame =
    sk.select(col(keyCol).as(outA), col(sketchCol).as("ka"))
      .join(sk.select(col(keyCol).as(outB), col(sketchCol).as("kb")),
        col(outA) < col(outB))
      .withColumn("m", slice(array_sort(array_union(col("ka"), col("kb"))),
        1, k))
      .withColumn("est_union", estimateNdv("m", k))
      .withColumn("k_int",
        size(array_intersect(array_intersect(col("m"), col("ka")),
          col("kb"))).cast("long"))
      .withColumn("est_inter", expr(s"k_int * est_union div $k"))
}
