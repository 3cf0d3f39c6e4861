package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Shared-key pairs: two documents that hold a common key become a
  * pair. The one kernel behind every candidate screen: LSH banding
  * (band keys), winnowing (fingerprints), the shared-gram graph edges
  * and exact shingle overlap.
  *
  * Input tables are distinct (id, key) rows, the first column the id and
  * the second the key. Every form returns (doc_a, doc_b, nshared):
  * `nshared` counts the keys the pair shares, and only pairs with
  * nshared ≥ `minShared` are kept.
  *
  *  - [[same]]: the pairs within one table, doc_a < doc_b;
  *  - [[cross]]: left × right, doc_a from the left table and doc_b
  *    from the right;
  *  - [[delta]]: the pairs of history ∪ delta with at least one delta
  *    member (delta × history plus delta × delta), doc_a < doc_b, for
  *    disjoint ids. The incremental probe: the delta is the left side
  *    of the one key join, so a key no delta row holds makes no pair
  *    and history rows are never paired with each other.
  *
  * One aggregate counts each key's document frequency (df) over the
  * table being screened: the table itself, history ∪ delta, or the
  * cross form's left side. It drives both the cap and the skew split:
  *
  *  - a key with df above `maxDf` (boilerplate) makes no pair;
  *  - a key with df above the hot threshold (1024) is paired through a
  *    slice split instead of one task holding its whole bucket. Each
  *    row gets slice s = pmod(hash(id), 16). In the same form the left
  *    side replicates a row to every target slice t ≥ s and the right
  *    side to every source slice ≤ its own, so C(B, 2) comparisons
  *    spread over S(S+1)/2 tasks (the triangle split); same-slice
  *    pairs are kept only in id order, so every (pair, key) is counted
  *    once. The two-table forms replicate each side to all S slices of
  *    the other (S² tasks).
  *
  * A key above the hot threshold is rare (at most rows / 1024 of
  * them), so when such keys can pair (no cap, or a cap above the
  * threshold) the aggregate runs first and only those keys are
  * collected: the capped ones are filtered out and the hot ones get
  * slices, both by key literal. With none of them the pair plan is one
  * key join and one pair count, with no aggregate or slice columns in
  * it. A cap at or below the threshold leaves no hot key, and the
  * aggregate runs inside the plan as the cap's semi-join.
  *
  * Both sides of the pair join shuffle (shuffle_hash): the optimizer
  * sizes a join by its input, but pair generation explodes on output,
  * and a broadcast would pin that output to the probe side's partition
  * count (the sf1 single-task 23-minute stage, round 8). The kernel
  * reads its inputs more than once (the df aggregate and the pair
  * join) and does not materialize them: callers pass materialized
  * tables, as every shared artifact is. */
object KeyPairs {

  /** Keys held by more rows than this go through the slice split. */
  private[graft] val HotKey = 1024L
  private val Slices = 16

  private[graft] sealed trait Form
  private[graft] case object Same extends Form
  private[graft] case object Cross extends Form
  private[graft] case object Delta extends Form

  def same(rows: DataFrame, minShared: Int = 1,
           maxDf: Option[Long] = None): DataFrame =
    pairs(Same, rows, rows, minShared, maxDf, HotKey)

  def cross(left: DataFrame, right: DataFrame, minShared: Int = 1,
            maxDf: Option[Long] = None): DataFrame =
    pairs(Cross, left, right, minShared, maxDf, HotKey)

  def delta(history: DataFrame, delta: DataFrame, minShared: Int = 1,
            maxDf: Option[Long] = None): DataFrame =
    pairs(Delta, history, delta, minShared, maxDf, HotKey)

  /** Every form at an explicit hot threshold. `b` is the cross form's
    * right table or the delta; the same form ignores it. */
  private[graft] def pairs(form: Form, a: DataFrame, b: DataFrame,
                           minShared: Int, maxDf: Option[Long],
                           hotKey: Long): DataFrame = {
    def side(t: DataFrame, s: Int) =
      t.toDF("_id", "_k").withColumn("_b", lit(s))
    // the left row pairs with the right row; the delta pairs with
    // history ∪ delta, and df is counted over the same table
    val (l, r, counted) = form match {
      case Same => (side(a, 0), side(a, 0), a)
      case Cross => (side(a, 0), side(b, 1), a)
      case Delta =>
        (side(b, 1), side(a, 0).union(side(b, 1)), a.union(b))
    }
    val df = counted.toDF("_id", "_k").groupBy(col("_k"))
      .agg(count(lit(1)).as("_df"))
    val (cappedL, cappedR, hot) = maxDf match {
      case Some(m) if m <= hotKey =>
        // a key one row of a one-table screen holds makes no pair
        val live = df.filter(col("_df").between(if (form == Cross) 1L else 2L, m))
          .select(col("_k"))
        // the left side alone: its key exchange is the right side's
        (l.join(live.hint("shuffle_hash"), Seq("_k"), "left_semi"), r, Nil)
      case _ =>
        val big = df.filter(col("_df") > hotKey && col("_k").isNotNull)
          .collect()
          .map(row => (row.get(0), row.getLong(1)))
        val (hotKeys, over) = big.partition(kd => maxDf.forall(kd._2 <= _))
        def under(t: DataFrame) =
          if (over.isEmpty) t else t.filter(!col("_k").isin(over.map(_._1): _*))
        (under(l), under(r), hotKeys.map(_._1).toSeq)
    }
    val keep: Column = form match {
      case Same => col("l._id") < col("r._id")
      case Cross => lit(true)
      case Delta => col("r._b") === 0 || col("l._id") < col("r._id")
    }
    val joined = if (hot.isEmpty)
      cappedL.as("l").hint("shuffle_hash")
        .join(cappedR.as("r").hint("shuffle_hash"),
          col("l._k") === col("r._k") && keep)
    else {
      // a hot row carries its slice `_s` and is replicated to the
      // slices `_t` it meets; a cold row carries slice 0 and meets 0
      val isHot = col("_k").isin(hot: _*)
      val sl = when(isHot, pmod(hash(col("_id")), lit(Slices))).otherwise(0)
      val top = when(isHot, lit(Slices - 1)).otherwise(0)
      val tri = form == Same
      def sliced(t: DataFrame, targets: Column) =
        t.select(col("_id"), col("_k"), col("_b"), sl.as("_s"),
          explode(targets).as("_t"))
      sliced(cappedL, sequence(if (tri) sl else lit(0), top)).as("l")
        .hint("shuffle_hash")
        .join(sliced(cappedR, sequence(lit(0), if (tri) sl else top)).as("r")
            .hint("shuffle_hash"),
          col("l._k") === col("r._k") && col("l._s") === col("r._t") &&
            col("l._t") === col("r._s") &&
            (if (tri) col("l._s") < col("r._s") || keep else keep))
    }
    val (x, y) = (col("l._id"), col("r._id"))
    val (da, db) = if (form == Cross) (x, y) else (least(x, y), greatest(x, y))
    joined.groupBy(da.as("doc_a"), db.as("doc_b"))
      .agg(count(lit(1)).as("nshared"))
      .filter(col("nshared") >= minShared)
  }
}
