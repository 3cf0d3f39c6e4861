package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Hashed n-gram importance weighting for data selection — the DSIR
  * recipe (Xie et al. 2023, "Data Selection for Language Models via
  * Importance Resampling", arXiv:2302.03169): estimate how much each
  * document resembles a TARGET domain by comparing hashed-bigram
  * frequencies between the raw corpus and a target sample, then rank
  * documents by their average per-gram importance weight.
  *
  * Determinism (the oracle contract): DSIR's log-ratio becomes the
  * rational ratio itself in fixed point — per bucket
  * `w = ⌊10⁶·(tgt+1)/(src+1)⌋` (add-one smoothing; one exact IEEE
  * division on exactly-representable BIGINTs), and a document's score
  * is the INTEGER mean `Σw div n_grams` — no transcendental anywhere.
  *
  * Scale shape: bigrams derive narrowly per row (NgramLm.transitions —
  * zip the token array with its own tail, no window); hashing is
  * md5-prefix bucketing into 256 buckets, so both frequency tables and
  * the weight table are CONSTANT-sized and broadcast; scoring is one
  * broadcast join + one doc-keyed aggregation. Nothing here grows with
  * the corpus except the two linear scans.
  */
object Dsir {

  /** Hash bucket of an adjacent token pair: first two hex chars of
    * md5("prev w") — 256 buckets, portable to any engine with md5. */
  def bucketOf(prev: Column, w: Column): Column =
    substring(md5(concat_ws(" ", prev, w)), 1, 2)

  /** (doc_id, b) hashed-bigram stream — narrow per-row derivation. */
  def bucketedGrams(docs: DataFrame): DataFrame =
    NgramLm.transitions(docs, "doc_id", "text")
      .select(col("doc_id"), bucketOf(col("prev"), col("w")).as("b"))

  /** Per-bucket importance weights from a source corpus and a target
    * sample: the ratio of add-one-smoothed bucket PROBABILITIES (raw
    * count ratios would crown hapax grams — a rare source gram with
    * zero target mass must score LOW, and only normalization by the
    * corpus totals makes it so):
    *
    *   w_fp = ⌊10⁶ · ((tgt_b+1)(S+256)) / ((src_b+1)(T+256))⌋
    *          [= P̂_tgt(b) / P̂_src(b), Laplace-smoothed, B = 256]
    *
    * The integer products stay exact below 2⁵³ up to ~10⁸ grams per
    * table; past that, pre-divide the totals out once per table.
    * Both inputs need (doc_id, text); the result is ≤ 256 rows. */
  def importanceWeights(source: DataFrame, target: DataFrame): DataFrame = {
    val src = bucketedGrams(source).groupBy(col("b"))
      .agg(count(lit(1)).as("sc"))
    val tgt = bucketedGrams(target).groupBy(col("b"))
      .agg(count(lit(1)).as("tc"))
    val sTot = src.agg(sum(col("sc")).as("stot"))
    val tTot = tgt.agg(coalesce(sum(col("tc")), lit(0L)).as("ttot"))
    src.join(tgt, Seq("b"), "left")
      .crossJoin(broadcast(sTot)).crossJoin(broadcast(tTot))
      .select(col("b"),
        floor(lit(1e6) * (
          ((coalesce(col("tc"), lit(0L)) + 1L) * (col("stot") + 256L))
            .cast("double")
            / ((col("sc") + 1L) * (col("ttot") + 256L)).cast("double")))
          .as("w_fp"))
  }

  /** Score documents by mean per-gram importance weight:
    * (doc_id, n_grams, avg_weight_fp) with avg = Σw div n (integer
    * division — exact in every engine). Grams whose bucket is absent
    * from `weights` (never: scoring the source corpus itself; possible
    * when scoring fresh data) default to weight 10⁶ ≡ ratio 1. Docs
    * with fewer than two tokens emit no grams and are absent. */
  def scoreDocs(docs: DataFrame, weights: DataFrame): DataFrame =
    bucketedGrams(docs)
      .join(broadcast(weights), Seq("b"), "left")
      .select(col("doc_id"),
        coalesce(col("w_fp"), lit(1000000L)).as("w_fp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), sum(col("w_fp")).as("s"))
      .withColumn("avg_weight_fp", expr("s div n_grams"))
      .select(col("doc_id"), col("n_grams"), col("avg_weight_fp"))

  /** The weight table as a driver-side map — a ≤ 256-entry broadcast
    * model: a deliberate bounded-model collect, never data-sized. */
  def weightsMap(weights: DataFrame): Map[String, Long] =
    weights.collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** [[scoreDocs]] as a STATELESS per-row map — the streaming-safe form:
    * grams derive from the row's own token array (zip with its tail),
    * weights come from the frozen [[weightsMap]] as a map literal, and
    * the integer mean folds inside the row. No explode, no shuffle, no
    * state — legal on a streaming frame in append mode, and
    * bit-identical to the join-based scorer (integer sums are
    * order-invariant; parity is spec-asserted). */
  def scoreWithWeights(docs: DataFrame, w: Map[String, Long]): DataFrame = {
    val ts = split(col("text"), " ")
    val grams = zip_with(
      slice(ts, lit(1), size(ts) - 1), slice(ts, lit(2), size(ts) - 1),
      (a, b) => bucketOf(a, b))
    val wMap = typedLit(w)
    docs
      // FENCED (r10 audit): the emptiness filter otherwise re-expands
      // the zip_with gram kernel into the predicate (2× per row)
      .select(col("doc_id"), graft.plans.FenceExpr.fence(grams).as("gs"))
      .filter(size(col("gs")) > 0)
      .select(col("doc_id"),
        size(col("gs")).cast("long").as("n_grams"),
        aggregate(
          transform(col("gs"),
            g => coalesce(element_at(wMap, g), lit(1000000L))),
          lit(0L), (acc, x) => acc + x).as("s"))
      .withColumn("avg_weight_fp", expr("s div n_grams"))
      .select(col("doc_id"), col("n_grams"), col("avg_weight_fp"))
  }
}
