package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus-trained bigram language model with stupid-backoff scoring —
  * the CCNet-style "perplexity proxy" quality filter: documents whose
  * token transitions are improbable under a model trained on the corpus
  * itself (or a trusted corpus) score low and get routed to the
  * low-quality bucket.
  *
  * Model: stupid backoff (Brants et al. 2007, "Large Language Models in
  * Machine Translation") — no normalization, no discounting:
  *
  *   S(w | prev) = count(prev, w) / count(prev)        if bigram seen
  *               = 0.4 * count(w) / total_tokens        otherwise
  *
  * Everything is INTEGER arithmetic so the result is hash-exact across
  * engines (the determinism contract of the oracle suite): each
  * transition contributes `(SCALE * c2) div c1` (or the backoff twin
  * with `0.4 * SCALE`), and the document score is the integer mean of
  * its transition scores. `SCALE` = 1e6: c2 ≤ corpus tokens (< 2^40 at
  * 100 TB with per-shard models), so the products stay far inside Long.
  *
  * Scale shape (the 100 TB story): transitions are derived NARROWLY
  * from each row's token array (zip the array with its own tail — no
  * per-doc window, no shuffle, and the same code runs unchanged on a
  * stream); unigram/bigram training is two hash aggregations keyed by
  * token — partial aggregation absorbs the heavy hitters before the
  * shuffle; scoring joins the transition stream to the two count tables
  * by token key (equi-joins; the model tables are vocabulary-sized).
  * Nothing is quadratic, and no table is collected.
  */
object NgramLm {

  val Scale = 1000000L
  /** Stupid-backoff multiplier: 0.4 · Scale, kept integral. */
  val BackoffScale = 400000L

  /** (doc_id, pos, w) token stream — narrow. Tokens are the corpus's
    * space-separated words (the suite's proven oracle-safe split). */
  def tokenStream(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      posexplode(split(col(textCol), " ")).as(Seq("pos", "w")))

  /** (doc_id, prev, w) adjacent-pair stream, derived narrowly inside
    * each row: zip the token array with its own tail. No window, no
    * shuffle — and therefore legal on a streaming DataFrame, where a
    * lag window is not. Docs with fewer than 2 tokens emit nothing. */
  def transitions(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val ts = split(col(textCol), " ")
    docs.select(col(idCol).as("doc_id"), ts.as("ts"))
      .select(col("doc_id"),
        explode(zip_with(
          slice(col("ts"), lit(1), size(col("ts")) - 1),
          slice(col("ts"), lit(2), size(col("ts")) - 1),
          (a, b) => struct(a.as("prev"), b.as("w")))).as("p"))
      .select(col("doc_id"), col("p.prev"), col("p.w"))
  }

  /** Unigram counts — one hash agg keyed by token. */
  def unigrams(toks: DataFrame): DataFrame =
    toks.groupBy(col("w")).agg(count(lit(1)).as("c1"))

  /** Bigram counts — one hash agg keyed by the adjacent pair. */
  def bigrams(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    transitions(docs, idCol, textCol)
      .groupBy(col("prev"), col("w"))
      .agg(count(lit(1)).as("c2"))

  /** Per-document stupid-backoff score over a model trained on
    * `modelDocs` (pass the same frame for self-trained filtering, a
    * trusted corpus for CCNet-style reference filtering).
    *
    * Emits (doc_id, n_transitions, lm_score); documents with fewer
    * than 2 tokens have no transitions and are dropped (a zero-signal
    * doc has no LM opinion — route it via the length filter instead). */
  def score(docs: DataFrame, modelDocs: DataFrame,
            idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val ug = unigrams(tokenStream(modelDocs, idCol, textCol))
    val bg = bigrams(modelDocs, idCol, textCol)
    val total = tokenStream(modelDocs, idCol, textCol)
      .agg(count(lit(1)).as("t_total"))

    // equi-joins on the token key; ug joins twice (prev leg feeds the
    // seen-bigram denominator, w leg feeds the backoff numerator)
    val scored = transitions(docs, idCol, textCol)
      .join(bg, Seq("prev", "w"), "left")
      .join(ug.select(col("w").as("prev"), col("c1").as("c1_prev")),
        Seq("prev"), "left")
      .join(ug.select(col("w"), col("c1").as("c1_w")), Seq("w"), "left")
      .crossJoin(broadcast(total))
      .withColumn("s",
        when(col("c2").isNotNull,
          expr(s"($Scale * c2) div c1_prev"))
        .otherwise(
          expr(s"($BackoffScale * coalesce(c1_w, 0)) div t_total")))

    scored.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_transitions"),
        expr("sum(s) div count(1)").as("lm_score"))
  }
}
