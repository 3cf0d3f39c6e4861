package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The quality-argmax retention policy (q238's rule), factored out so
  * q238, q249 and ScaleBench's retention_policy leg run the SAME code:
  * within each duplicate component keep exactly the best copy —
  * highest quality score, ties broken to the LOWER doc_id — and keep
  * every unclustered doc.
  *
  * The argmax is ONE packed BIGINT comparison: `score·10⁷ +
  * (9999999 − doc_id)`, sound for doc_id ∈ [0, 9999999] (the
  * subtrahend stays within the 7 low digits; negatives would overflow
  * into the score digits and corrupt the tie-break, hence the guard).
  *
  * Scale shape: the keep decision is a per-component max window whose
  * partition key falls back to doc_id for unclustered docs, so NO
  * null mega-partition exists — every task's group is a duplicate
  * component (bounded by the screen's df-cap) or a singleton. */
object Retention {

  /** quality score scaled to 6 digits, packed with the inverted id. */
  def packed(text: Column, docId: Column): Column = {
    val score = floor(TextAnalysis.qualityScore(text) * 1000000)
      .cast("long")
    val guarded = when(docId.between(0L, 9999999L), docId)
      .otherwise(raise_error(lit(
        "retention: doc_id overflows the argmax packing")).cast("long"))
    score * 10000000L + (lit(9999999L) - guarded)
  }

  /** Adds `ck` (component, singleton fallback) and the `keep` flag to
    * a frame carrying (doc_id, packed); `comps` is the (doc_id,
    * component) map. */
  def withKeep(docs: DataFrame, comps: DataFrame): DataFrame =
    docs.join(comps, Seq("doc_id"), "left")
      // unclustered docs key their own singleton partition — a NULL
      // partition key would pool the whole unclustered corpus into
      // one window task
      .withColumn("ck", coalesce(col("component"), col("doc_id")))
      .withColumn("keep",
        col("packed") === max(col("packed"))
          .over(Window.partitionBy(col("ck"))))
}
