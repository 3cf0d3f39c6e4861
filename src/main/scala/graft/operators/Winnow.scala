package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Winnowing (Schleimer, Wilkerson and Aiken, SIGMOD 2003; the MOSS
  * local fingerprinting scheme) with window w = 4 over word-4-gram
  * hash32 values — the one home of the kernel.
  *
  * Every product is a per-row array expression over ONE fenced hash
  * array `hs` (1-based gram positions): the window minima, the
  * rightmost-minimum position of the standard selection, the robust
  * rule's fold. Winnowing is local to a document, so nothing here
  * shuffles or aggregates; the same plans also run under `readStream`.
  * Docs with fewer than 4 grams (< 7 tokens) carry no windows.
  *
  * The DuckDB oracle derives the same rows independently (explode each
  * hash into the windows it falls in, then group by window:
  * graft.OracleSql.winnowSel); DedupSimilaritySpec pins the two
  * derivations together in Spark.
  */
object Winnow {

  /** Df-cap of the winnow screen: a fingerprint shared by more docs is
    * boilerplate and generates no pairs. */
  val DfCap = 16

  /** (doc_id, keep…, hs, nw): `hs` the word-4-gram hash32 array of
    * `text`, `nw` = size(hs) − 3 its window count; docs with fewer than
    * 4 grams dropped. FENCED: the ≥4 filter and every consumer of `hs`
    * would otherwise re-expand the gram+hash chain per reference. */
  def hashes(docs: DataFrame, keep: String*): DataFrame =
    docs
      .select(col("doc_id") +: keep.map(col) :+
        graft.plans.FenceExpr.fence(
          transform(TextAnalysis.wordNgrams(col("text"), 4),
            g => KmvSketch.hash32(g))).as("hs"): _*)
      .filter(size(col("hs")) >= 4)
      .withColumn("nw", (size(col("hs")) - 3).cast("long"))

  /** SQL for the minimum of window `j` (1-based) over `hs` — generated
    * once so every Spark expr and CASE arm stays token-identical. */
  def winMinSql(j: String): String =
    s"""least(element_at(hs, CAST(($j) AS INT)),
      element_at(hs, CAST(($j) + 1 AS INT)),
      element_at(hs, CAST(($j) + 2 AS INT)),
      element_at(hs, CAST(($j) + 3 AS INT)))"""

  /** SQL for the RIGHTMOST position (1-based) carrying window `j`'s
    * minimum — the standard selection's tie rule. */
  def rightmostMinSql(j: String): String =
    s"""CASE WHEN element_at(hs, CAST(($j) + 3 AS INT)) = ${winMinSql(j)}
        THEN ($j) + 3
      WHEN element_at(hs, CAST(($j) + 2 AS INT)) = ${winMinSql(j)}
        THEN ($j) + 2
      WHEN element_at(hs, CAST(($j) + 1 AS INT)) = ${winMinSql(j)}
        THEN ($j) + 1
      ELSE ($j) END"""

  /** Standard (rightmost-min) selection: the distinct selected
    * positions, over a frame carrying (hs, nw). */
  def stdSelCol: Column =
    expr(s"""array_distinct(transform(
      sequence(1L, nw), j -> CAST(${rightmostMinSql("j")} AS BIGINT)))""")

  /** Robust selection (Schleimer §5): on a tie keep the previous
    * window's position while it is still in the window and still
    * carries the minimum; a sequential fold over the windows. */
  def robSelCol: Column =
    expr(s"""array_distinct(aggregate(
      CASE WHEN nw >= 2 THEN sequence(2L, nw)
        ELSE CAST(array() AS ARRAY<BIGINT>) END,
      array(CAST(${rightmostMinSql("1")} AS BIGINT)),
      (acc, j) -> CASE WHEN element_at(acc, -1) >= j
          AND element_at(hs, CAST(element_at(acc, -1) AS INT))
            = ${winMinSql("j")}
        THEN acc
        ELSE concat(acc, array(CAST(${rightmostMinSql("j")} AS BIGINT)))
        END))""")

  /** One row per window: (doc_id, keep…, ng, j, fp, spos) — `ng` the
    * doc's gram count, `j` the 0-based window index, `fp` the window's
    * minimum hash and `spos` the 0-based rightmost gram position
    * carrying it. */
  def windows(docs: DataFrame, keep: String*): DataFrame =
    hashes(docs, keep: _*)
      .select(col("doc_id") +: keep.map(col) :+ (col("nw") + 3L).as("ng") :+
        expr(s"""inline(transform(sequence(1L, nw), j -> named_struct(
          'j', j - 1,
          'fp', ${winMinSql("j")},
          'spos', ${rightmostMinSql("j")} - 1)))"""): _*)

  /** (doc_id, fp): each row's distinct window minima. Distinct per doc
    * wherever doc_id is a key, as in the documents table. */
  def fingerprints(docs: DataFrame): DataFrame =
    hashes(docs).select(col("doc_id"), explode(array_distinct(
      expr(s"transform(sequence(1L, nw), j -> ${winMinSql("j")})"))).as("fp"))

  /** The df-capped screen over distinct (doc_id, fp) rows: the pairs
    * (doc_a < doc_b) sharing at least 2 fingerprints held by 2 to `cap`
    * docs. Both self-join legs shuffle (a broadcast would pin the
    * output parallelism). */
  def cappedPairs(fpDoc: DataFrame, cap: Long): DataFrame = {
    val usable = fpDoc.groupBy(col("fp"))
      .agg(count(lit(1)).as("nd"))
      .filter(col("nd").between(2L, cap))
      .select(col("fp"))
    val capped = fpDoc.join(usable.hint("shuffle_hash"), "fp")
    capped.select(col("fp"), col("doc_id").as("doc_a"))
      .join(capped.select(col("fp"), col("doc_id").as("doc_b"))
        .hint("shuffle_hash"), Seq("fp"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("nshared"))
      .filter(col("nshared") >= 2)
      .select(col("doc_a"), col("doc_b"))
  }
}
