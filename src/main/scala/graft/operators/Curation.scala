package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators for training-data pipelines: cross-document
  * boilerplate detection, n-gram-level decontamination, and sequence
  * packing. Companions to [[Dedup]] (content identity) and
  * [[TextAnalysis]] (per-row signals) — these are the CROSS-document
  * curation steps.
  *
  * Shuffle economy (the 100 TB posture shared by all three):
  *  - n-grams are md5-hashed inside the scan stage, so every shuffle
  *    carries 16-byte keys — document text never leaves the mapper;
  *  - flag sets are distinct-reduced doc-id relations (one long per
  *    flagged doc), joined back semi/left — no text on the build side;
  *  - packing windows partition by the stream column, so independent
  *    streams pack in parallel (at 100 TB the stream is (source, shard)).
  */
object Curation {

  /** Distinct (id, gram-hash) pairs for the word n-grams of `textCol` —
    * the shared first stage of boilerplate detection and
    * decontamination. Docs shorter than n tokens contribute nothing. */
  def gramHashes(docs: DataFrame, idCol: String, textCol: String,
                 n: Int): DataFrame =
    docs.select(col(idCol),
        explode(TextAnalysis.wordNgrams(col(textCol), n)).as("g"))
      .select(col(idCol), md5(col("g")).as("gh"))
      .distinct()

  /** Ids of documents containing any word n-gram that occurs in at
    * least `minDocs` DISTINCT documents — the shared-footer / template
    * filter (the line-dedup family generalized to n-grams). Two
    * shuffles, both on gram hashes; the flag relation is one column. */
  def boilerplateDocs(docs: DataFrame, idCol: String, textCol: String,
                      n: Int, minDocs: Int): DataFrame = {
    val grams = gramHashes(docs, idCol, textCol, n)
    val boiler = grams.groupBy(col("gh"))
      .agg(count(lit(1)).as("ndocs"))
      .filter(col("ndocs") >= minDocs)
    grams.join(boiler, Seq("gh"), "left_semi")
      .select(col(idCol)).distinct()
  }

  /** Oriented (x < y) distinct document pairs sharing at least one
    * word n-gram whose document frequency lies in [2, maxDf] — the
    * bounded-fan-out similarity-graph edge builder (feeds
    * [[Graphs.triangleCensus]]). The df cap is the scale guard: a
    * gram emits ≤ C(maxDf, 2) pairs, so the edge list is linear in
    * the gram table; without it one boilerplate gram shared by k docs
    * would fan out k² pairs (the reason [[boilerplateDocs]] REMOVES
    * such docs rather than pairing them). Joins carry only
    * (16-byte hash, id) rows. */
  def sharedGramEdges(docs: DataFrame, idCol: String, textCol: String,
                      n: Int, maxDf: Int): DataFrame =
    edges(gramHashes(docs, idCol, textCol, n), maxDf)

  private def edges(grams: DataFrame, maxDf: Int): DataFrame =
    KeyPairs.same(grams, maxDf = Some(maxDf.toLong))
      .select(col("doc_a").as("x"), col("doc_b").as("y"))

  /** Scratch-bounded sharded execution of [[sharedGramEdges]] — the
    * `ExactSubstring.dupSpansSharded` move applied to the similarity
    * -graph builder: the gram space is sliced by `pmod(hash(gh),
    * passes)` BEFORE any exchange, each slice's df-filter + self-join
    * runs to a materialized (small, df-capped) edge list, and the
    * passes union with one final distinct. EXACT parity with the
    * one-shot: every gram lives in exactly one slice (gram equality ⇒
    * hash equality), so a gram's document frequency computed within
    * its slice IS its global df, and the global edge set is the
    * deduplicated union of slice edges (an (x, y) pair backed by
    * grams in different slices appears in several passes — the final
    * distinct collapses it). Peak shuffle scratch divides by the pass
    * count; the narrow gram derivation re-runs per pass — the same
    * CPU-for-scratch trade as the sharded span detector, motivated
    * the same way: the 10M-doc one-shot's gram self-join exchange
    * measured past this VM's free disk (round 7). */
  def sharedGramEdgesSharded(docs: DataFrame, idCol: String,
                             textCol: String, n: Int, maxDf: Int,
                             passes: Int): DataFrame = {
    require(passes >= 1, "passes must be positive")
    val slices = (0 until passes).map { p =>
      val grams = gramHashes(docs, idCol, textCol, n)
        .filter(pmod(hash(col("gh")), lit(passes)) === p)
      val e = edges(grams, maxDf).localCheckpoint()
      if (passes > 1) System.gc() // let the cleaner reap this pass's shuffle
      e
    }
    if (passes == 1) slices.head
    else slices.reduce(_ union _).distinct()
  }

  /** Ids of `train` documents sharing ANY word n-gram with any `test`
    * document — n-gram-level leakage audit (the GPT-3-appendix-style
    * decontamination that exact-hash dedup misses). The test side is
    * distinct-reduced before the semi join, so the build side is the
    * small one. */
  def contaminatedDocs(train: DataFrame, test: DataFrame,
                       idCol: String, textCol: String, n: Int): DataFrame = {
    val testG = gramHashes(test, idCol, textCol, n).select(col("gh")).distinct()
    gramHashes(train, idCol, textCol, n)
      .join(testG, Seq("gh"), "left_semi")
      .select(col(idCol)).distinct()
  }

  /** Vocabulary-coverage quality score — the OOV-rate filter of
    * CCNet-class pipelines, minus the LM: instead of n-gram-LM
    * perplexity (whose libm logs are not cross-engine reproducible),
    * score each document by the fraction of its tokens NOT covered by
    * a reference vocabulary. High OOV rate flags boilerplate, noise,
    * and off-language text the same way high perplexity does, and the
    * score is engine-exact: integer hit counts and one IEEE int/int
    * division. `vocab` is one `tok` column (the Zipf head — KBs,
    * broadcast). Returns (id, n_tok, n_oov, oov_rate); documents with
    * zero non-empty tokens are absent. Scale: the explode is narrow,
    * the vocab probe is a broadcast left join, and the only shuffle is
    * the per-document count — a WHERE-clause cost class. */
  def coverageScore(docs: DataFrame, idCol: String, textCol: String,
                    vocab: DataFrame): DataFrame =
    docs.select(col(idCol),
        explode(filter(TextAnalysis.tokens(col(textCol)),
          t => length(t) > 0)).as("tok"))
      .join(broadcast(vocab.select(col("tok"), lit(1).as("_hit"))),
        Seq("tok"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tok"),
        count(when(col("_hit").isNull, 1)).as("n_oov"))
      .withColumn("oov_rate",
        col("n_oov").cast("double") / col("n_tok").cast("double"))

  /** Concatenate-and-chop sequence packing: assigns each document the
    * training-sequence index `seq` = (exclusive prefix sum of `tokCol`
    * within its `streamCol` stream, ordered by `orderCol`) div
    * `budget`. Integer-exact (the division is double but counts are
    * < 2^53). Adds a `seq` column; everything else passes through. */
  def packSequences(docs: DataFrame, streamCol: String, orderCol: String,
                    tokCol: String, budget: Long): DataFrame = {
    val w = Window.partitionBy(col(streamCol)).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs.withColumn("seq",
      floor(coalesce(sum(col(tokCol)).over(w), lit(0L)) / lit(budget.toDouble))
        .cast("long"))
  }

  /** Chunk-level dedup with DOCUMENT REBUILD — the paragraph-dedup
    * cleanup step (C4/FineWeb-style) that q60's census only counts:
    * each n-word chunk is kept at its globally FIRST occurrence
    * (lowest doc_id, then lowest chunk index) and removed everywhere
    * else, and each affected document's text is re-assembled from its
    * surviving chunks in order. Returns only documents that actually
    * lost a chunk, as (doc_id, n_chunks, n_kept, new_text).
    *
    * Shuffle economy: the keep-first decision runs on (doc_id, idx,
    * md5(chunk)) handles — 16-byte hashes, never chunk text — and
    * comes back to each document as ONE bounded array of surviving
    * chunk indices (doc-keyed join). The rebuild is then a per-row
    * array expression: surviving token slices re-joined in place, so
    * document text is read exactly once and never shuffles. The
    * keep-first packing `doc_id * 100000 + idx` requires idx < 100000
    * (a 2M-word doc at n=20) — guarded below. */
  def chunkDedupRebuild(docs: DataFrame, idCol: String, textCol: String,
                        n: Int): DataFrame = {
    // the guards are woven into the values (q166's raise_error
    // convention) so column pruning can never optimize them away
    val guardedIdx = when(col("pos") < 100000, col("pos").cast("long"))
      .otherwise(raise_error(lit(
        "chunkDedupRebuild: chunk index overflows the keep-first packing"))
        .cast("long"))
    // explicit long id, non-negative: a string id would otherwise be
    // silently promoted to double inside the packed min (mis-ordering
    // the keep-first decision), and a negative id breaks the packing
    val longId = col(idCol).cast("long")
    val guardedId = when(longId.isNotNull && longId >= 0L, longId)
      .otherwise(raise_error(lit(
        "chunkDedupRebuild: doc id must be a non-negative integral"))
        .cast("long"))
    val handles = docs.select(guardedId.as("doc_id"),
        posexplode(TextAnalysis.wordChunks(col(textCol), n)))
      .select(col("doc_id"), guardedIdx.as("idx"), md5(col("col")).as("ch"))
    val w = Window.partitionBy(col("ch"))
    val packed = col("doc_id") * 100000L + col("idx")
    val kept = handles
      .withColumn("keep", packed === min(packed).over(w))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sort_array(collect_list(when(col("keep"), col("idx"))))
          .as("_keep_idxs"))
    docs.select(col(idCol).cast("long").as("doc_id"),
        col(textCol).as("_text"))
      .join(kept, "doc_id")
      .where(col("n_kept") < col("n_chunks"))
      .select(col("doc_id"), col("n_chunks"), col("n_kept"),
        array_join(transform(col("_keep_idxs"),
          i => array_join(
            slice(TextAnalysis.tokens(col("_text")),
              (i * n + 1).cast("int"), lit(n)), " ")), " ").as("new_text"))
  }
}
