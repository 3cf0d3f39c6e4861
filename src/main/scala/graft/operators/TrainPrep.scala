package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Last-mile training-set preparation operators: leakage-guarded splits,
  * deterministic corpus shuffling into token-balanced shards, sliding
  * -window chunking, and inverted-index construction. All pure
  * DataFrame shapes — narrow where possible, one keyed shuffle where
  * not — and all deterministic (md5-keyed pseudo-randomness, integer
  * arithmetic), so each has an exact SQL oracle twin.
  */
object TrainPrep {

  /** The q41 split contract: first hex nibble of md5("split:"+key) —
    * 'd' ⇒ val (1/16), 'e'/'f' ⇒ test (2/16), else train (13/16). */
  def splitOf(key: Column): Column = {
    val h = substring(md5(concat(lit("split:"), key.cast("string"))), 1, 1)
    when(h.isin("d"), "val").when(h.isin("e", "f"), "test")
      .otherwise("train")
  }

  /** Leakage-guarded split assignment: documents sharing EXACT content
    * (same md5(text)) are one unit — the split is decided by the hash
    * of the unit's canonical id (min doc_id in the duplicate group),
    * never the member's own id, so a duplicate can never straddle
    * train/test. One hash-shuffle on the content hash; the same shape
    * extends to near-dup clusters by swapping the md5 group for a
    * connected-component id (Dedup.connectedComponents). Returns
    * (doc_id, cluster_id, split). */
  def clusterAwareSplit(docs: DataFrame): DataFrame = {
    val units = docs
      .select(col("doc_id"), md5(col("text")).as("h"))
      .withColumn("cluster_id",
        min(col("doc_id")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("h"))))
    units.select(col("doc_id"), col("cluster_id"),
      splitOf(col("cluster_id")).as("split"))
  }

  /** [[clusterAwareSplit]] generalized to an arbitrary cluster map —
    * the NEAR-dup upgrade: pass a (doc_id, component) frame (e.g.
    * LSH connected components) and the split hashes the component;
    * docs absent from the map are their own singleton unit. Same
    * guarantee, stronger equivalence relation: paraphrased members of
    * one near-dup cluster can never straddle train/test. */
  def clusterAwareSplitBy(docs: DataFrame,
                          components: DataFrame): DataFrame =
    docs.select(col("doc_id"))
      .join(components, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("cluster_id"))
      .withColumn("split", splitOf(col("cluster_id")))

  /** Deterministic corpus shuffle + token-balanced contiguous sharding:
    * order documents by md5 of their id (a fixed, data-independent
    * permutation), prefix-sum their token counts with the two-phase
    * range scan (WeightedSample.withCumWeight — NO global window), and
    * cut the cumulative token line into `nShards` equal spans:
    * shard = ⌊(cum − w) · n / total⌋ (start-offset rule; all integer).
    * Shards land within one max-doc-tokens of perfect balance — the
    * property training-data writers need so every worker reads the
    * same byte volume. Returns (doc_id, tokens, shard). */
  def tokenBalancedShards(docs: DataFrame, nShards: Int): DataFrame = {
    val keyed = docs.select(col("doc_id"),
      md5(col("doc_id").cast("string")).as("k"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("tokens"))
    // sum() over an empty frame is NULL — an empty corpus shards to
    // nothing rather than dividing by zero below
    val totalRow = keyed.agg(sum(col("tokens"))).collect()(0)
    if (totalRow.isNullAt(0))
      return keyed.select(col("doc_id"), col("tokens"),
        lit(0L).as("shard"))
    val total = totalRow.getLong(0)
    val cum = WeightedSample.withCumWeight(keyed, "k", "tokens")
    cum.select(col("doc_id"), col("tokens"),
      floor((col("cum") - col("tokens")) * nShards / total)
        .cast("long").as("shard"))
  }

  /** Positional posting rows (term, doc_id, pos) — 1-based token
    * positions; the storage form phrase search reads. */
  def termPositions(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        posexplode(TextAnalysis.tokens(col("text"))).as(Seq("pos0", "term")))
      .select(col("term"), col("doc_id"), (col("pos0") + 1).as("pos"))

  /** Phrase search over the positional index: documents containing the
    * exact token sequence `phrase`, with occurrence counts. Each term
    * filters its posting rows (pushed into the scan side of the join);
    * adjacency is an equi-join on (doc_id, pos offset) — the classic
    * positional-index intersection, never a string re-scan of the
    * corpus. */
  def phraseSearch(docs: DataFrame, phrase: Seq[String]): DataFrame =
    phraseFrom(termPositions(docs), phrase)

  /** The positional intersection over any (term, doc_id, pos) posting
    * frame — shared by [[phraseSearch]] and the artifact path (q112
    * over SharedGrams.termPositions) so the adjacency semantics live
    * in exactly one place. */
  def phraseFrom(p: DataFrame, phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "need at least one phrase term")
    val first = p.filter(col("term") === phrase.head)
      .select(col("doc_id"), col("pos"))
    phrase.zipWithIndex.drop(1)
      .foldLeft(first) { case (acc, (t, i)) =>
        acc.join(
          p.filter(col("term") === t)
            .select(col("doc_id"), (col("pos") - i).as("pos")),
          Seq("doc_id", "pos"))
      }
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_occurrences"))
  }

  /** Sliding-window character chunking with overlap — the RAG/context
    * -window fan-out: a window of `width` chars opens every `step`
    * chars (1-based starts 1, 1+step, … ≤ n); tail windows truncate at
    * the document end. Pure narrow explode (sequence + substring);
    * provenance (doc_id, chunk_idx, start) rides along, chunk content
    * is ready for cross-corpus chunk dedup (q60's shape). Empty docs
    * produce no chunks. */
  def chunks(docs: DataFrame, width: Int, step: Int): DataFrame = {
    require(step >= 1 && width >= step,
      "need step >= 1 and width >= step (overlap = width - step)")
    val n = length(col("text"))
    docs
      .where(n >= 1) // sequence(1, 0) would descend
      .select(col("doc_id"), col("text"),
        posexplode(sequence(lit(1), n, lit(step)))
          .as(Seq("chunk_idx", "start")))
      .select(col("doc_id"), col("chunk_idx"), col("start"),
        substring(col("text"), col("start").cast("int"), lit(width))
          .as("chunk"))
  }

  /** Doc-level posting rows (term, doc_id, tf_doc) — the inverted
    * index's storage form; [[postings]] summarizes it,
    * [[indexLookupAnd]] reads it. */
  def termDocs(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("term"))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf_doc"))

  /** Conjunctive index lookup — docs containing EVERY query term, with
    * per-term frequencies: filter the posting rows per term (the
    * filter sits on the aggregation's grouping key, so Catalyst pushes
    * it below the per-term aggregation and into the scan) and
    * intersect by equi-join on doc_id. With a term-bucketed posting
    * table this is the classic index read: touch only the queried
    * terms' postings, never the corpus. */
  def indexLookupAnd(docs: DataFrame, terms: Seq[String]): DataFrame =
    lookupAnd(termDocs(docs), terms)

  /** [[indexLookupAnd]] over a standing posting frame (the artifact
    * path — a session-cached checkpoint). */
  def indexLookupAndFromPostings(post: DataFrame,
                                 terms: Seq[String]): DataFrame =
    lookupAnd(post, terms)

  /** The conjunctive intersection over any (term, doc_id, tf_doc)
    * posting frame — shared by the from-text and standing-frame
    * lookups so the tf naming / join semantics can't drift between
    * them. */
  private def lookupAnd(p: DataFrame, terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "need at least one query term")
    terms.zipWithIndex.map { case (t, i) =>
      p.filter(col("term") === t)
        .select(col("doc_id"), col("tf_doc").as(s"tf_$i"))
    }.reduce(_.join(_, "doc_id"))
  }

  /** BM25 ranked retrieval (disjunctive) over the inverted index —
    * the read path that turns q110's index into a search engine: docs
    * containing ANY query term, ranked by a fixed-point BM25 score.
    *
    * Plan shape: the posting frame filtered to the query terms (with a
    * bucketed posting table, |terms| pruned buckets — never the
    * corpus), a broadcast of the per-term document frequencies and the
    * two corpus scalars (N docs, total tokens), and one doc_id join to
    * pick up document lengths. The only data-sized shuffle is the
    * doc-length join; everything else is broadcast.
    *
    * Determinism (the oracle contract): standard BM25 needs ln() —
    * a transcendental whose last-ulp rounding is NOT pinned across
    * engines. This variant keeps the classic saturation shape but
    * replaces ln(idf) with the rational Robertson–Spärck-Jones odds
    * themselves, so every input to the kernel is an exact BIGINT:
    *   idf   = (2(N − df) + 1) / (2df + 1)
    *   tfsat = 22·tf·TT / (10·tf·TT + 3·TT + 9·dl·N)
    *           [= tf(k1+1) / (tf + k1(1−b+b·dl/avgdl)),
    *            k1 = 1.2, b = 0.75, avgdl = TT/N, fractions cleared]
    *   score = Σ_t ⌊ idf · tfsat · 10⁶ ⌋   (BIGINT)
    * The two divisions and two multiplies are correctly-rounded IEEE
    * double ops on exactly-representable integer inputs, so every
    * engine computes the same integer. Exact while 22·tf·TT < 2⁵³
    * (TT ≈ 4·10¹¹ tokens at tf ≤ 10⁴) — beyond that, quantize avgdl
    * once and drop TT from the per-row arithmetic. */
  def bm25Rank(docs: DataFrame, terms: Seq[String], topK: Int): DataFrame =
    bm25From(termDocs(docs),
      docs.select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("dl")),
      terms, topK)

  /** [[bm25Rank]] over a standing (postings, doc-lengths) PAIR — the
    * artifact path when the lengths side table already exists
    * (SharedGrams.postingPair): no access to the documents and no
    * postings-wide length agg. */
  def bm25RankFromPair(postings: DataFrame, lens: DataFrame,
                       terms: Seq[String], topK: Int): DataFrame =
    bm25From(postings, lens, terms, topK)

  private def bm25From(postings: DataFrame, lens: DataFrame,
                       terms: Seq[String], topK: Int): DataFrame =
    bm25Scores(postings, lens, terms)
      .orderBy(col("score_fp").desc, col("doc_id").asc)
      .limit(topK)

  /** Pre-limit BM25 scores (doc_id, n_terms, score_fp) — the ranked
    * reads ([[bm25Rank]] and the proximity-boosted
    * [[bm25ProximityRank]]) order/limit on top of this. */
  private def bm25Scores(postings: DataFrame, lens: DataFrame,
                         terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "need at least one query term")
    bm25KernelFrom(postings.filter(col("term").isin(terms: _*)), lens)
  }

  /** The determinism-critical rational BM25 kernel over an ALREADY
    * term-filtered posting frame — the single definition behind the
    * literal-list path ([[bm25Scores]]) and the terms-frame path
    * ([[bm25ScoresByFrame]]), so a constant tweak cannot diverge the
    * two (the oracle side has the same single definition in
    * OracleSql.bm25Kernel). */
  private def bm25KernelFrom(p: DataFrame, lens: DataFrame): DataFrame = {
    val stats = lens.agg(count(lit(1)).as("nd"), sum(col("dl")).as("tt"))
    val dfs = p.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val idfNum = (lit(2L) * (col("nd") - col("df")) + 1L).cast("double")
    val idfDen = (lit(2L) * col("df") + 1L).cast("double")
    val tfNum = (lit(22L) * col("tf_doc") * col("tt")).cast("double")
    val tfDen = (lit(10L) * col("tf_doc") * col("tt") +
      lit(3L) * col("tt") + lit(9L) * col("dl") * col("nd")).cast("double")
    p.join(broadcast(dfs), "term")
      .join(lens, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        floor((idfNum / idfDen) * (tfNum / tfDen) * lit(1e6)).as("s"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("s")).as("score_fp"))
  }

  /** Fielded BM25 (the BM25F simplification with early tf merging,
    * Robertson et al. 2004): the document splits into a TITLE field
    * (its first `titleLen` tokens) and a BODY field (the rest); a
    * title occurrence counts `titleBoost`× a body occurrence in BOTH
    * the term frequency and the document length,
    *   wtf = boost·tf_title + tf_body,
    *   wdl = boost·min(dl, titleLen) + max(dl − titleLen, 0),
    * and the weighted pair feeds the SAME rational BM25 kernel as
    * [[bm25Rank]] (via [[bm25From]] — one kernel, two callers), so
    * determinism and the 10⁶ fixed-point contract carry over verbatim.
    * `titleBoost = 1` degenerates to exactly [[bm25Rank]]
    * (spec-asserted), which pins the field split as pure bookkeeping.
    *
    * Plan: ONE posexplode produces the weighted tf (the position
    * decides the field — no second corpus scan per field), the weighted
    * lengths come from tokenCount arithmetic without any explode, and
    * everything downstream is [[bm25Rank]]'s broadcast shape. */
  def bm25FieldedRank(docs: DataFrame, titleLen: Int, titleBoost: Int,
                      terms: Seq[String], topK: Int): DataFrame = {
    require(titleLen >= 1 && titleBoost >= 1,
      "need titleLen >= 1 and titleBoost >= 1")
    val weightedTf = docs
      .select(col("doc_id"),
        posexplode(TextAnalysis.tokens(col("text"))).as(Seq("pos0", "term")))
      .filter(col("term").isin(terms: _*))
      .groupBy(col("term"), col("doc_id"))
      .agg(sum(when(col("pos0") < titleLen, titleBoost.toLong)
        .otherwise(1L)).as("tf_doc"))
    val tc = TextAnalysis.tokenCount(col("text")).cast("long")
    val weightedLens = docs.select(col("doc_id"),
      (lit(titleBoost.toLong) * least(tc, lit(titleLen.toLong)) +
        greatest(tc - titleLen, lit(0L))).as("dl"))
    bm25From(weightedTf, weightedLens, terms, topK)
  }

  /** TRUE multi-field BM25F (Zaragoza et al. 2004, "Microsoft
    * Cambridge at TREC-13") over genuinely distinct document columns —
    * the full per-field length normalization that
    * [[bm25FieldedRank]]'s early-tf-merge simplification skips: each
    * field f has its OWN length dl_f and corpus average avdl_f, the
    * field tf is normalized inside its field BEFORE the cross-field
    * merge,
    *
    *   t̃f_f = w_f · tf_f / (1 − b + b·dl_f/avdl_f)        (b = 3/4)
    *   score(term) = idf · t̃f / (k1 + t̃f),  t̃f = Σ_f t̃f_f,  k1 = 6/5
    *
    * so a match in a short weighted field (title/domain/metadata) is
    * not diluted by a long body — the property that makes BM25F the
    * standard fielded ranker and that early merging provably lacks.
    *
    * Determinism: with b = 3/4 and avdl_f = tt_f/nd, each field
    * contribution is (4·w_f·tf_f·tt_f) / (tt_f + 3·dl_f·nd) — a ratio
    * of exact BIGINT products evaluated in double (correctly rounded
    * in every IEEE engine), summed in FIXED field order inside one
    * projection; the saturation is (5·t̃f)/(6 + 5·t̃f) and the RSJ idf
    * is the usual (2(nd−df)+1)/(2df+1) rational. The DuckDB twin
    * (q183) spells the identical token sequence, so the ×10⁶ floor
    * hash-matches. df counts docs matching in ANY field.
    *
    * Plan: one explode per field restricted to the queried terms
    * (filter under the aggregation → only query-term rows survive the
    * scan), per-field postings FULL-outer-merged on (term, doc_id) —
    * pair count bounded by |terms|·df — then the usual broadcast
    * df/stats shape. Cost follows the queried terms' postings plus
    * one narrow lengths scan, never the corpus. */
  def bm25MultiFieldRank(docs: DataFrame, idCol: String,
                         fields: Seq[(String, Long)],
                         terms: Seq[String], topK: Int): DataFrame = {
    require(fields.nonEmpty && terms.nonEmpty,
      "need at least one field and one query term")
    require(fields.forall(_._2 >= 1), "field weights must be >= 1")
    val n = fields.size
    val posts = fields.zipWithIndex.map { case ((f, _), j) =>
      docs.select(col(idCol).as("doc_id"),
          explode(TextAnalysis.tokens(col(f))).as("term"))
        .filter(col("term").isin(terms: _*))
        .groupBy(col("term"), col("doc_id"))
        .agg(count(lit(1)).as(s"tf$j"))
    }
    val merged = posts
      .reduce((a, b) => a.join(b, Seq("term", "doc_id"), "full"))
      .na.fill(0L, (0 until n).map(j => s"tf$j"))
    val lens = docs.select(col(idCol).as("doc_id") +:
      fields.zipWithIndex.map { case ((f, _), j) =>
        TextAnalysis.tokenCount(col(f)).cast("long").as(s"dl$j")
      }: _*)
    val stats = lens.agg(count(lit(1)).as("nd"),
      (0 until n).map(j => sum(col(s"dl$j")).as(s"tt$j")): _*)
    val dfs = merged.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // fixed left-to-right field order — the sum's float rounding is
    // then identical in any engine spelling the same token sequence
    val wtf = fields.zipWithIndex.map { case ((_, w), j) =>
      (lit(4L * w) * col(s"tf$j") * col(s"tt$j")).cast("double") /
        (col(s"tt$j") + lit(3L) * col(s"dl$j") * col("nd")).cast("double")
    }.reduce(_ + _)
    val idf = (lit(2L) * (col("nd") - col("df")) + lit(1L)).cast("double") /
      (lit(2L) * col("df") + lit(1L)).cast("double")
    merged.join(broadcast(dfs), "term")
      .join(lens, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        floor(idf * ((lit(5) * wtf) / (lit(6) + lit(5) * wtf)) * lit(1e6))
          .as("s"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("s")).as("score_fp"))
      .orderBy(col("score_fp").desc, col("doc_id").asc)
      .limit(topK)
  }

  /** Proximity-boosted BM25 — phrase-aware ranking over BOTH index
    * artifacts: the BM25 base score from the doc-level postings, plus
    * a positional bonus per ADJACENT query-term pair,
    *   bonus = 10⁶ div (1 + gap),
    * where gap is the doc's minimum forward distance (tokens strictly
    * between an occurrence of tᵢ and a later occurrence of tᵢ₊₁) —
    * an exact phrase hit (gap 0) earns the full 10⁶, a 9-token gap a
    * tenth of it, missing/only-reversed order nothing. All integer
    * arithmetic (`div` floors identically in every engine).
    *
    * Plan: the per-pair position joins filter the positional postings
    * to each term FIRST (bucket-prunable from the stored table), join
    * on doc_id, and take a per-doc MIN — cost proportional to the
    * queried terms' posting sizes, never the corpus. */
  def bm25ProximityRank(docs: DataFrame, terms: Seq[String],
                        topK: Int): DataFrame =
    bm25ProximityRankFromParts(termDocs(docs),
      docs.select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("dl")),
      termPositions(docs), terms, topK)

  /** [[bm25ProximityRank]] over standing index artifacts — the stored
    * (postings, doc-lengths) pair for the base score plus the
    * positional posting table for the bonus: the read path when both
    * index artifacts already exist (identical inputs, corpus never
    * re-tokenized). */
  def bm25ProximityRankFromParts(postings: DataFrame, lens: DataFrame,
                                 positions: DataFrame,
                                 terms: Seq[String],
                                 topK: Int): DataFrame = {
    require(terms.size >= 2, "need at least two terms for proximity")
    val scores = bm25Scores(postings, lens, terms)
    val p = positions
    val bonuses = terms.sliding(2).zipWithIndex.map {
      case (Seq(a, b), i) =>
        p.filter(col("term") === a)
          .select(col("doc_id"), col("pos").as("pa"))
          .join(p.filter(col("term") === b)
              .select(col("doc_id"), col("pos").as("pb")),
            Seq("doc_id"))
          .where(col("pb") > col("pa"))
          .groupBy(col("doc_id"))
          .agg(min(col("pb") - col("pa") - 1).as("gap"))
          .select(col("doc_id"),
            expr("1000000 div (1 + gap)").as(s"bonus_$i"))
    }.toSeq
    val joined = bonuses.foldLeft(scores)(
      (acc, bf) => acc.join(bf, Seq("doc_id"), "left"))
    val total = bonuses.indices
      .map(i => coalesce(col(s"bonus_$i"), lit(0L)))
      .foldLeft(col("score_fp"))(_ + _)
    joined
      .select(col("doc_id"), col("n_terms"), col("score_fp"),
        total.as("total_fp"))
      .orderBy(col("total_fp").desc, col("doc_id").asc)
      .limit(topK)
  }

  /** Inverted index over whitespace tokens: per term, document
    * frequency, total term frequency, and an md5 digest of the sorted
    * posting list (doc ids joined with ','): the digest pins the FULL
    * posting content in a scalar, so an oracle can verify the index
    * without shipping arrays. Posting lists stay distributed — one
    * hash shuffle on the term. */
  /** [[bm25Scores]] with the query terms supplied as a (bounded)
    * DataFrame instead of a literal list — the shape data-DEPENDENT
    * queries need (PRF expansion, query logs): the term set joins in
    * by broadcast semi-join, everything downstream is the same
    * rational kernel ([[bm25KernelFrom]] — one kernel, two term
    * filters). */
  private def bm25ScoresByFrame(postings: DataFrame, lens: DataFrame,
                                termsDf: DataFrame): DataFrame =
    bm25KernelFrom(
      postings.join(broadcast(termsDf.select(col("term")).distinct()),
        Seq("term"), "left_semi"),
      lens)

  /** Pseudo-relevance-feedback query expansion (the Rocchio/RM3
    * family, fully relational — the data-dependent expansion terms
    * NEVER hit the driver): BM25-retrieve the `fbK` feedback docs,
    * score every term they contain by
    *   feedback df × 10⁶ div (corpus df + 1)
    * (concentration in the feedback set, discounted by corpus
    * commonness — exact BIGINTs), take the `nExpand` best non-query
    * terms (score desc, term asc), and re-rank with the original ∪
    * expansion term set through [[bm25ScoresByFrame]]. Every
    * intermediate is bounded (fbK docs, ≤ fbK·maxlen candidate terms,
    * |Q|+nExpand final terms); the corpus is touched by exactly the
    * two posting reads. */
  def prfExpandedRank(docs: DataFrame, terms: Seq[String], fbK: Int,
                      nExpand: Int, topK: Int): DataFrame =
    prfExpandedRankFrom(termDocs(docs),
      docs.select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("dl")),
      terms, fbK, nExpand, topK)

  /** [[prfExpandedRank]] over a standing (term, doc_id, tf_doc)
    * posting frame + doc-length table — the artifact path: four
    * consumers read the postings (feedback rank, feedback df, corpus
    * df, re-rank), so callers hand in a MATERIALIZED frame (a
    * bucketed posting table or a session-cached checkpoint as q148
    * does via SharedGrams) rather than this method checkpointing per
    * invocation — repeated calls must not accumulate block-manager
    * copies. */
  def prfExpandedRankFrom(post: DataFrame, lens: DataFrame,
                          terms: Seq[String], fbK: Int,
                          nExpand: Int, topK: Int): DataFrame = {
    val fbDocs = bm25From(post, lens, terms, fbK).select(col("doc_id"))
    val dfF = post.join(broadcast(fbDocs), Seq("doc_id"), "left_semi")
      .groupBy(col("term")).agg(count(lit(1)).as("dff"))
    val dfC = post.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val expansion = dfF.join(dfC, Seq("term"))
      .filter(!col("term").isin(terms: _*))
      .select(col("term"),
        expr("dff * 1000000 div (df + 1)").as("escore"))
      .orderBy(col("escore").desc, col("term").asc)
      .limit(nExpand)
    val allTerms = expansion.select(col("term"))
      .union(post.sparkSession.createDataset(terms)(
        org.apache.spark.sql.Encoders.STRING).toDF("term"))
      .distinct()
    bm25ScoresByFrame(post, lens, allTerms)
      .orderBy(col("score_fp").desc, col("doc_id").asc)
      .limit(topK)
  }

  /** The index summary: per term, df, total tf and an md5 digest of
    * the sorted doc-id list. */
  def postings(docs: DataFrame): DataFrame =
    termDocs(docs)
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"),
        sum(col("tf_doc")).as("tf"),
        // sort numerically FIRST, then stringify for the digest
        md5(concat_ws(",",
          transform(sort_array(collect_list(col("doc_id"))),
            _.cast("string")))).as("postings_md5"))
}
