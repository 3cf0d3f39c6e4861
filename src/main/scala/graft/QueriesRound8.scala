package graft

import org.apache.spark.sql.functions._

import graft.operators.{GroupedRank, TextAnalysis}
import Queries.Q

/** Round-8 depth queries — compositions over the grouped two-phase
  * prefix-sum kernel ([[graft.operators.GroupedRank.withCumSum]]),
  * the scale-safe replacement for per-stream window scans: a
  * source's rows spread over `buckets` range partitions instead of
  * one task's sort, so a dominant source can never straggle the
  * stage (the q39 cost class, fixed this round for ranks and reused
  * here for running sums).
  *
  * Determinism: all-integer arithmetic (ppm grids, `div` on
  * non-negative operands where Spark's truncation and DuckDB's `//`
  * floor agree), md5-keyed orders, fingerprints by the q211
  * leading-32-bit-md5 convention.
  */
object QueriesRound8 {

  /** MULTI-LENGTH PACKING-WASTE CENSUS — q58's concatenate-and-chop
    * packing kernel evaluated at the three context budgets a training
    * run actually chooses between (512 / 2048 / 8192 tokens): per
    * (budget, source) the sequence count, the number of documents
    * split across a sequence boundary (attention-contamination
    * proxy), the split share, and the tail padding the final partial
    * sequence wastes. The doc-boundary fragmentation FALLS as budget
    * grows while tail padding RISES — the census quantifies that
    * trade so the budget choice is data-driven, not folklore.
    *
    * Scale shape: ONE grouped two-phase prefix sum per source stream
    * (never a per-source single-task window), then a 3-budget
    * explode that is a map-only projection — the window work is paid
    * once, not per budget. Census rows: 3 × |sources|. */
  private val q216 = Q(
    "q216_packing_waste",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("source"), col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("tok"))
      val pre = GroupedRank.withCumSum(docs, "source", Seq("doc_id"), "tok")
        .withColumn("pre", col("cum") - col("tok"))
      pre.select(col("source"), col("pre"), col("tok"),
          explode(array(lit(512L), lit(2048L), lit(8192L))).as("budget"))
        .select(col("budget"), col("source"), col("tok"),
          expr("pre div budget").as("s0"),
          expr("(pre + greatest(tok, 1L) - 1L) div budget").as("s1"))
        .groupBy(col("budget"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("tok")).as("n_tokens"),
          (max(col("s1")) + 1L).as("n_seqs"),
          sum(when(col("s1") > col("s0"), 1L).otherwise(0L)).as("n_split"))
        .select(col("budget"), col("source"), col("n_docs"),
          col("n_tokens"), col("n_seqs"), col("n_split"),
          expr("n_split * 1000000 div n_docs").as("split_ppm"),
          (col("n_seqs") * col("budget") - col("n_tokens")).as("tail_pad"),
          // token-mass × 10⁶ overflows Long past ~9.2e12 tokens per
          // (budget, source) — DECIMAL(38) numerator, the q210
          // discipline (doc-count ppms like split_ppm stay narrow)
          expr("""CAST(CAST(n_seqs * budget - n_tokens AS DECIMAL(38,0))
            * 1000000 div (n_seqs * budget) AS BIGINT)""")
            .as("pad_ppm"))
        .orderBy(col("budget"), col("source"))
    },
    """WITH d AS (SELECT source, doc_id,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
        FROM documents),
      c AS (SELECT source, tok,
          COALESCE(SUM(tok) OVER (PARTITION BY source ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
        FROM d),
      e AS (SELECT CAST(b.budget AS BIGINT) AS budget, c.source, c.tok,
          c.pre // b.budget AS s0,
          (c.pre + greatest(c.tok, 1) - 1) // b.budget AS s1
        FROM c CROSS JOIN (VALUES (512), (2048), (8192)) b(budget)),
      g AS (SELECT budget, source, COUNT(*) AS n_docs,
          CAST(SUM(tok) AS BIGINT) AS n_tokens,
          CAST(MAX(s1) + 1 AS BIGINT) AS n_seqs,
          CAST(SUM(CASE WHEN s1 > s0 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_split
        FROM e GROUP BY 1, 2)
      SELECT budget, source, n_docs, n_tokens, n_seqs, n_split,
        n_split * 1000000 // n_docs AS split_ppm,
        n_seqs * budget - n_tokens AS tail_pad,
        CAST(CAST(n_seqs * budget - n_tokens AS HUGEINT) * 1000000
          // (n_seqs * budget) AS BIGINT) AS pad_ppm
      FROM g ORDER BY budget, source""")

  /** PER-SOURCE BYTE-BALANCED JSONL SHARDS — the q211 × q107
    * composition: each source stream is exported as 4 JSONL shards
    * balanced by SERIALIZED BYTES (what object-store writers and
    * dataloader workers actually care about), not document counts —
    * a source mixing long and short documents shards evenly anyway.
    * Assignment is deterministic: md5(doc_id)-keyed order, exclusive
    * byte prefix · 4 div source total. Census per (source, shard):
    * line count, byte mass, and the q211 serialization fingerprint
    * (Σ leading-32-bit md5 of each line) — so the oracle pins the
    * exact BYTES each shard would contain, not just its size.
    *
    * Scale shape: serialization + hashing are map-only codegen'd
    * projections; the per-source running byte total is the grouped
    * two-phase kernel (bounded driver state: buckets × |sources|
    * offset rows); only (source, shard) census rows aggregate after
    * that. Nothing corpus-sized ever sits in one task. */
  private val q217 = Q(
    "q217_shard_balance",
    (s, dir) => {
      val line = to_json(struct(col("doc_id"), col("lang"), col("text")))
      val docs = Tables.documents(s, dir)
        .select(col("source"), col("doc_id"),
          md5(col("doc_id").cast("string")).as("k"), line.as("line"))
        .select(col("source"), col("k"),
          length(col("line")).cast("long").as("nb"),
          conv(substring(md5(col("line")), 1, 8), 16, 10)
            .cast("long").as("fp32"))
      GroupedRank.withCumSum(docs, "source", Seq("k"), "nb")
        .withColumn("shard", expr("(cum - nb) * 4 div gtotal"))
        .groupBy(col("source"), col("shard"))
        .agg(count(lit(1)).as("n_lines"), sum(col("nb")).as("n_bytes"),
          sum(col("fp32")).as("fingerprint"))
        .orderBy(col("source"), col("shard"))
    },
    """WITH j AS (SELECT source, doc_id,
          md5(CAST(doc_id AS VARCHAR)) AS k,
          to_json(struct_pack(doc_id := doc_id, lang := lang,
            text := text))::VARCHAR AS line
        FROM documents),
      m AS (SELECT source, k, CAST(length(line) AS BIGINT) AS nb,
          CAST(('0x' || substr(md5(line), 1, 8)) AS BIGINT) AS fp32
        FROM j),
      c AS (SELECT source, nb, fp32,
          SUM(nb) OVER (PARTITION BY source ORDER BY k
            ROWS UNBOUNDED PRECEDING) AS cum,
          SUM(nb) OVER (PARTITION BY source) AS total
        FROM m)
      SELECT source, CAST((cum - nb) * 4 // total AS BIGINT) AS shard,
        COUNT(*) AS n_lines, CAST(SUM(nb) AS BIGINT) AS n_bytes,
        CAST(SUM(fp32) AS BIGINT) AS fingerprint
      FROM c GROUP BY 1, 2 ORDER BY source, shard""")

  /** EPOCH-SHUFFLE FAIRNESS AUDIT — every training epoch reshuffles
    * the corpus with a fresh deterministic permutation (order key
    * md5(epoch:doc_id), the seeded-shuffle idiom that needs no RNG
    * state); this certifies the property dataloaders assume but
    * rarely test: the FIRST 10% of every epoch's order matches the
    * corpus source mixture (no source is systematically front- or
    * back-loaded by the hash). Per (epoch, source): head count, head
    * share, corpus share, signed skew — all ppm-integer.
    *
    * Scale shape: the per-epoch global rank is the grouped two-phase
    * kernel (group = epoch), NOT a single-task-per-epoch window sort
    * — at 100 TB an epoch IS the whole corpus, the exact straggler
    * the kernel exists for. Everything after is a ≤(epochs × sources)
    * census. */
  private val q218 = Q(
    "q218_epoch_order",
    (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"))
      val e = docs.select(col("doc_id"), col("source"),
          explode(array(lit(0L), lit(1L), lit(2L))).as("epoch"))
        .withColumn("ke", md5(concat(col("epoch").cast("string"),
          lit(":"), col("doc_id").cast("string"))))
      val ranked = GroupedRank.withRank(e, "epoch", Seq("ke"))
      val head = ranked.filter(col("rn") * 10 <= col("cnt"))
        .groupBy(col("epoch"), col("source"))
        .agg(count(lit(1)).as("n_head"))
      val headTot = head.groupBy(col("epoch"))
        .agg(sum(col("n_head")).as("head_total"))
      val corpus = docs.groupBy(col("source")).agg(count(lit(1)).as("n_src"))
      val total = docs.agg(count(lit(1)).as("n_total"))
      head.join(headTot, "epoch").join(corpus, "source")
        .crossJoin(broadcast(total))
        .select(col("epoch"), col("source"), col("n_head"),
          expr("n_head * 1000000 div head_total").as("head_ppm"),
          expr("n_src * 1000000 div n_total").as("corpus_ppm"),
          expr("""n_head * 1000000 div head_total
            - n_src * 1000000 div n_total""").as("skew_ppm"))
        .orderBy(col("epoch"), col("source"))
    },
    """WITH e AS (SELECT CAST(b.e AS BIGINT) AS epoch, doc_id, source,
          md5(CAST(b.e AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)) AS ke
        FROM documents CROSS JOIN (VALUES (0), (1), (2)) b(e)),
      r AS (SELECT epoch, source,
          ROW_NUMBER() OVER (PARTITION BY epoch ORDER BY ke) AS rn,
          COUNT(*) OVER (PARTITION BY epoch) AS cnt FROM e),
      h AS (SELECT epoch, source, COUNT(*) AS n_head
        FROM r WHERE rn * 10 <= cnt GROUP BY 1, 2),
      ht AS (SELECT epoch, CAST(SUM(n_head) AS BIGINT) AS head_total
        FROM h GROUP BY 1),
      c AS (SELECT source, COUNT(*) AS n_src FROM documents GROUP BY 1),
      t AS (SELECT COUNT(*) AS n_total FROM documents)
      SELECT epoch, source, n_head,
        n_head * 1000000 // head_total AS head_ppm,
        n_src * 1000000 // n_total AS corpus_ppm,
        n_head * 1000000 // head_total
          - n_src * 1000000 // n_total AS skew_ppm
      FROM h JOIN ht USING (epoch) JOIN c USING (source) CROSS JOIN t
      ORDER BY epoch, source""")

  /** GRAM-SATURATION CURVE — the df-threshold sweep behind every
    * "df ≥ K" knob in the dedup/boilerplate family (q55/q196 pin
    * K=3; this measures what K trades away): for K ∈ {1,2,4,8,16},
    * the share of 8-gram OCCURRENCES and of DISTINCT grams whose
    * corpus document-frequency exceeds K. The occurrence curve is the
    * removable-mass ceiling a boilerplate pass at that threshold
    * could touch; where it flattens is where raising K stops buying
    * precision.
    *
    * Scale shape: ONE gram aggregation (16-byte hash keys, map-side
    * combine) shared across all five thresholds via a 5-way explode
    * of the vocab-sized stats frame; census rows: 5. */
  private val q219 = Q(
    "q219_gram_saturation",
    (s, dir) => {
      // gram occurrences from the shared word-8-gram artifact (one
      // scan+tokenize+md5 pass per session, shared with q220/q233)
      val stats = SharedGrams.word8(s, dir)
        .groupBy(col("gh"))
        .agg(countDistinct(col("doc_id")).as("df"),
          count(lit(1)).as("occ"))
      stats.select(col("df"), col("occ"),
          explode(array(Seq(1, 2, 4, 8, 16).map(k => lit(k.toLong)): _*))
            .as("k"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n_grams"),
          sum(col("occ")).as("n_occ"),
          sum(when(col("df") > col("k"), 1L).otherwise(0L))
            .as("grams_over"),
          sum(when(col("df") > col("k"), col("occ")).otherwise(0L))
            .as("occ_over"))
        .select(col("k"), col("grams_over"), col("occ_over"),
          // gram/occurrence masses × 10⁶ need DECIMAL(38) headroom
          // past ~9.2e12 corpus grams (the q210 discipline)
          expr("""CAST(CAST(grams_over AS DECIMAL(38,0)) * 1000000
            div n_grams AS BIGINT)""").as("gram_share_ppm"),
          expr("""CAST(CAST(occ_over AS DECIMAL(38,0)) * 1000000
            div n_occ AS BIGINT)""").as("occ_share_ppm"))
        .orderBy(col("k"))
    },
    """WITH ts AS (SELECT doc_id, string_split(text, ' ') AS ts
        FROM documents),
      g AS (SELECT doc_id,
          array_to_string(list_slice(ts, CAST(i AS INT),
            CAST(i AS INT) + 7), ' ') AS g
        FROM ts, UNNEST(range(1, len(ts) - 6)) AS u(i)
        WHERE len(ts) >= 8),
      st AS (SELECT g, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df,
          CAST(COUNT(*) AS BIGINT) AS occ
        FROM g GROUP BY 1),
      e AS (SELECT st.df, st.occ, CAST(b.k AS BIGINT) AS k
        FROM st CROSS JOIN (VALUES (1), (2), (4), (8), (16)) b(k)),
      a AS (SELECT k, COUNT(*) AS n_grams, CAST(SUM(occ) AS BIGINT) AS n_occ,
          CAST(SUM(CASE WHEN df > k THEN 1 ELSE 0 END) AS BIGINT)
            AS grams_over,
          CAST(SUM(CASE WHEN df > k THEN occ ELSE 0 END) AS BIGINT)
            AS occ_over
        FROM e GROUP BY 1)
      SELECT k, grams_over, occ_over,
        CAST(CAST(grams_over AS HUGEINT) * 1000000 // n_grams AS BIGINT)
          AS gram_share_ppm,
        CAST(CAST(occ_over AS HUGEINT) * 1000000 // n_occ AS BIGINT)
          AS occ_share_ppm
      FROM a ORDER BY k""")

  /** DELTA-BATCH NOVELTY SCORING — the crawl-ingest readout that
    * complements the incremental dedup family (q96 pairs / q173
    * chunks / q191 KMV / q212 components): a new batch (doc_id % 7
    * == 0 — 7 is coprime to the corpus's 25-doc source blocks, so
    * every source lands in the delta) is scored against the HISTORY
    * corpus's stored 8-gram index — per source: gram mass, grams
    * never seen in history, novelty ppm, and the count of
    * high-novelty docs (>500k ppm) an ingest policy would fast-path
    * past the near-dup stages. History text is never re-read beyond
    * building the index once; at 100 TB the index IS the persisted
    * artifact and the batch-side cost is one hash-keyed semi-join.
    *
    * Scale shape: history index = one distinct over 16-byte gram
    * hashes; delta scoring = left join on gh (hash-only exchange);
    * census per (source) after a per-doc aggregate. */
  private val q220 = Q(
    "q220_delta_novelty",
    (s, dir) => {
      // gram occurrences from the shared word-8-gram artifact (one
      // scan+tokenize+md5 pass per session, shared with q219/q233)
      val g8 = SharedGrams.word8(s, dir)
      val hist = g8.filter(col("doc_id") % 7 =!= 0)
        .select(col("gh")).distinct()
      val perDoc = g8.filter(col("doc_id") % 7 === 0)
        .join(hist.withColumn("seen", lit(1L)), Seq("gh"), "left")
        .groupBy(col("doc_id"), col("source"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("seen").isNull, 1L).otherwise(0L)).as("n_novel"))
      perDoc.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_grams")).as("sum_grams"),
          sum(col("n_novel")).as("sum_novel"),
          sum(when(col("n_novel") * 2 > col("n_grams"), 1L)
            .otherwise(0L)).as("high_novelty_docs"))
        .select(col("source"), col("n_docs"), col("sum_grams"),
          col("sum_novel"),
          // gram mass × 10⁶ — DECIMAL(38) numerator (q210 discipline)
          expr("""CAST(CAST(sum_novel AS DECIMAL(38,0)) * 1000000
            div greatest(sum_grams, 1L) AS BIGINT)""")
            .as("novelty_ppm"),
          col("high_novelty_docs"))
        .orderBy(col("source"))
    },
    """WITH ts AS (SELECT doc_id, source,
          string_split(text, ' ') AS ts FROM documents),
      g AS (SELECT doc_id, source,
          array_to_string(list_slice(ts, CAST(i AS INT),
            CAST(i AS INT) + 7), ' ') AS g
        FROM ts, UNNEST(range(1, len(ts) - 6)) AS u(i)
        WHERE len(ts) >= 8),
      hist AS (SELECT DISTINCT g FROM g WHERE doc_id % 7 <> 0),
      pd AS (SELECT d.doc_id, d.source,
          CAST(COUNT(*) AS BIGINT) AS n_grams,
          CAST(SUM(CASE WHEN h.g IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS n_novel
        FROM g d LEFT JOIN hist h ON d.g = h.g
        WHERE d.doc_id % 7 = 0
        GROUP BY 1, 2)
      SELECT source, COUNT(*) AS n_docs,
        CAST(SUM(n_grams) AS BIGINT) AS sum_grams,
        CAST(SUM(n_novel) AS BIGINT) AS sum_novel,
        CAST(CAST(SUM(n_novel) AS HUGEINT) * 1000000
          // greatest(CAST(SUM(n_grams) AS BIGINT), 1) AS BIGINT)
          AS novelty_ppm,
        CAST(SUM(CASE WHEN n_novel * 2 > n_grams THEN 1 ELSE 0 END)
          AS BIGINT) AS high_novelty_docs
      FROM pd GROUP BY 1 ORDER BY source""")

  /** CURRICULUM INTERLEAVE FAIRNESS — the q166 × q218 composition:
    * after the curriculum cut (4 equal-rank quality stages via the
    * two-phase global prefix-rank kernel, exactly q166's assignment),
    * each stage's documents are shuffled by a seeded md5 key and the
    * per-source POSITION distribution inside each stage is audited:
    * a fair interleave puts every source's mean normalized position
    * at ~500 000 ppm regardless of how skewed the stage's source
    * mixture is. The readout a curriculum data loader needs before
    * trusting "sorted by quality, shuffled within stage" — a source
    * clumped at a stage's tail trains later than its share suggests.
    *
    * Scale shape: stage assignment is the global two-phase kernel
    * (q137/q166's — no global window), the within-stage shuffle rank
    * is the GROUPED two-phase kernel partitioned by stage (4 groups
    * × 32 range buckets — no single-task-per-stage sort), and the
    * census is |stages| × |sources| rows. Σrn per (stage, source) is
    * O(n²) so the mean is computed in DECIMAL(38) (the q210
    * discipline); everything else is integer ppm. */
  private val q221 = Q(
    "q221_curriculum_interleave",
    (s, dir) => {
      val scored = Tables.documents(s, dir).select(col("doc_id"),
        col("source"),
        floor(TextAnalysis.qualityScore(col("text")) * 1000000)
          .cast("long").as("score_fp"))
      // same out-of-range guard convention as q137/q166: mis-ranking
      // must fail loudly, never silently
      val guarded = when(col("score_fp").between(0L, 999999999999999L),
        col("score_fp"))
        .otherwise(raise_error(concat(
          lit("q221: score_fp outside the sort-key range: "),
          col("score_fp").cast("string"))).cast("long"))
      val keyed = scored.select(col("doc_id"), col("source"),
        concat(
          lpad((lit(1000000000000000L) - guarded).cast("string"), 16, "0"),
          lit("-"), lpad(col("doc_id").cast("string"), 12, "0")).as("k"),
        lit(1L).as("one"))
        .localCheckpoint() // count + withCumWeight read one lineage
      val n = keyed.count()
      val staged = graft.operators.WeightedSample
        .withCumWeight(keyed, "k", "one")
        .select(col("doc_id"), col("source"),
          expr(s"CAST((cum - 1) * 4 div $n AS BIGINT)").as("stage"))
      val e = staged.select(col("stage"), col("source"),
        md5(col("doc_id").cast("string")).as("ke"))
      GroupedRank.withRank(e, "stage", Seq("ke"))
        .groupBy(col("stage"), col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("rn")).as("sum_rn"),
          max(col("cnt")).as("cnt"))
        .select(col("stage"), col("source"), col("n_docs"),
          expr("n_docs * 1000000 div cnt").as("share_ppm"),
          // denominator widened too: cnt is stage size (~n/4), so
          // n_docs·cnt is O(n²) and overflows Long past ~6e9 docs —
          // exactly the scale the DECIMAL(38) numerator was bought for
          expr("""CAST(CAST(sum_rn AS DECIMAL(38,0)) * 1000000
            div (CAST(n_docs AS DECIMAL(38,0)) * cnt) AS BIGINT)""")
            .as("mean_pos_ppm"))
        .orderBy(col("stage"), col("source"))
    },
    s"""WITH scored AS (
        SELECT doc_id, source,
          CAST(FLOOR(${OracleSql.qualityScore} * 1000000) AS BIGINT) AS score_fp
        FROM documents),
      ranked AS (
        SELECT doc_id, source,
          ROW_NUMBER() OVER (ORDER BY score_fp DESC, doc_id ASC) AS rnk,
          COUNT(*) OVER () AS n
        FROM scored),
      st AS (SELECT doc_id, source, (rnk - 1) * 4 // n AS stage
        FROM ranked),
      e AS (SELECT stage, source, md5(CAST(doc_id AS VARCHAR)) AS ke
        FROM st),
      r AS (SELECT stage, source,
          ROW_NUMBER() OVER (PARTITION BY stage ORDER BY ke) AS rn,
          COUNT(*) OVER (PARTITION BY stage) AS cnt
        FROM e),
      g AS (SELECT stage, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(rn) AS HUGEINT) AS sum_rn,
          CAST(MAX(cnt) AS BIGINT) AS cnt
        FROM r GROUP BY 1, 2)
      SELECT CAST(stage AS BIGINT) AS stage, source, n_docs,
        n_docs * 1000000 // cnt AS share_ppm,
        CAST(sum_rn * 1000000 // (CAST(n_docs AS HUGEINT) * cnt) AS BIGINT)
          AS mean_pos_ppm
      FROM g ORDER BY stage, source""")

  /** PACKING CROSS-SOURCE CONTAMINATION CENSUS — the q216 follow-up
    * question: when the WHOLE corpus is packed into fixed-budget
    * sequences in one shuffled stream (md5 order — the realistic
    * single-dataloader layout, vs q216's per-source streams), how
    * many sequences mix documents from k distinct sources? Each
    * packed sequence that mixes sources lets attention bleed across
    * provenance boundaries; the histogram over (budget, n_sources)
    * quantifies how much of that a budget choice buys. Documents are
    * attributed to the sequence where they START (the deterministic
    * bounded choice; a doc spanning sequences is counted once).
    *
    * Scale shape: the global running token total is the two-phase
    * range-partitioned prefix-sum kernel (no global window at any
    * size); the 3-budget fan-out is a map-only explode of the already
    * cumsum'd rows; the per-(budget, seq) distinct-source count
    * shuffles (budget, seq)-keyed rows once; census rows: 3 × ≤
    * |sources| — bounded. Empty docs carry weight 1 so the pack
    * order stays total and every doc occupies a slot. */
  private val q222 = Q(
    "q222_packing_contamination",
    (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("source"),
        md5(col("doc_id").cast("string")).as("ke"),
        greatest(TextAnalysis.tokenCount(col("text")).cast("long"),
          lit(1L)).as("w"))
      val pre = graft.operators.WeightedSample
        .withCumWeight(docs, "ke", "w")
        .withColumn("pre", col("cum") - col("w"))
      pre.select(col("source"), col("pre"),
          explode(array(lit(512L), lit(2048L), lit(8192L))).as("budget"))
        .select(col("budget"), col("source"),
          expr("pre div budget").as("seq"))
        .groupBy(col("budget"), col("seq"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("source")).as("n_sources"))
        .groupBy(col("budget"), col("n_sources"))
        .agg(count(lit(1)).as("n_seqs"), sum(col("n_docs")).as("n_docs"))
        .orderBy(col("budget"), col("n_sources"))
    },
    """WITH d AS (SELECT source,
          md5(CAST(doc_id AS VARCHAR)) AS ke,
          GREATEST(CAST(len(string_split(text, ' ')) AS BIGINT), 1) AS w
        FROM documents),
      c AS (SELECT source, w,
          COALESCE(SUM(w) OVER (ORDER BY ke
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
        FROM d),
      e AS (SELECT CAST(b.budget AS BIGINT) AS budget, source,
          pre // b.budget AS seq
        FROM c CROSS JOIN (VALUES (512), (2048), (8192)) b(budget)),
      g AS (SELECT budget, seq, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
        FROM e GROUP BY 1, 2)
      SELECT budget, n_sources, CAST(COUNT(*) AS BIGINT) AS n_seqs,
        CAST(SUM(n_docs) AS BIGINT) AS n_docs
      FROM g GROUP BY 1, 2 ORDER BY budget, n_sources""")

  /** WINNOWING FINGERPRINT CENSUS (Schleimer/Wilkerson/Aiken 2003,
    * the MOSS local fingerprinting scheme) — the guarantee-bearing
    * member of the fingerprint family (q25 hashes whole docs, minhash
    * sketches global similarity): from every window of w=4
    * consecutive word-4-gram hashes select the minimum, so any shared
    * substring of ≥ 7 tokens is GUARANTEED to share a fingerprint —
    * the property plagiarism/near-dup span detection needs and random
    * sampling can't give. Census per source: winnowable docs, grams,
    * selected fingerprints, density ppm (theory: ~2/(w+1) of windows
    * for random hashes), and fingerprints shared by ≥2 docs of the
    * source (the local-copy signal). Docs with fewer than w grams
    * (< 7 tokens) carry no windows and are excluded on BOTH sides.
    *
    * Scale shape: grams never shuffle as strings — the hash is
    * computed map-side and the window fan-out (4×) explodes integer
    * (doc, j, h) rows only; everything aggregates by (doc, window)
    * then (source, fp) hash keys. All-integer arithmetic. */
  private val q223 = Q(
    "q223_winnowing",
    (s, dir) => {
      // the selected-fingerprint pass is the shared artifact
      // (SharedWinnow, q226's screen reads the same rows)
      val sel = SharedWinnow.selected(s, dir)
      val perDoc = sel.groupBy(col("doc_id"), col("source"))
        .agg(max(col("ng")).as("ngr"), countDistinct(col("fp")).as("nfp"))
      val cen = perDoc.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("ngr")).as("n_grams"),
          sum(col("nfp")).as("n_fp"))
      val shared = sel.select(col("source"), col("doc_id"), col("fp"))
        .distinct()
        .groupBy(col("source"), col("fp"))
        .agg(count(lit(1)).as("nd"))
        .filter(col("nd") >= 2)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_shared_fp"))
      cen.join(shared, Seq("source"), "left")
        .select(col("source"), col("n_docs"), col("n_grams"), col("n_fp"),
          // fingerprint mass × 10⁶ — DECIMAL(38) numerator
          expr("""CAST(CAST(n_fp AS DECIMAL(38,0)) * 1000000
            div n_grams AS BIGINT)""").as("density_ppm"),
          coalesce(col("n_shared_fp"), lit(0L)).as("n_shared_fp"))
        .orderBy(col("source"))
    },
    s"""WITH ${OracleSql.winnowSel(keep = "source")},
      pd AS (SELECT doc_id, source, MAX(ng) AS ngr,
          CAST(COUNT(DISTINCT fp) AS BIGINT) AS nfp
        FROM sel GROUP BY 1, 2),
      cen AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(ngr) AS BIGINT) AS n_grams,
          CAST(SUM(nfp) AS BIGINT) AS n_fp
        FROM pd GROUP BY 1),
      df2 AS (SELECT DISTINCT source, doc_id, fp FROM sel),
      sh AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_shared_fp
        FROM (SELECT source, fp FROM df2
          GROUP BY source, fp HAVING COUNT(*) >= 2)
        GROUP BY 1)
      SELECT cen.source, n_docs, n_grams, n_fp,
        CAST(CAST(n_fp AS HUGEINT) * 1000000 // n_grams AS BIGINT)
          AS density_ppm,
        COALESCE(sh.n_shared_fp, 0) AS n_shared_fp
      FROM cen LEFT JOIN sh ON sh.source = cen.source
      ORDER BY cen.source""")

  /** BATCH-PADDING WASTE — the OTHER batching strategy next to q216's
    * concatenate-and-chop packing: pad-to-longest batches of 32. Two
    * loader orders through the SAME kernel: md5-shuffled (what a
    * naive loader does) vs length-sorted (the lower bound a
    * length-bucketing sampler approaches) — the padded-token mass and
    * waste ppm of each, quantifying what length bucketing is worth
    * before anyone builds it. Empty docs carry weight 1 (a pad slot
    * is still a row).
    *
    * Scale shape: each order is one global two-phase prefix rank (no
    * global window), batch stats are (batch)-keyed hash aggs, census
    * is 2 rows. Waste ratio in DECIMAL(38) (q210 discipline) since
    * padded mass is corpus-sized × max length. */
  private val q224 = Q(
    "q224_batch_padding",
    (s, dir) => {
      val base = Tables.documents(s, dir).select(col("doc_id"),
        greatest(TextAnalysis.tokenCount(col("text")).cast("long"),
          lit(1L)).as("tok"))
      def strat(name: String, key: org.apache.spark.sql.Column) =
        graft.operators.WeightedSample.withCumWeight(
            base.select(col("doc_id"), col("tok"), key.as("k"),
              lit(1L).as("one")), "k", "one")
          .select(col("tok"), expr("(cum - 1) div 32").as("batch"))
          .groupBy(col("batch"))
          .agg(count(lit(1)).as("nb"), max(col("tok")).as("mx"),
            sum(col("tok")).as("st"))
          .agg(count(lit(1)).as("n_batches"),
            sum(col("nb") * col("mx")).as("padded_tokens"),
            sum(col("st")).as("real_tokens"))
          .select(lit(name).as("strategy"), col("n_batches"),
            col("padded_tokens"), col("real_tokens"),
            expr("""CAST(CAST(padded_tokens - real_tokens
              AS DECIMAL(38,0)) * 1000000 div padded_tokens AS BIGINT)""")
              .as("waste_ppm"))
      strat("shuffled", md5(col("doc_id").cast("string")))
        .unionAll(strat("sorted",
          concat(lpad(col("tok").cast("string"), 12, "0"), lit("-"),
            lpad(col("doc_id").cast("string"), 12, "0"))))
        .orderBy(col("strategy"))
    },
    """WITH d AS (SELECT doc_id,
          GREATEST(CAST(len(string_split(text, ' ')) AS BIGINT), 1)
            AS tok FROM documents),
      ra AS (SELECT tok, (ROW_NUMBER() OVER (
            ORDER BY md5(CAST(doc_id AS VARCHAR))) - 1) // 32 AS batch
        FROM d),
      rb AS (SELECT tok, (ROW_NUMBER() OVER (
            ORDER BY lpad(CAST(tok AS VARCHAR), 12, '0') || '-' ||
              lpad(CAST(doc_id AS VARCHAR), 12, '0')) - 1) // 32
          AS batch
        FROM d),
      ga AS (SELECT batch, COUNT(*) AS nb, MAX(tok) AS mx,
          SUM(tok) AS st FROM ra GROUP BY 1),
      gb AS (SELECT batch, COUNT(*) AS nb, MAX(tok) AS mx,
          SUM(tok) AS st FROM rb GROUP BY 1),
      sa AS (SELECT 'shuffled' AS strategy,
          CAST(COUNT(*) AS BIGINT) AS n_batches,
          CAST(SUM(nb * mx) AS BIGINT) AS padded_tokens,
          CAST(SUM(st) AS BIGINT) AS real_tokens FROM ga),
      sb AS (SELECT 'sorted' AS strategy,
          CAST(COUNT(*) AS BIGINT) AS n_batches,
          CAST(SUM(nb * mx) AS BIGINT) AS padded_tokens,
          CAST(SUM(st) AS BIGINT) AS real_tokens FROM gb)
      SELECT strategy, n_batches, padded_tokens, real_tokens,
        CAST(CAST(padded_tokens - real_tokens AS HUGEINT) * 1000000
          // padded_tokens AS BIGINT) AS waste_ppm
      FROM (SELECT * FROM sa UNION ALL SELECT * FROM sb)
      ORDER BY strategy""")

  /** CURRICULUM-ORDER PACKING CONTAMINATION — the q221 × q222
    * composition, answering the question the two leave open: does
    * curriculum ordering (quality stages, shuffled within stage —
    * q221's loader order) change how much cross-source mixing the
    * packer produces vs the pure md5 shuffle (q222's order)? Same
    * packing kernel, same 2048-token budget, BOTH orders side by
    * side: per (strategy, n_sources-in-sequence) histogram. If
    * quality correlates with source, curriculum ordering segregates
    * sources into stages and the mixed-sequence mass drops — a
    * subtle provenance effect of curriculum training this census
    * makes visible before anyone trains on it.
    *
    * Scale shape: two global prefix sums (the two orders) through the
    * same range-partitioned kernel; the curriculum key is the q166
    * stage cut (one extra prefix-rank pass) concatenated with the
    * within-stage md5 — all key construction map-side, census rows
    * 2 × ≤ |sources|. */
  private val q228 = Q(
    "q228_curriculum_packing",
    (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"),
        col("source"),
        floor(TextAnalysis.qualityScore(col("text")) * 1000000)
          .cast("long").as("score_fp"),
        greatest(TextAnalysis.tokenCount(col("text")).cast("long"),
          lit(1L)).as("w"))
      val guarded = when(col("score_fp").between(0L, 999999999999999L),
        col("score_fp"))
        .otherwise(raise_error(concat(
          lit("q228: score_fp outside the sort-key range: "),
          col("score_fp").cast("string"))).cast("long"))
      val keyed = docs.select(col("doc_id"), col("source"), col("w"),
        concat(
          lpad((lit(1000000000000000L) - guarded).cast("string"), 16, "0"),
          lit("-"), lpad(col("doc_id").cast("string"), 12, "0")).as("k"),
        lit(1L).as("one"))
        .localCheckpoint()
      val n = keyed.count()
      val staged = graft.operators.WeightedSample
        .withCumWeight(keyed, "k", "one")
        .select(col("doc_id"), col("source"), col("w"),
          expr(s"CAST((cum - 1) * 4 div $n AS BIGINT)").as("stage"))
      def hist(name: String, ordered: org.apache.spark.sql.DataFrame) =
        graft.operators.WeightedSample.withCumWeight(ordered, "ke", "w")
          .withColumn("pre", col("cum") - col("w"))
          .select(col("source"), expr("pre div 2048").as("seq"))
          .groupBy(col("seq"))
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("source")).as("n_sources"))
          .groupBy(col("n_sources"))
          .agg(count(lit(1)).as("n_seqs"), sum(col("n_docs")).as("n_docs"))
          .select(lit(name).as("strategy"), col("n_sources"),
            col("n_seqs"), col("n_docs"))
      val shuffled = staged.select(col("source"), col("w"),
        md5(col("doc_id").cast("string")).as("ke"))
      val curriculum = staged.select(col("source"), col("w"),
        concat(col("stage").cast("string"), lit(":"),
          md5(col("doc_id").cast("string"))).as("ke"))
      hist("curriculum", curriculum).unionAll(hist("shuffled", shuffled))
        .orderBy(col("strategy"), col("n_sources"))
    },
    s"""WITH scored AS (
        SELECT doc_id, source,
          GREATEST(CAST(len(string_split(text, ' ')) AS BIGINT), 1) AS w,
          CAST(FLOOR(${OracleSql.qualityScore} * 1000000) AS BIGINT) AS score_fp
        FROM documents),
      ranked AS (
        SELECT doc_id, source, w,
          ROW_NUMBER() OVER (ORDER BY score_fp DESC, doc_id ASC) AS rnk,
          COUNT(*) OVER () AS n
        FROM scored),
      st AS (SELECT doc_id, source, w, (rnk - 1) * 4 // n AS stage
        FROM ranked),
      oc AS (SELECT source, w,
          CAST(stage AS VARCHAR) || ':' ||
            md5(CAST(doc_id AS VARCHAR)) AS ke
        FROM st),
      os AS (SELECT source, w, md5(CAST(doc_id AS VARCHAR)) AS ke
        FROM st),
      cc AS (SELECT source,
          COALESCE(SUM(w) OVER (ORDER BY ke
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            // 2048 AS seq
        FROM oc),
      cs AS (SELECT source,
          COALESCE(SUM(w) OVER (ORDER BY ke
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            // 2048 AS seq
        FROM os),
      gc AS (SELECT seq, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
        FROM cc GROUP BY 1),
      gs AS (SELECT seq, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
        FROM cs GROUP BY 1),
      hc AS (SELECT 'curriculum' AS strategy, n_sources,
          CAST(COUNT(*) AS BIGINT) AS n_seqs,
          CAST(SUM(n_docs) AS BIGINT) AS n_docs
        FROM gc GROUP BY 2),
      hs AS (SELECT 'shuffled' AS strategy, n_sources,
          CAST(COUNT(*) AS BIGINT) AS n_seqs,
          CAST(SUM(n_docs) AS BIGINT) AS n_docs
        FROM gs GROUP BY 2)
      SELECT strategy, n_sources, n_seqs, n_docs
      FROM (SELECT * FROM hc UNION ALL SELECT * FROM hs)
      ORDER BY strategy, n_sources""")

  /** WINNOWING POSITION CENSUS — the STORAGE-cost readout q223's
    * value census can't give: Schleimer et al.'s density theorem
    * (2/(w+1) of positions selected in expectation) is about
    * POSITIONS under the rightmost-minimum tie rule, and the number
    * of stored (position, fingerprint) entries is what sizes a
    * fingerprint index. Per source: winnowable docs, windows,
    * distinct selected positions, and the position density ppm —
    * read next to the ~400 000 ppm theory line (w = 4 ⇒ 2/5).
    *
    * Scale shape: one cheap view over the SharedWinnow artifact
    * (which carries the rightmost-min position since this query
    * landed); census rows: |sources|. Density in DECIMAL(38) —
    * window mass is token-mass-scaled. */
  private val q229 = Q(
    "q229_winnow_positions",
    (s, dir) => {
      val sel = SharedWinnow.selected(s, dir)
      sel.groupBy(col("doc_id"), col("source"), col("ng"))
        .agg(countDistinct(col("spos")).as("n_pos"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ng") - 3L).as("n_windows"),
          sum(col("n_pos")).as("n_positions"))
        .select(col("source"), col("n_docs"), col("n_windows"),
          col("n_positions"),
          expr("""CAST(CAST(n_positions AS DECIMAL(38,0)) * 1000000
            div n_windows AS BIGINT)""").as("pos_density_ppm"))
        .orderBy(col("source"))
    },
    s"""WITH ${OracleSql.winnowSel(keep = "source")},
      sp AS (SELECT w.doc_id, w.source, w.ng, w.j, MAX(w.p) AS spos
        FROM win w JOIN sel m
          ON m.doc_id = w.doc_id AND m.j = w.j AND w.h = m.fp
        GROUP BY 1, 2, 3, 4),
      pd AS (SELECT doc_id, source, MAX(ng) AS ng,
          CAST(COUNT(DISTINCT spos) AS BIGINT) AS n_pos
        FROM sp GROUP BY 1, 2)
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(ng - 3) AS BIGINT) AS n_windows,
        CAST(SUM(n_pos) AS BIGINT) AS n_positions,
        CAST(CAST(SUM(n_pos) AS HUGEINT) * 1000000
          // SUM(ng - 3) AS BIGINT) AS pos_density_ppm
      FROM pd GROUP BY 1 ORDER BY source""")

  val list: Seq[Q] = Seq(q216, q217, q218, q219, q220, q221, q222,
    q223, q224, q228, q229)
}
