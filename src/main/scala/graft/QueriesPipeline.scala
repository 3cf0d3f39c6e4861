package graft

import org.apache.spark.sql.functions._

import graft.Queries.Q
import graft.operators.{Curation, TextAnalysis}

/** Training-data-pipeline queries, continued (q55+): corpus curation
  * operations beyond the reference's own surface — cross-document
  * boilerplate detection, n-gram-level decontamination, vocabulary
  * statistics, and sequence packing. Same determinism rules as
  * [[Queries]] (total ORDER BY, integer/decimal arithmetic on anything
  * hashed, aliases matched to the oracle SQL).
  *
  * Shuffle-economy rule shared by the n-gram queries here: grams are
  * md5-hashed BEFORE the first shuffle, so only 16-byte keys move —
  * the gram text itself never leaves the scan stage. Grouping by
  * md5(gram) and grouping by the gram string partition rows
  * identically (collisions are 2^-128), so the DuckDB oracles can use
  * the raw string while the Spark plan ships hashes.
  */
object QueriesPipeline {

  /** Cross-document boilerplate n-gram detection — the shared-footer /
    * template-text filter in large-corpus curation (the line-dedup family;
    * this corpus has no newlines, so the unit is the word 8-gram). An
    * 8-word sentinel is appended to every 7th doc so the flag path
    * executes; detection itself is purely cross-document: distinct
    * (gram, doc) pairs → grams present in >= 3 distinct docs → flag any
    * doc containing one. Two shuffles, both on 16-byte gram hashes. */
  private val q55 = Q(
    "q55_boilerplate_ngrams",
    (s, dir) => {
      // rides the shared sentinel-8-gram artifact (one explode pass per
      // session serves this detector and the q196 rewriter); the
      // per-position rows make countDistinct(doc_id) the df measure —
      // identical to Curation.boilerplateDocs over distinct (doc, gh)
      val docs = SharedGrams.sentinelDocs(s, dir)
      val grams = SharedGrams.sentinel8(s, dir)
      val boiler = grams.groupBy(col("gh"))
        .agg(countDistinct(col("doc_id")).as("ndocs"))
        .filter(col("ndocs") >= 3).select(col("gh"))
      val flagged = grams.join(boiler, Seq("gh"), "left_semi")
        .select(col("doc_id")).distinct()
        .withColumn("flag", lit(1))
      docs.join(flagged, Seq("doc_id"), "left")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"), count(col("flag")).as("flagged"))
        .orderBy(col("lang"))
    },
    """WITH d AS (
        SELECT doc_id, lang,
          CASE WHEN doc_id % 7 = 0
               THEN text || ' all rights reserved contact site admin for removal'
               ELSE text END AS txt
        FROM documents),
      toks AS (SELECT doc_id, lang, string_split(txt, ' ') AS t FROM d),
      grams AS (
        SELECT DISTINCT doc_id, g FROM (
          SELECT doc_id, UNNEST(list_transform(range(1, len(t) - 6),
            i -> array_to_string(
              list_slice(t, CAST(i AS INT), CAST(i AS INT) + 7), ' '))) AS g
          FROM toks WHERE len(t) >= 8)),
      boiler AS (SELECT g FROM grams GROUP BY g HAVING COUNT(*) >= 3),
      flagged AS (SELECT DISTINCT doc_id FROM grams
                  WHERE g IN (SELECT g FROM boiler))
      SELECT lang, COUNT(*) AS docs, COUNT(f.doc_id) AS flagged
      FROM d LEFT JOIN flagged f USING (doc_id)
      GROUP BY 1 ORDER BY lang""")

  /** n-gram-level train/test decontamination — the GPT-3-appendix-style
    * leakage audit that exact-hash contamination (q50) misses: a train
    * doc is contaminated if it shares ANY word 5-gram with any test-split
    * doc. Split assignment reuses q50's md5 bucket scheme; a 6-word
    * benchmark-ish sentinel on every 11th doc guarantees cross-split
    * overlap. Scale shape: test grams (the small side, distinct-reduced)
    * feed a LEFT SEMI join against train grams — hashes only. */
  private val q56 = Q(
    "q56_ngram_decontaminate",
    (s, dir) => {
      val h = substring(
        md5(concat(lit("split:"), col("doc_id").cast("string"))), 1, 1)
      val split = when(h.isin("d"), "val")
        .when(h.isin("e", "f"), "test")
        .otherwise("train")
      val txt = when(col("doc_id") % 11 === 0,
        concat_ws(" ", col("text"), lit("what is the capital of france")))
        .otherwise(col("text"))
      val base = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), split.as("split"), txt.as("txt"))
      val contaminated = Curation.contaminatedDocs(
          base.filter(col("split") === "train"),
          base.filter(col("split") === "test"),
          "doc_id", "txt", n = 5)
        .withColumn("hit", lit(1))
      base.filter(col("split") === "train")
        .join(contaminated, Seq("doc_id"), "left")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("train_docs"), count(col("hit")).as("contaminated"))
        .orderBy(col("lang"))
    },
    """WITH d AS (
        SELECT doc_id, lang,
          CASE substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 1)
            WHEN 'd' THEN 'val'
            WHEN 'e' THEN 'test' WHEN 'f' THEN 'test'
            ELSE 'train' END AS split,
          CASE WHEN doc_id % 11 = 0
               THEN text || ' what is the capital of france'
               ELSE text END AS txt
        FROM documents),
      toks AS (SELECT doc_id, lang, split, string_split(txt, ' ') AS t FROM d),
      grams AS (
        SELECT doc_id, split, UNNEST(list_transform(range(1, len(t) - 3),
          i -> array_to_string(
            list_slice(t, CAST(i AS INT), CAST(i AS INT) + 4), ' '))) AS g
        FROM toks WHERE len(t) >= 5),
      testg AS (SELECT DISTINCT g FROM grams WHERE split = 'test'),
      cont AS (SELECT DISTINCT doc_id FROM grams
               WHERE split = 'train' AND g IN (SELECT g FROM testg))
      SELECT lang, COUNT(*) AS train_docs, COUNT(c.doc_id) AS contaminated
      FROM d LEFT JOIN cont c USING (doc_id)
      WHERE d.split = 'train'
      GROUP BY 1 ORDER BY lang""")

  /** Vocabulary head — corpus token-frequency statistics (the Zipf-head
    * audit run before tokenizer training): term frequency + document
    * frequency per token, top 20 by tf with deterministic ties. One
    * explode, one shuffle on the token; countDistinct(doc_id) rides the
    * same aggregation. TakeOrderedAndProject caps the result exchange. */
  private val q57 = Q(
    "q57_vocab_topk",
    (s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .groupBy(col("tok"))
        .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
        .orderBy(col("tf").desc, col("tok").asc)
        .limit(20)
    },
    """WITH toks AS (
        SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents)
      SELECT tok, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
      FROM toks GROUP BY 1
      ORDER BY tf DESC, tok ASC LIMIT 20""")

  /** Sequence packing — concatenate-and-chop document packing into
    * fixed token-budget training sequences (budget 512): exclusive
    * prefix sum of token counts per source stream, seq = prefix div
    * budget, then a per-source fill census. The window partitions by
    * source, so streams pack in parallel; at 100 TB the unit would be
    * (source, shard) with the same plan. Integer arithmetic end to end
    * (the lone division is exact: counts < 2^53). */
  private val q58 = Q(
    "q58_seq_packing",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("source"), col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("tok"))
      val packed = Curation.packSequences(docs, "source", "doc_id",
        "tok", budget = 512L)
      packed.groupBy(col("source"), col("seq"))
        .agg(count(lit(1)).as("docs"), sum(col("tok")).as("tokens"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("seqs"), sum(col("docs")).as("docs"),
          max(col("tokens")).as("max_fill"), min(col("tokens")).as("min_fill"))
        .orderBy(col("source"))
    },
    """WITH d AS (
        SELECT source, doc_id, len(string_split(text, ' ')) AS tok
        FROM documents),
      p AS (SELECT source, doc_id, tok,
          CAST(FLOOR(COALESCE(SUM(tok) OVER (
            PARTITION BY source ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 512.0)
            AS BIGINT) AS seq
        FROM d),
      b AS (SELECT source, seq, COUNT(*) AS docs,
              CAST(SUM(tok) AS BIGINT) AS tokens
            FROM p GROUP BY 1, 2)
      SELECT source, COUNT(*) AS seqs, CAST(SUM(docs) AS BIGINT) AS docs,
        MAX(tokens) AS max_fill, MIN(tokens) AS min_fill
      FROM b GROUP BY 1 ORDER BY source""")

  /** TF-IDF keyword extraction per language — the class-keyword audit a
    * curation pipeline runs to sanity-check domain labels: term frequency
    * within the language stratum × inverse document frequency over the
    * whole corpus, top 5 terms per language. Determinism: score =
    * (tf·N)::double / df is exact-int arithmetic followed by ONE
    * correctly-rounded IEEE division — bit-identical across engines — and
    * the score itself is never emitted (rank/tf/df only, per the
    * double→decimal hash rule).
    *
    * Plan shape: one explode, one (doc,tok) pre-aggregation; lang-tf and
    * corpus-df both derive from it (two further shuffles on the token —
    * vocabulary cardinality, not corpus cardinality). N arrives as a
    * broadcast scalar (1-row cross join), never a collect. */
  private val q59 = Q(
    "q59_tfidf_keywords",
    (s, dir) => {
      val perDoc = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .groupBy(col("doc_id"), col("lang"), col("tok"))
        .agg(count(lit(1)).as("tfd"))
      val langTf = perDoc.groupBy(col("lang"), col("tok"))
        .agg(sum(col("tfd")).as("tf"))
      val df = perDoc.groupBy(col("tok"))
        .agg(count(lit(1)).as("df"))
      val n = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
      val scored = langTf.join(df, "tok")
        .crossJoin(broadcast(n))
        .withColumn("score",
          (col("tf") * col("n_docs")).cast("double") / col("df"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang"))
        .orderBy(col("score").desc, col("tok").asc)
      scored
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
        .select(col("lang"), col("rank"), col("tok"), col("tf"), col("df"))
        .orderBy(col("lang"), col("rank"))
    },
    """WITH toks AS (
        SELECT doc_id, lang, UNNEST(string_split(text, ' ')) AS tok
        FROM documents),
      perdoc AS (SELECT doc_id, lang, tok, COUNT(*) AS tfd
                 FROM toks GROUP BY 1, 2, 3),
      langtf AS (SELECT lang, tok, CAST(SUM(tfd) AS BIGINT) AS tf
                 FROM perdoc GROUP BY 1, 2),
      dfreq AS (SELECT tok, COUNT(*) AS df FROM perdoc GROUP BY 1),
      scored AS (
        SELECT lang, l.tok, tf, df,
          CAST(tf * (SELECT COUNT(*) FROM documents) AS DOUBLE) / df AS score
        FROM langtf l JOIN dfreq USING (tok)),
      ranked AS (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY lang ORDER BY score DESC, tok ASC) AS rank
        FROM scored)
      SELECT lang, rank, tok, tf, df FROM ranked
      WHERE rank <= 5 ORDER BY lang, rank""")

  /** Chunk-level dedup — the line/paragraph-dedup family (the corpus has
    * no newlines, so the unit is the non-overlapping 20-word chunk): a
    * 20-word boilerplate block is prepended to every 5th doc so cross-doc
    * chunk collisions are guaranteed, each chunk keeps only its first
    * occurrence (min doc_id·10^5+idx over the chunk hash), and the census
    * counts survivors per language. The shuffle carries (16-byte chunk
    * hash, one long) — chunk text never leaves the scan stage. At 100 TB
    * the arithmetic keeper key becomes min(struct(doc_id, idx)) — same
    * plan, no key-range assumption. */
  private val q60 = Q(
    "q60_chunk_dedup",
    (s, dir) => {
      val boiler = "lorem ipsum dolor sit amet consectetur adipiscing elit " +
        "sed do eiusmod tempor incididunt ut labore et dolore magna aliqua yes"
      val txt = when(col("doc_id") % 5 === 0,
        concat_ws(" ", lit(boiler), col("text"))).otherwise(col("text"))
      val chunks = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          posexplode(TextAnalysis.wordChunks(txt, 20)))
        .select(col("doc_id"), col("lang"), col("pos").cast("long").as("idx"),
          md5(col("col")).as("ch"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("ch"))
      chunks
        .withColumn("keep",
          col("doc_id") * 100000L + col("idx") ===
            min(col("doc_id") * 100000L + col("idx")).over(w))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("chunks"),
          count(when(col("keep"), 1)).as("kept"),
          countDistinct(when(!col("keep"), col("doc_id"))).as("docs_hit"))
        .orderBy(col("lang"))
    },
    """WITH d AS (
        SELECT doc_id, lang,
          CASE WHEN doc_id % 5 = 0 THEN
            'lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod tempor incididunt ut labore et dolore magna aliqua yes'
            || ' ' || text
          ELSE text END AS txt
        FROM documents),
      toks AS (SELECT doc_id, lang, string_split(txt, ' ') AS t FROM d),
      chunks AS (
        SELECT doc_id, lang, i AS idx,
          md5(array_to_string(list_slice(t,
            CAST(i * 20 + 1 AS INT), CAST(i * 20 + 20 AS INT)), ' ')) AS ch
        FROM toks,
          UNNEST(range(0, CAST(CEIL(len(t) / 20.0) AS BIGINT))) AS u(i)),
      k AS (
        SELECT lang, doc_id,
          doc_id * 100000 + idx =
            MIN(doc_id * 100000 + idx) OVER (PARTITION BY ch) AS keep
        FROM chunks)
      SELECT lang, COUNT(*) AS chunks,
        COUNT(CASE WHEN keep THEN 1 END) AS kept,
        COUNT(DISTINCT CASE WHEN NOT keep THEN doc_id END) AS docs_hit
      FROM k GROUP BY 1 ORDER BY lang""")

  /** Unicode NFC normalization census — [[graft.plans.NfcNormalizeExpr]],
    * the codegen'd native expression (ASCII fast path, JDK Normalizer for
    * the rest; DuckDB's `nfc_normalize` is the oracle). Every 5th doc gets
    * a decomposed suffix (e + U+0301, i + U+0308) so the rebuild path
    * executes; NFC composes both pairs, shrinking the string by exactly 2
    * code units — a delta both engines' length() agree on (all BMP).
    * Narrow map, no shuffle before the census. */
  private val q61 = Q(
    "q61_nfc_normalize",
    (s, dir) => {
      val suffix = " cafe\u0301 nai\u0308ve" // decomposed on purpose
      val txt = when(col("doc_id") % 5 === 0, concat(col("text"), lit(suffix)))
        .otherwise(col("text"))
      Tables.documents(s, dir)
        .select(col("lang"), txt.as("txt"))
        .withColumn("norm", graft.plans.NfcNormalizeExpr.nfc(col("txt")))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"),
          count(when(length(col("norm")) =!= length(col("txt")), 1))
            .as("changed"),
          sum((length(col("txt")) - length(col("norm"))).cast("long"))
            .as("delta_units"))
        .orderBy(col("lang"))
    },
    """WITH d AS (
        SELECT lang,
          CASE WHEN doc_id % 5 = 0
               THEN text || ' cafe' || chr(769) || ' nai' || chr(776) || 've'
               ELSE text END AS txt
        FROM documents),
      n AS (SELECT lang, txt, nfc_normalize(txt) AS norm FROM d)
      SELECT lang, COUNT(*) AS docs,
        COUNT(CASE WHEN length(norm) <> length(txt) THEN 1 END) AS changed,
        CAST(SUM(length(txt) - length(norm)) AS BIGINT) AS delta_units
      FROM n GROUP BY 1 ORDER BY lang""")

  /** Quality-filter funnel — the staged Gopher/C4-style retention report:
    * four cumulative per-doc rules (length band → stopword density →
    * repetition → composite quality score), survivors counted per stage
    * and language. All rule arithmetic is rational (int-derived doubles,
    * IEEE divisions only — no exp/log), so the comparisons are
    * bit-identical across engines; only counts are emitted. Narrow
    * per-row predicates, one census shuffle. */
  private val q62 = Q(
    "q62_filter_funnel",
    (s, dir) => {
      val t = col("text")
      val rLen = TextAnalysis.tokenCount(t).between(10, 1000)
      val rStop = TextAnalysis.stopwordRatio(t) >= 0.02
      val rRep = TextAnalysis.repetitionRatio(t) <= 0.2
      val rQ = TextAnalysis.qualityScore(t) >= 0.5
      Tables.documents(s, dir)
        .select(col("lang"), rLen.as("s1"), (rLen && rStop).as("s2"),
          (rLen && rStop && rRep).as("s3"),
          (rLen && rStop && rRep && rQ).as("s4"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"),
          count(when(col("s1"), 1)).as("pass_len"),
          count(when(col("s2"), 1)).as("pass_stop"),
          count(when(col("s3"), 1)).as("pass_rep"),
          count(when(col("s4"), 1)).as("pass_all"))
        .orderBy(col("lang"))
    },
    {
      val stopList = TextAnalysis.EnStopwords
        .map(w => s"t = '$w'").mkString(" OR ")
      s"""WITH d AS (
        SELECT lang, string_split(text, ' ') AS t,
          len(regexp_extract_all(text, '[.,!?;:]')) AS np
        FROM documents),
      r AS (
        SELECT lang,
          len(t) BETWEEN 10 AND 1000 AS r_len,
          (len(list_filter(t, t -> ($stopList))) / len(t)) >= 0.02 AS r_stop,
          CASE WHEN len(t) < 2 THEN 0.0
               ELSE 1.0 - CAST(len(list_distinct(
                      list_transform(range(1, len(t)),
                        i -> t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1])))
                    AS DOUBLE) / CAST(len(t) - 1 AS DOUBLE)
          END <= 0.2 AS r_rep,
          LEAST(1.0, len(t) / 100.0) * 0.5 +
            (len(list_filter(t, t -> ($stopList))) / len(t)) * 0.3 +
            (1.0 - LEAST(1.0, np / 20.0)) * 0.2 >= 0.5 AS r_q
        FROM d)
      SELECT lang, COUNT(*) AS docs,
        COUNT(CASE WHEN r_len THEN 1 END) AS pass_len,
        COUNT(CASE WHEN r_len AND r_stop THEN 1 END) AS pass_stop,
        COUNT(CASE WHEN r_len AND r_stop AND r_rep THEN 1 END) AS pass_rep,
        COUNT(CASE WHEN r_len AND r_stop AND r_rep AND r_q THEN 1 END) AS pass_all
      FROM r GROUP BY 1 ORDER BY lang"""
    })

  /** Bloom-prefiltered incremental dedup — [[graft.operators.BloomDedup]]:
    * the history (every 3rd doc) builds a distributed Bloom filter over
    * its content hashes; incoming docs pass the narrow might-contain
    * probe and only the surviving candidates pay the exact confirmation
    * semi join. bloom→confirm is row-identical to the plain semi join
    * (no false negatives; false positives die in the confirm), which is
    * exactly what the oracle checks. A shared body is injected on both
    * sides (every 30th doc historical, doc_id%10==5 incoming) so the
    * duplicate path executes — the corpus has no natural exact dups.
    *
    * Scale: the history is ONE pass + a broadcast of filter bytes; the
    * incoming side's probe is codegen'd in the scan, so the confirm join
    * shuffles only the might-contain remainder, not the batch. */
  private val q63 = Q(
    "q63_bloom_prefilter",
    (s, dir) => {
      val shared = lit("shared corpus boilerplate body retained for dedup probe")
      val docs = Tables.documents(s, dir)
      val hist = docs.filter(col("doc_id") % 3 === 0)
        .select(md5(when(col("doc_id") % 30 === 0, shared)
          .otherwise(col("text"))).as("h"))
        .distinct()
      val bf = graft.operators.BloomDedup.buildFilter(
        hist, col("h"), expectedItems = 100000L, numBits = 800000L)
      val incoming = docs.filter(col("doc_id") % 3 =!= 0)
        .select(col("doc_id"), col("lang"),
          md5(when(col("doc_id") % 10 === 5, shared)
            .otherwise(col("text"))).as("h"))
      val confirmed = incoming
        .filter(graft.operators.BloomDedup.mightContain(bf, col("h")))
        .join(hist, Seq("h"), "left_semi")
        .select(col("doc_id")).withColumn("dup", lit(1))
      incoming.join(confirmed, Seq("doc_id"), "left")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"), count(col("dup")).as("dups"))
        .orderBy(col("lang"))
    },
    """WITH hist AS (
        SELECT DISTINCT CASE WHEN doc_id % 30 = 0
          THEN 'shared corpus boilerplate body retained for dedup probe'
          ELSE text END AS txt
        FROM documents WHERE doc_id % 3 = 0),
      inc AS (
        SELECT doc_id, lang, CASE WHEN doc_id % 10 = 5
          THEN 'shared corpus boilerplate body retained for dedup probe'
          ELSE text END AS txt
        FROM documents WHERE doc_id % 3 <> 0)
      SELECT lang, COUNT(*) AS docs,
        COUNT(CASE WHEN txt IN (SELECT txt FROM hist) THEN 1 END) AS dups
      FROM inc GROUP BY 1 ORDER BY lang""")

  /** CDC snapshot diff — [[graft.operators.SnapshotDiff]]: two simulated
    * snapshots of `orders` (prev drops keys %97=0 and bumps price on
    * %89=0; curr drops keys %101=0), classified added / removed /
    * changed / unchanged. The Spark side compares 16-byte row hashes
    * after reducing each side to (key, hash); the oracle compares the
    * columns directly — the two are row-identical (md5 collisions
    * aside), which is the point: hash-diff IS the full comparison.
    * The +1.0 price bump is exact IEEE, so "changed" is deterministic. */
  private val q64 = Q(
    "q64_snapshot_diff",
    (s, dir) => {
      val o = Tables.orders(s, dir)
      val cmp = Seq("o_custkey", "o_orderstatus", "o_orderpriority",
        "o_totalprice")
      val prev = o.filter(col("o_orderkey") % 97 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 89 === 0, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice")))
      val curr = o.filter(col("o_orderkey") % 101 =!= 0)
      graft.operators.SnapshotDiff.diff(prev, curr, Seq("o_orderkey"), cmp)
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy(col("status"))
    },
    """WITH prev AS (
        SELECT o_orderkey AS k, o_custkey, o_orderstatus, o_orderpriority,
          CASE WHEN o_orderkey % 89 = 0 THEN o_totalprice + 1.0
               ELSE o_totalprice END AS o_totalprice
        FROM orders WHERE o_orderkey % 97 <> 0),
      curr AS (
        SELECT o_orderkey AS k, o_custkey, o_orderstatus, o_orderpriority,
          o_totalprice
        FROM orders WHERE o_orderkey % 101 <> 0),
      d AS (
        SELECT COALESCE(p.k, c.k) AS k,
          CASE WHEN p.k IS NULL THEN 'added'
               WHEN c.k IS NULL THEN 'removed'
               WHEN p.o_custkey IS DISTINCT FROM c.o_custkey
                 OR p.o_orderstatus IS DISTINCT FROM c.o_orderstatus
                 OR p.o_orderpriority IS DISTINCT FROM c.o_orderpriority
                 OR p.o_totalprice IS DISTINCT FROM c.o_totalprice
               THEN 'changed' ELSE 'unchanged' END AS status
        FROM prev p FULL JOIN curr c ON p.k = c.k)
      SELECT status, COUNT(*) AS n, MIN(k) AS min_key, MAX(k) AS max_key
      FROM d GROUP BY 1 ORDER BY status""")

  /** Heavy-hitters via the Misra–Gries sketch
    * ([[graft.operators.HeavyHitters]]) — q57's vocabulary head computed
    * through the bounded-memory path instead of the exact groupBy: only
    * capacity-bounded maps cross the exchange. At capacity 512 ≫ the
    * corpus's 31-token vocabulary the sketch provably never evicts, so
    * the result is EXACT and the same oracle as q57's family applies;
    * the approximation guarantees under eviction are pinned in
    * HeavyHittersSpec. */
  private val q65 = Q(
    "q65_heavy_hitters",
    (s, dir) => {
      Tables.documents(s, dir)
        .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .agg(graft.operators.HeavyHitters.sketch(col("tok"), 512).as("sk"))
        .select(explode(col("sk")))
        .select(col("key").as("tok"), col("value").as("est"))
        .orderBy(col("est").desc, col("tok").asc)
        .limit(20)
    },
    """WITH toks AS (
        SELECT UNNEST(string_split(text, ' ')) AS tok FROM documents)
      SELECT tok, COUNT(*) AS est FROM toks GROUP BY 1
      ORDER BY est DESC, tok ASC LIMIT 20""")

  /** q59's per-language TF-IDF top-5 recomputed WINDOW-FREE through
    * [[graft.operators.GroupedTopK]] — partial aggregation keeps ≤ 5
    * rows per (partition, language) before the exchange, so no
    * per-group sort ever materializes (the scale fix for the
    * one-task-per-group window hazard). Same total order (score desc,
    * tok asc), same oracle as q59 — proving the two plans are
    * answer-identical. */
  private val q66 = Q(
    "q66_grouped_topk",
    (s, dir) => {
      val perDoc = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .groupBy(col("doc_id"), col("lang"), col("tok"))
        .agg(count(lit(1)).as("tfd"))
      val langTf = perDoc.groupBy(col("lang"), col("tok"))
        .agg(sum(col("tfd")).as("tf"))
      val df = perDoc.groupBy(col("tok"))
        .agg(count(lit(1)).as("df"))
      val n = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
      val scored = langTf.join(df, "tok")
        .crossJoin(broadcast(n))
        .withColumn("score",
          (col("tf") * col("n_docs")).cast("double") / col("df"))
      scored.groupBy(col("lang"))
        .agg(graft.operators.GroupedTopK.topK(5)(
          col("score"), col("tok"), col("tf"), col("df")).as("top"))
        .select(col("lang"), posexplode(col("top")))
        .select(col("lang"), (col("pos") + 1).cast("long").as("rank"),
          col("col.key").as("tok"), col("col.a").as("tf"),
          col("col.b").as("df"))
        .orderBy(col("lang"), col("rank"))
    },
    """WITH toks AS (
        SELECT doc_id, lang, UNNEST(string_split(text, ' ')) AS tok
        FROM documents),
      perdoc AS (SELECT doc_id, lang, tok, COUNT(*) AS tfd
                 FROM toks GROUP BY 1, 2, 3),
      langtf AS (SELECT lang, tok, CAST(SUM(tfd) AS BIGINT) AS tf
                 FROM perdoc GROUP BY 1, 2),
      dfreq AS (SELECT tok, COUNT(*) AS df FROM perdoc GROUP BY 1),
      scored AS (
        SELECT lang, l.tok, tf, df,
          CAST(tf * (SELECT COUNT(*) FROM documents) AS DOUBLE) / df AS score
        FROM langtf l JOIN dfreq USING (tok)),
      ranked AS (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY lang ORDER BY score DESC, tok ASC) AS rank
        FROM scored)
      SELECT lang, rank, tok, tf, df FROM ranked
      WHERE rank <= 5 ORDER BY lang, rank""")

  /** Vocabulary-coverage (OOV-rate) quality scoring
    * (Curation.coverageScore): reference vocabulary = the corpus's own
    * top-50 Zipf head (q57's definition, deterministic ties), score =
    * fraction of a document's tokens outside it. The perplexity-filter
    * stand-in whose numbers are engine-exact (integer hits, one IEEE
    * int/int division) — a real deployment swaps in a held-out
    * reference vocabulary, same plan. */
  private val q98 = Q(
    "q98_vocab_coverage",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val vocab = docs.select(
          explode(filter(TextAnalysis.tokens(col("text")),
            t => length(t) > 0)).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("tf"))
        .orderBy(col("tf").desc, col("tok").asc)
        .limit(50).select(col("tok"))
      Curation.coverageScore(docs, "doc_id", "text", vocab)
        .orderBy(col("doc_id"))
    },
    """WITH toks AS (
        SELECT doc_id, tok FROM (
          SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok
          FROM documents)
        WHERE len(tok) > 0),
      vocab AS (
        SELECT tok FROM (
          SELECT tok, COUNT(*) AS tf FROM toks GROUP BY 1
          ORDER BY tf DESC, tok ASC LIMIT 50)),
      hits AS (
        SELECT t.doc_id,
          CAST(COUNT(*) AS BIGINT) AS n_tok,
          CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS n_oov
        FROM toks t LEFT JOIN vocab v ON v.tok = t.tok
        GROUP BY 1)
      SELECT doc_id, n_tok, n_oov,
        CAST(n_oov AS DOUBLE) / CAST(n_tok AS DOUBLE) AS oov_rate
      FROM hits ORDER BY doc_id""")

  /** CHUNK-DEDUP DOCUMENT REBUILD (Curation.chunkDedupRebuild) — the
    * cleanup step q60's census only counts: every 20-word chunk kept
    * at its globally first occurrence, removed everywhere else, and
    * each affected document re-assembled from its survivors in order.
    * Same boilerplate injection as q60 (a 20-word template prepended
    * to every 5th doc) so the removal path executes at every SF; the
    * rebuilt STRING itself is hash-pinned cross-engine (the q164
    * discipline — md5 of the reassembled text, not just counts). A
    * doc that loses ALL chunks (an exact dup of an earlier doc)
    * rebuilds to '' on both sides. */
  private val q167 = Q(
    "q167_chunk_dedup_rebuild",
    (s, dir) => {
      val boiler = "lorem ipsum dolor sit amet consectetur adipiscing elit " +
        "sed do eiusmod tempor incididunt ut labore et dolore magna aliqua yes"
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0,
            concat_ws(" ", lit(boiler), col("text")))
            .otherwise(col("text")).as("txt"))
      Curation.chunkDedupRebuild(docs, "doc_id", "txt", 20)
        .select(col("doc_id"), col("n_chunks"), col("n_kept"),
          md5(col("new_text")).as("new_text_md5"))
        .orderBy(col("doc_id"))
    },
    """WITH d AS (
        SELECT doc_id,
          CASE WHEN doc_id % 5 = 0 THEN
            'lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod tempor incididunt ut labore et dolore magna aliqua yes'
            || ' ' || text
          ELSE text END AS txt
        FROM documents),
      toks AS (SELECT doc_id, string_split(txt, ' ') AS t FROM d),
      chunks AS (
        SELECT doc_id, i AS idx,
          array_to_string(list_slice(t,
            CAST(i * 20 + 1 AS INT), CAST(i * 20 + 20 AS INT)), ' ') AS ctext
        FROM toks,
          UNNEST(range(0, CAST(CEIL(len(t) / 20.0) AS BIGINT))) AS u(i)),
      k AS (
        SELECT doc_id, idx, ctext,
          doc_id * 100000 + idx =
            MIN(doc_id * 100000 + idx) OVER (PARTITION BY md5(ctext)) AS keep
        FROM chunks),
      r AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
          CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
          md5(COALESCE(
            string_agg(ctext, ' ' ORDER BY idx) FILTER (WHERE keep),
            '')) AS new_text_md5
        FROM k GROUP BY 1)
      SELECT doc_id, n_chunks, n_kept, new_text_md5 FROM r
      WHERE n_kept < n_chunks ORDER BY doc_id""")

  /** DEDUP TOKEN-SAVINGS REPORT: what exact dedup (q16's md5 groups,
    * keep-first) is WORTH, denominated in training tokens — per
    * language: docs, total tokens, tokens surviving keep-first,
    * tokens saved, docs dropped, and savings as integer ppm. The
    * capacity-planning readout a pipeline owner reads before paying
    * for the dedup pass. Keep-first is decided on md5(text) — only
    * 16-byte hashes and token counts shuffle. */
  private val q171 = Q(
    "q171_dedup_token_savings",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("h"))
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("toks"),
          md5(col("text")).as("h"))
        .withColumn("keep", col("doc_id") === min(col("doc_id")).over(w))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("toks")).as("total_tokens"),
          sum(when(col("keep"), col("toks")).otherwise(0L))
            .as("kept_tokens"),
          sum(when(!col("keep"), col("toks")).otherwise(0L))
            .as("saved_tokens"),
          sum(when(!col("keep"), 1L).otherwise(0L)).as("n_dropped"))
        .withColumn("saved_ppm",
          // token mass × 10⁶ — DECIMAL(38) numerator (q210 discipline)
          expr("""CAST(CAST(saved_tokens AS DECIMAL(38,0)) * 1000000
            div total_tokens AS BIGINT)"""))
        .orderBy(col("lang"))
    },
    """WITH t AS (
        SELECT doc_id, lang,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
          md5(text) AS h
        FROM documents),
      k AS (SELECT lang, toks,
          doc_id = MIN(doc_id) OVER (PARTITION BY h) AS keep
        FROM t),
      g AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(toks) AS BIGINT) AS total_tokens,
          CAST(SUM(CASE WHEN keep THEN toks ELSE 0 END) AS BIGINT)
            AS kept_tokens,
          CAST(SUM(CASE WHEN keep THEN 0 ELSE toks END) AS BIGINT)
            AS saved_tokens,
          CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT)
            AS n_dropped
        FROM k GROUP BY 1)
      SELECT lang, n_docs, total_tokens, kept_tokens, saved_tokens,
        n_dropped, CAST(CAST(saved_tokens AS HUGEINT) * 1000000
          // total_tokens AS BIGINT) AS saved_ppm
      FROM g ORDER BY lang""")

  /** INCREMENTAL CHUNK DEDUP — the delta-vs-stored-index analog of
    * q96 (LSH) and q127 (SemDeDup) at chunk granularity: the stored
    * corpus (doc_id % 10 != 0) is reduced to a persisted index
    * (chunk hash → min first-occurrence position) and the delta
    * (doc_id % 10 == 0) is judged against least(stored index,
    * delta-internal first occurrence) WITHOUT re-reading stored
    * chunks. Because keep-first is a MIN and min is associative,
    * the incremental verdicts equal from-scratch verdicts for every
    * delta row REGARDLESS of id interleaving — and the oracle asserts
    * exactly that: it computes the from-scratch keep over the whole
    * corpus and restricts to delta docs. incremental == batch is a
    * green gate row, not just a spec. Same q60/q167 boilerplate
    * injection so stored↔delta collisions exist at every SF. */
  private val q173 = Q(
    "q173_incr_chunk_dedup",
    (s, dir) => {
      val boiler = "lorem ipsum dolor sit amet consectetur adipiscing elit " +
        "sed do eiusmod tempor incididunt ut labore et dolore magna aliqua yes"
      val chunks = Tables.documents(s, dir)
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0,
            concat_ws(" ", lit(boiler), col("text")))
            .otherwise(col("text")).as("txt"))
        .select(col("doc_id"),
          posexplode(TextAnalysis.wordChunks(col("txt"), 20)))
        .select(col("doc_id"), col("pos").cast("long").as("idx"),
          md5(col("col")).as("ch"))
        .withColumn("packed", col("doc_id") * 100000L + col("idx"))
      val index = chunks.filter(col("doc_id") % 10 =!= 0)
        .groupBy(col("ch")).agg(min(col("packed")).as("stored_min"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("ch"))
      chunks.filter(col("doc_id") % 10 === 0)
        .withColumn("delta_min", min(col("packed")).over(w))
        .join(index, Seq("ch"), "left")
        .withColumn("keep", col("packed") === least(
          coalesce(col("stored_min"), lit(Long.MaxValue)),
          col("delta_min")))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
        .orderBy(col("doc_id"))
    },
    """WITH d AS (
        SELECT doc_id,
          CASE WHEN doc_id % 5 = 0 THEN
            'lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod tempor incididunt ut labore et dolore magna aliqua yes'
            || ' ' || text
          ELSE text END AS txt
        FROM documents),
      toks AS (SELECT doc_id, string_split(txt, ' ') AS t FROM d),
      chunks AS (
        SELECT doc_id, i AS idx,
          md5(array_to_string(list_slice(t,
            CAST(i * 20 + 1 AS INT), CAST(i * 20 + 20 AS INT)), ' ')) AS ch
        FROM toks,
          UNNEST(range(0, CAST(CEIL(len(t) / 20.0) AS BIGINT))) AS u(i)),
      k AS (
        SELECT doc_id,
          doc_id * 100000 + idx =
            MIN(doc_id * 100000 + idx) OVER (PARTITION BY ch) AS keep
        FROM chunks)
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
        CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      FROM k WHERE doc_id % 10 = 0
      GROUP BY 1 ORDER BY doc_id""")

  /** TERM-FREQUENCY ZIPF CENSUS: vocabulary terms bucketed by the BIT
    * LENGTH of their corpus frequency (the q155 `bin()`-length move —
    * bucket b holds terms with tf ∈ [2^(b-1), 2^b)), with each
    * bucket's term count and its ratio to the previous bucket in ppm.
    * For a Zipf-distributed vocabulary the ratio is roughly constant
    * across doubling buckets — the one-glance power-law readout that
    * says whether tokenizer vocab sizing can trust the tail. Integer
    * end to end; the window runs over the ≤64-row bucket census. */
  private val q174 = Q(
    "q174_zipf_census",
    (s, dir) => {
      Tables.documents(s, dir)
        .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .where(length(col("tok")) > 0)
        .groupBy(col("tok")).agg(count(lit(1)).as("tf"))
        .groupBy(length(bin(col("tf"))).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_terms"), sum(col("tf")).as("sum_tf"))
        .withColumn("ratio_prev_ppm",
          coalesce(expr(
            "n_terms * 1000000 div lag(n_terms, 1) OVER (ORDER BY bucket)"),
            lit(0L)))
        .orderBy(col("bucket"))
    },
    """WITH tf AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS tf FROM (
          SELECT UNNEST(string_split(text, ' ')) AS tok FROM documents)
        WHERE len(tok) > 0 GROUP BY 1),
      b AS (SELECT CAST(len(bin(tf)) AS BIGINT) AS bucket,
          CAST(COUNT(*) AS BIGINT) AS n_terms,
          CAST(SUM(tf) AS BIGINT) AS sum_tf
        FROM tf GROUP BY 1)
      SELECT bucket, n_terms, sum_tf,
        COALESCE(n_terms * 1000000 //
          LAG(n_terms, 1) OVER (ORDER BY bucket), 0) AS ratio_prev_ppm
      FROM b ORDER BY bucket""")

  /** CROSS-SOURCE SYNDICATION MATRIX: for every source pair, the
    * number of distinct document texts they BOTH carry verbatim — the
    * wire-story / mirror-site detector that tells a pipeline which
    * source pairs double-count content before mixture weights are
    * set. Injection (q56's discipline): every 13th doc becomes one
    * fixed syndicated story so the cross-source regime populates at
    * every SF. Join is on 16-byte text hashes after per-source
    * distinct; output is ≤ C(|sources|, 2) rows at any corpus size. */
  private val q176 = Q(
    "q176_syndication_matrix",
    (s, dir) => {
      val txt = when(col("doc_id") % 13 === 0,
        lit("syndicated wire story republished verbatim across outlets"))
        .otherwise(col("text"))
      val hs = Tables.documents(s, dir)
        .select(md5(txt).as("h"), col("source"))
        .distinct()
      hs.select(col("h"), col("source").as("src_a"))
        .join(hs.select(col("h"), col("source").as("src_b")), "h")
        .where(col("src_a") < col("src_b"))
        .groupBy(col("src_a"), col("src_b"))
        .agg(count(lit(1)).as("n_shared"))
        .orderBy(col("src_a"), col("src_b"))
    },
    """WITH d AS (
        SELECT source,
          md5(CASE WHEN doc_id % 13 = 0
            THEN 'syndicated wire story republished verbatim across outlets'
            ELSE text END) AS h
        FROM documents),
      hs AS (SELECT DISTINCT h, source FROM d)
      SELECT a.source AS src_a, b.source AS src_b,
        CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM hs a JOIN hs b ON a.h = b.h AND a.source < b.source
      GROUP BY 1, 2 ORDER BY src_a, src_b""")

  /** PER-SOURCE QUALITY-THRESHOLD CALIBRATION: exact discrete
    * p25/median/p75 of the quality score (×10⁶ fixed point) per
    * source — the table a filtering stage reads to set per-source
    * cutoffs instead of one global one (sources differ; q23 showed
    * the means differ). The q39 rank-filter kernel (GroupedRank's
    * two-phase range-partitioned scan — bucket-bounded sorts, never a
    * one-task-per-source window), rank formulas shared verbatim with
    * the oracle, ties broken by doc_id, conditional-MAX readout. */
  private val q177 = Q(
    "q177_quality_percentiles",
    (s, dir) => {
      val score = floor(TextAnalysis.qualityScore(col("text")) * 1000000)
        .cast("long")
      // GroupedRank: per-source ranks via the two-phase range scan, not
      // a one-task-per-source window sort
      graft.operators.GroupedRank.withRank(
          Tables.documents(s, dir)
            .select(col("source"), col("doc_id"), score.as("score_fp")),
          "source", Seq("score_fp", "doc_id"))
        .groupBy(col("source"))
        .agg(max(col("cnt")).as("n"),
          max(when(col("rn") === expr("greatest(1, (cnt + 1) div 4)"),
            col("score_fp"))).as("p25_fp"),
          max(when(col("rn") === expr("(cnt + 1) div 2"),
            col("score_fp"))).as("median_fp"),
          max(when(col("rn") === expr("greatest(1, (3 * (cnt + 1)) div 4)"),
            col("score_fp"))).as("p75_fp"))
        .orderBy(col("source"))
    },
    s"""WITH scored AS (
        SELECT source, doc_id,
          CAST(FLOOR(${OracleSql.qualityScore} * 1000000) AS BIGINT) AS score_fp
        FROM documents),
      r AS (SELECT source, score_fp,
          ROW_NUMBER() OVER (PARTITION BY source
            ORDER BY score_fp, doc_id) AS rn,
          COUNT(*) OVER (PARTITION BY source) AS cnt
        FROM scored)
      SELECT source, CAST(MAX(cnt) AS BIGINT) AS n,
        MAX(CASE WHEN rn = GREATEST(1, (cnt + 1) // 4)
            THEN score_fp END) AS p25_fp,
        MAX(CASE WHEN rn = (cnt + 1) // 2 THEN score_fp END) AS median_fp,
        MAX(CASE WHEN rn = GREATEST(1, (3 * (cnt + 1)) // 4)
            THEN score_fp END) AS p75_fp
      FROM r GROUP BY 1 ORDER BY source""")

  val list: Seq[Q] = Seq(q55, q56, q57, q58, q59, q60, q61, q62, q63, q64,
    q65, q66, q98, q167, q171, q173, q174, q176, q177)
}
