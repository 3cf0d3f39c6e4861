package graft

import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis
import Queries.Q

/** Round-9 depth queries.
  *
  * Determinism: all-integer arithmetic (ppm grids, `div` on
  * non-negative operands where Spark's truncation and DuckDB's `//`
  * floor agree), the ⌊f(x)·10⁶⌋ quantization recipe for the one sqrt,
  * md5-keyed orders — the suite-wide oracle conventions.
  */
object QueriesRound9 {

  /** TEMPERATURE-SCALED MIXTURE, LONG-TAIL-SAFE — q207's α = 0.5
    * language-sampling census re-derived so the boost survives a
    * 100-language crawl tail: q207 computes
    * boost = w_ppm·10⁶ div p_ppm, and p_ppm = ⌊mass·10⁶/total⌋ is 0
    * for ANY language under one-millionth of corpus tokens — a
    * guaranteed DIVIDE_BY_ZERO on the long tail (loud and symmetric
    * in both engines, so q207 stays for parity; this is the variant a
    * mixture planner actually ships). Here the boost is the exact
    * rational of the RAW masses — boost = (√mass/Σ√)·/(mass/total) =
    * sqrt_fp·total / (Σsqrt_fp·mass) — so the denominator is zero
    * only for a zero-token language, which the CASE guard maps to
    * NULL explicitly (both engines agree on NULL ordering last not
    * needed — langs are the sort key). Sub-ppm languages get their
    * real (large) boost instead of an error, and the un-quantized
    * rational is STRICTLY more precise than q207's ppm-grid ratio.
    *
    * Widths: sqrt_fp·total·10⁶ ≤ 10¹³·10¹⁴·10⁶ = 10³³ and
    * Σsqrt_fp·mass ≤ 10¹⁶·10¹⁴ = 10³⁰ — both inside DECIMAL(38),
    * mirrored by HUGEINT in the oracle.
    *
    * Scale shape: identical to q207 — one partial-agg census to
    * |langs| rows, two bounded broadcast scalars, corpus read once. */
  private val q230 = Q(
    "q230_alpha_mixture_guarded",
    (s, dir) => {
      val lt = Tables.documents(s, dir)
        .select(col("lang"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("nt"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
        .select(col("lang"), col("n_docs"), col("n_tokens"),
          floor(sqrt(col("n_tokens").cast("double")) * 1e6)
            .cast("long").as("sqrt_fp"))
      val tot = lt.agg(sum(col("n_tokens")).as("tot"),
        sum(col("sqrt_fp")).as("ssum"))
      lt.crossJoin(broadcast(tot))
        .select(col("lang"), col("n_docs"), col("n_tokens"),
          expr("""CAST(CAST(n_tokens AS DECIMAL(38,0)) * 1000000
            div tot AS BIGINT)""").as("p_ppm"),
          expr("""CAST(CAST(sqrt_fp AS DECIMAL(38,0)) * 1000000
            div ssum AS BIGINT)""").as("w_ppm"),
          expr("""CAST(CASE WHEN n_tokens = 0 THEN NULL
            ELSE CAST(sqrt_fp AS DECIMAL(38,0)) * tot * 1000000
              div (CAST(ssum AS DECIMAL(38,0)) * n_tokens)
            END AS BIGINT)""").as("boost_ppm"))
        .orderBy(col("lang"))
    },
    """WITH lt AS (SELECT lang, COUNT(*) AS n_docs,
          CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY 1),
      sq AS (SELECT lang, n_docs, n_tokens,
          CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE)) * 1000000) AS BIGINT)
            AS sqrt_fp
        FROM lt),
      tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot,
          CAST(SUM(sqrt_fp) AS BIGINT) AS ssum FROM sq)
      SELECT lang, n_docs, n_tokens,
        CAST(CAST(n_tokens AS HUGEINT) * 1000000 // tot AS BIGINT)
          AS p_ppm,
        CAST(CAST(sqrt_fp AS HUGEINT) * 1000000 // ssum AS BIGINT)
          AS w_ppm,
        CAST(CASE WHEN n_tokens = 0 THEN NULL
          ELSE CAST(sqrt_fp AS HUGEINT) * tot * 1000000
            // (CAST(ssum AS HUGEINT) * n_tokens)
          END AS BIGINT) AS boost_ppm
      FROM sq CROSS JOIN tot ORDER BY lang""")

  /** ROBUST WINNOWING (Schleimer et al., §5) vs the standard rightmost
    * -min rule — the exact twin the q223/q229 family was missing: on a
    * TIE for the window minimum, keep the PREVIOUS window's selection
    * if its position is still in the window and still carries the
    * minimum; only otherwise chart the rightmost minimum. On
    * repetitive text (equal gram hashes in runs — exactly what
    * boilerplate produces) this records strictly fewer positions, so
    * the per-source saving ppm is the index-size argument for the
    * robust rule. The selection is a per-document SEQUENTIAL
    * recurrence — implemented as the `aggregate` higher-order fold
    * over the window indices (map-side, codegen'd per row, no shuffle
    * of anything but census rows), mirrored in the oracle by DuckDB's
    * `list_reduce`. Both sides fold 1-based positions with
    * token-identical window-min/rightmost CASE arms. Oracle caveat:
    * DuckDB 1.0's list_reduce CORRUPTS the fold when a lambda branch
    * returns the accumulator unchanged (found here: a 100-element
    * keep/append fold collapses to one element) — the keep branch
    * therefore returns the slice copy `acc[1:len(acc)]`, which is
    * semantically identical and dodges the bug.
    *
    * Scale shape: ONE pass over documents; the gram hashing, both
    * selections, and the distinct-position counts are per-row array
    * expressions; the only exchange is the |sources|-row census. */
  private val q231 = Q(
    "q231_robust_winnow",
    (s, dir) => {
      // rides the shared both-rules artifact (one kernel pass serves
      // this census and q236's value-index certificate)
      SharedWinnow.ruleCompare(s, dir)
        .select(col("source"), col("nw"), col("n_std"), col("n_rob"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("nw")).as("n_windows"),
          sum(col("n_std")).as("std_positions"),
          sum(col("n_rob")).as("robust_positions"))
        .select(col("source"), col("n_docs"), col("n_windows"),
          col("std_positions"), col("robust_positions"),
          expr("""CAST(CAST(robust_positions AS DECIMAL(38,0)) * 1000000
            div n_windows AS BIGINT)""").as("robust_density_ppm"),
          expr("""CAST(CAST(std_positions - robust_positions
            AS DECIMAL(38,0)) * 1000000
            div std_positions AS BIGINT)""").as("saved_ppm"))
        .orderBy(col("source"))
    },
    s"""WITH ${OracleSql.winnowRules},
      per AS (SELECT source, nw,
          CAST(len(stdsel) AS BIGINT) AS n_std,
          CAST(len(robsel) AS BIGINT) AS n_rob
        FROM sel)
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(nw) AS BIGINT) AS n_windows,
        CAST(SUM(n_std) AS BIGINT) AS std_positions,
        CAST(SUM(n_rob) AS BIGINT) AS robust_positions,
        CAST(CAST(SUM(n_rob) AS HUGEINT) * 1000000
          // SUM(nw) AS BIGINT) AS robust_density_ppm,
        CAST(CAST(SUM(n_std) - SUM(n_rob) AS HUGEINT) * 1000000
          // SUM(n_std) AS BIGINT) AS saved_ppm
      FROM per GROUP BY 1 ORDER BY source""")

  /** LENGTH-BUCKETED BATCH PADDING — the production middle ground
    * q224 motivates but doesn't measure: q224 showed md5-shuffled
    * pad-to-longest wastes ~44% of batch tokens vs 0.5% fully sorted,
    * but a fully length-sorted loader destroys shuffle randomness, so
    * real samplers bucket by length and shuffle WITHIN buckets. This
    * census runs the same pad-to-longest batches-of-32 kernel at
    * L ∈ {1, 4, 16, 64} equi-depth length buckets (L = 1 IS q224's
    * shuffled row; L = 64 approaches its sorted bound) — the
    * diminishing-returns curve that picks a bucket count with data,
    * not folklore.
    *
    * Scale shape: ONE global two-phase prefix rank for the equi-depth
    * cut (no global window), then ONE grouped two-phase rank pass
    * over the 4-way exploded frame covering all (L, bucket) groups at
    * once; batch stats are hash aggs; census rows: 4. */
  private val q232 = Q(
    "q232_bucketed_padding",
    (s, dir) => {
      import graft.operators.{GroupedRank, WeightedSample}
      val base = Tables.documents(s, dir).select(col("doc_id"),
        greatest(TextAnalysis.tokenCount(col("text")).cast("long"),
          lit(1L)).as("tok"))
      val keyed = base.select(col("doc_id"), col("tok"),
          concat(lpad(col("tok").cast("string"), 12, "0"), lit("-"),
            lpad(col("doc_id").cast("string"), 12, "0")).as("k"),
          lit(1L).as("one"))
        .localCheckpoint() // count + withCumWeight read one lineage
      val n = keyed.count()
      val ranked = WeightedSample.withCumWeight(keyed, "k", "one")
        .select(col("doc_id"), col("tok"), col("cum").as("rk"))
      val bucketed = ranked.select(col("doc_id"), col("tok"),
          explode(array(Seq(1, 4, 16, 64).map(l => lit(l.toLong)): _*))
            .as("l"),
          col("rk"))
        .select(col("l"), col("doc_id"), col("tok"),
          concat(col("l").cast("string"), lit(":"),
            expr(s"(rk - 1) * l div $n").cast("string")).as("gkey"),
          md5(col("doc_id").cast("string")).as("kd"))
      GroupedRank.withRank(bucketed, "gkey", Seq("kd", "doc_id"))
        .select(col("l"), col("gkey"), col("tok"),
          expr("(rn - 1) div 32").as("batch"))
        .groupBy(col("l"), col("gkey"), col("batch"))
        .agg(count(lit(1)).as("nb"), max(col("tok")).as("mx"),
          sum(col("tok")).as("st"))
        .groupBy(col("l"))
        .agg(count(lit(1)).as("n_batches"),
          sum(col("nb") * col("mx")).as("padded_tokens"),
          sum(col("st")).as("real_tokens"))
        .select(col("l"), col("n_batches"), col("padded_tokens"),
          col("real_tokens"),
          expr("""CAST(CAST(padded_tokens - real_tokens
            AS DECIMAL(38,0)) * 1000000 div padded_tokens AS BIGINT)""")
            .as("waste_ppm"))
        .orderBy(col("l"))
    },
    """WITH d AS (SELECT doc_id,
          GREATEST(CAST(len(string_split(text, ' ')) AS BIGINT), 1)
            AS tok FROM documents),
      r AS (SELECT doc_id, tok,
          CAST(ROW_NUMBER() OVER (
            ORDER BY lpad(CAST(tok AS VARCHAR), 12, '0') || '-' ||
              lpad(CAST(doc_id AS VARCHAR), 12, '0')) AS BIGINT) AS rk,
          COUNT(*) OVER () AS n
        FROM d),
      e AS (SELECT CAST(b.l AS BIGINT) AS l, doc_id, tok,
          CAST(b.l AS VARCHAR) || ':' ||
            CAST((rk - 1) * b.l // n AS VARCHAR) AS gkey
        FROM r CROSS JOIN (VALUES (1), (4), (16), (64)) b(l)),
      rn AS (SELECT l, gkey, tok,
          (ROW_NUMBER() OVER (PARTITION BY gkey
            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1) // 32
            AS batch
        FROM e),
      g AS (SELECT l, gkey, batch, COUNT(*) AS nb, MAX(tok) AS mx,
          SUM(tok) AS st
        FROM rn GROUP BY 1, 2, 3)
      SELECT l, CAST(COUNT(*) AS BIGINT) AS n_batches,
        CAST(SUM(nb * mx) AS BIGINT) AS padded_tokens,
        CAST(SUM(st) AS BIGINT) AS real_tokens,
        CAST(CAST(SUM(nb * mx) - SUM(st) AS HUGEINT) * 1000000
          // SUM(nb * mx) AS BIGINT) AS waste_ppm
      FROM g GROUP BY 1 ORDER BY l""")

  /** GRAM-INDEX EVICTION (TTL aging) — the incremental family's
    * missing lifecycle stage: q96/q173/q191/q212/q227 all GROW their
    * stored artifacts; a crawl-scale index must also SHRINK, or the
    * history index eventually outweighs the corpus. The stored 8-gram
    * index carries last_seen = max ingestion epoch per gram (epoch ≔
    * (doc_id div 20) mod 5 — the block-cycled epoch; doc_id mod 5
    * would alias with the corpus's doc_id-mod-20 source labels);
    * eviction drops entries with last_seen < 2. The ORACLE replays the aged index FROM SCRATCH as
    * "distinct grams of docs with epoch ≥ 2" — last_seen ≥ cutoff ⟺
    * some retaining doc contains the gram, so the hash CERTIFIES that
    * incremental last-seen eviction equals a window rebuild, the same
    * certification shape as q212/q227. The delta batch
    * (doc_id mod 10 = 0) is then scored for novelty against the AGED
    * index — what an ingest pipeline actually consults. Delta is the
    * q220 convention (doc_id mod 7 — coprime to the source cycle, so
    * every source lands in the batch).
    *
    * Scale shape: index = one hash-keyed agg over 16-byte gram keys
    * (map-side combined max); eviction is a narrow filter on the
    * stored artifact, NOT a rebuild; delta scoring is one hash-only
    * left join; the two index sizes ride a broadcast one-row frame. */
  private val q233 = Q(
    "q233_index_eviction",
    (s, dir) => {
      // gram occurrences from the shared word-8-gram artifact (one
      // scan+tokenize+md5 pass per session, shared with q219/q220)
      val g8 = SharedGrams.word8(s, dir)
      val hist = g8.filter(col("doc_id") % 7 =!= 0)
      // the stored artifact: one row per gram, last_seen maintained by
      // a map-side-combined max — the incremental path never re-reads
      // history text to age the index
      val idxFull = hist
        .groupBy(col("gh"))
        .agg(max(expr("(doc_id div 20) % 5")).as("last_seen"))
        .localCheckpoint() // sizes + the aged join read one lineage
      val aged = idxFull.filter(col("last_seen") >= 2)
      val sizes = idxFull.agg(count(lit(1)).as("idx_full"),
        sum(when(col("last_seen") >= 2, 1L).otherwise(0L)).as("idx_aged"))
      val delta = g8.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"), col("source"), col("gh")).distinct()
      delta
        .join(aged.select(col("gh"), lit(1L).as("hit")), Seq("gh"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_delta_grams"),
          sum(when(col("hit").isNull, 1L).otherwise(0L)).as("n_novel"))
        .crossJoin(broadcast(sizes))
        .select(col("source"), col("n_delta_grams"), col("n_novel"),
          expr("""CAST(CAST(n_novel AS DECIMAL(38,0)) * 1000000
            div n_delta_grams AS BIGINT)""").as("novelty_ppm"),
          col("idx_full"), col("idx_aged"),
          expr("""CAST(CAST(idx_full - idx_aged AS DECIMAL(38,0))
            * 1000000 div idx_full AS BIGINT)""").as("evicted_ppm"))
        .orderBy(col("source"))
    },
    """WITH ts AS (SELECT doc_id, source,
          string_split(text, ' ') AS ts FROM documents),
      g AS (SELECT doc_id, source,
          md5(array_to_string(list_slice(ts, CAST(i AS INT),
            CAST(i AS INT) + 7), ' ')) AS gh
        FROM ts, UNNEST(range(1, len(ts) - 6)) AS u(i)
        WHERE len(ts) >= 8),
      hfull AS (SELECT DISTINCT gh FROM g WHERE doc_id % 7 <> 0),
      haged AS (SELECT DISTINCT gh FROM g
        WHERE doc_id % 7 <> 0 AND (doc_id // 20) % 5 >= 2),
      sz AS (SELECT (SELECT COUNT(*) FROM hfull) AS idx_full,
          (SELECT COUNT(*) FROM haged) AS idx_aged),
      d AS (SELECT DISTINCT doc_id, source, gh FROM g
        WHERE doc_id % 7 = 0),
      sc AS (SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_delta_grams,
          CAST(SUM(CASE WHEN haged.gh IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel
        FROM d LEFT JOIN haged ON haged.gh = d.gh
        GROUP BY 1)
      SELECT source, n_delta_grams, n_novel,
        CAST(CAST(n_novel AS HUGEINT) * 1000000 // n_delta_grams
          AS BIGINT) AS novelty_ppm,
        CAST(idx_full AS BIGINT) AS idx_full,
        CAST(idx_aged AS BIGINT) AS idx_aged,
        CAST(CAST(idx_full - idx_aged AS HUGEINT) * 1000000 // idx_full
          AS BIGINT) AS evicted_ppm
      FROM sc CROSS JOIN sz ORDER BY source""")

  /** WINNOW-BASED BENCHMARK DECONTAMINATION — q199's two-stage
    * architecture (screen → exact confirm on candidates only) rebuilt
    * on the winnowing fingerprint family instead of MinHash bands.
    * The swap changes the GUARANTEE: LSH banding catches high global
    * Jaccard probabilistically, while a shared winnow fingerprint is
    * implied by ANY shared ≥7-token span (Schleimer's threshold
    * guarantee) — exactly the evidence shape benchmark contamination
    * takes (a verbatim question embedded in an otherwise-unrelated
    * page has low global Jaccard and a long shared span; q226
    * measured 62 such span-sharing pairs the 2-band screen never
    * collides). Benchmark side: the q199 convention — doc_id % 13
    * copies, truncated text, ids offset by 10¹² (far above any real
    * train id). Screen: ≥2 shared fingerprints in a df-capped
    * universe (corpus-side document frequency ≤
    * Winnow.DfCap — boilerplate fingerprints are
    * stop-words of this index, and an uncapped hot fingerprint is the
    * fan-out bomb at crawl scale). Confirm: UNCAPPED fingerprint
    * containment of the bench doc in the train doc ≥ 50%, computed
    * for candidate docs only. Census per train source: candidate
    * pairs, confirmed links, distinct contaminated docs, and the
    * screen's precision ppm.
    *
    * Scale shape: corpus fingerprints ride the SharedWinnow session
    * artifact (paid once by the q223 family); only the benchmark-
    * sized side winnows fresh. NO data-dependent broadcast anywhere —
    * cand/ctrain/inter all scale with contamination rate × corpus
    * size, so every screen/confirm leg is a shuffle-hash equi-join on
    * hash-only keys (the q199 r7 lesson). The df-cap bounds the
    * screen join's per-key fan-out at DfCap × |bench dups|. */
  private val q234 = Q(
    "q234_winnow_decontam",
    (s, dir) => {
      // Screen and confirm both ride SharedDecontam session artifacts
      // (r12 opt): cand is the winnow-screened pair set; confirmed is
      // the union-candidate containment confirm restricted back to
      // THIS screen's candidates by a semi-join (the confirm predicate
      // is per-pair, independent of which screen surfaced the pair, so
      // the restriction is exact). Per-invocation work: censuses only.
      val cand = SharedDecontam.winnowCandPairs(s, dir)
      val confirmed = SharedDecontam.confirmedPairs(s, dir)
        .join(cand.hint("shuffle_hash"),
          Seq("train_id", "bench_id"), "left_semi")
      val src = Tables.documents(s, dir)
        .select(col("doc_id").as("train_id"), col("source"))
      val candCen = cand.join(src.hint("shuffle_hash"), "train_id")
        .groupBy(col("source")).agg(count(lit(1)).as("n_cand_pairs"))
      val confCen = confirmed.join(src.hint("shuffle_hash"), "train_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_links"),
          countDistinct(col("train_id")).as("n_contaminated"))
      candCen.join(confCen, Seq("source"), "left")
        .select(col("source"), col("n_cand_pairs"),
          coalesce(col("n_links"), lit(0L)).as("n_links"),
          coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
          expr("""CAST(CAST(coalesce(n_links, 0) AS DECIMAL(38,0))
            * 1000000 div n_cand_pairs AS BIGINT)""")
            .as("precision_ppm"))
        .orderBy(col("source"))
    },
    s"""WITH bench AS (SELECT doc_id + 1000000000000 AS doc_id,
          substr(text, 1, greatest(length(text)-40, 50)) AS text
        FROM documents WHERE doc_id % 13 = 0),
      ${OracleSql.winnowFd(tag = "c")},
      ${OracleSql.winnowFd("bench", "b")},
      capped AS (SELECT doc_id AS train_id, fp FROM fdc
        WHERE fp IN (SELECT fp FROM fdc GROUP BY fp
          HAVING COUNT(*) <= ${graft.operators.Winnow.DfCap})),
      cand AS (SELECT train_id, b.doc_id AS bench_id
        FROM capped c JOIN fdb b ON b.fp = c.fp
        GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      inter AS (SELECT c.train_id, c.bench_id, COUNT(*) AS i
        FROM cand c
        JOIN fdc t ON t.doc_id = c.train_id
        JOIN fdb b ON b.doc_id = c.bench_id AND b.fp = t.fp
        GROUP BY 1, 2),
      szb AS (SELECT doc_id AS bench_id, COUNT(*) AS szb
        FROM fdb GROUP BY 1),
      confirmed AS (SELECT train_id, i.bench_id FROM inter i
        JOIN szb ON szb.bench_id = i.bench_id
        WHERE i * 1000000 // szb >= 500000),
      candcen AS (SELECT d.source, CAST(COUNT(*) AS BIGINT)
          AS n_cand_pairs
        FROM cand JOIN documents d ON d.doc_id = cand.train_id
        GROUP BY 1),
      confcen AS (SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_links,
          CAST(COUNT(DISTINCT confirmed.train_id) AS BIGINT)
            AS n_contaminated
        FROM confirmed JOIN documents d ON d.doc_id = confirmed.train_id
        GROUP BY 1)
      SELECT candcen.source, n_cand_pairs,
        COALESCE(n_links, 0) AS n_links,
        COALESCE(n_contaminated, 0) AS n_contaminated,
        CAST(CAST(COALESCE(n_links, 0) AS HUGEINT) * 1000000
          // n_cand_pairs AS BIGINT) AS precision_ppm
      FROM candcen LEFT JOIN confcen ON confcen.source = candcen.source
      ORDER BY candcen.source""")

  /** WINNOW-vs-LSH DECONTAMINATION CALIBRATION — q226's screen
    * comparison transplanted to the decontamination task: the SAME
    * benchmark set (q199/q234 convention) screened BOTH ways —
    * MinHash-LSH band collision (q199's screen, global-Jaccard
    * evidence) and ≥2 shared winnowed fingerprints in the df-capped
    * universe (q234's screen, shared-span evidence) — then ONE
    * confirm pass (uncapped fingerprint containment ≥ 50%) over the
    * UNION of candidates, and each confirmed link attributed to the
    * screen(s) that surfaced it. The one-row census is the decision
    * artifact for which screen a decontamination pipeline ships: per-
    * screen candidate volume (the cost) against per-screen recall of
    * confirmed links (the benefit). q226 measured 62 span-sharing
    * dedup pairs the 2-band screen never collides; this query asks
    * the same question where it matters most — benchmark leakage.
    *
    * Scale shape: corpus band table and corpus fingerprints BOTH ride
    * session artifacts (SharedLsh / SharedWinnow); only the
    * benchmark-sized side is banded/winnowed fresh. Both screens are
    * KeyPairs.cross key joins and candidate-scaled frames are
    * shuffle-hash joined throughout. */
  private val q235 = Q(
    "q235_decontam_calibration",
    (s, dir) => {
      // Both screens and the union confirm are SharedDecontam session
      // artifacts (r12 opt) — this query is exactly their comparison
      // census, so its per-invocation work is the flag union + one
      // join + one aggregate.
      val wcand = SharedDecontam.winnowCandPairs(s, dir)
      val lcand = SharedDecontam.lshCrossPairs(s, dir)
      val cand = wcand.withColumn("w", lit(1L)).withColumn("l", lit(0L))
        .union(lcand.withColumn("w", lit(0L)).withColumn("l", lit(1L)))
        .groupBy(col("train_id"), col("bench_id"))
        .agg(max(col("w")).as("w"), max(col("l")).as("l"))
      val conf = SharedDecontam.confirmedPairs(s, dir)
        .select(col("train_id"), col("bench_id"), lit(1L).as("c"))
      cand.join(conf, Seq("train_id", "bench_id"), "left")
        .agg(
          sum(col("w")).as("n_winnow_cand"),
          sum(col("l")).as("n_lsh_cand"),
          sum(coalesce(col("c"), lit(0L))).as("n_confirmed"),
          sum(when(col("c").isNotNull && col("w") === 1L
            && col("l") === 1L, 1L).otherwise(0L)).as("n_both_conf"),
          sum(when(col("c").isNotNull && col("w") === 1L
            && col("l") === 0L, 1L).otherwise(0L)).as("n_winnow_only_conf"),
          sum(when(col("c").isNotNull && col("w") === 0L
            && col("l") === 1L, 1L).otherwise(0L)).as("n_lsh_only_conf"))
        .select(col("n_winnow_cand"), col("n_lsh_cand"),
          col("n_confirmed"), col("n_both_conf"),
          col("n_winnow_only_conf"), col("n_lsh_only_conf"),
          expr("""CAST(CASE WHEN n_confirmed > 0
            THEN CAST(n_both_conf + n_winnow_only_conf AS DECIMAL(38,0))
              * 1000000 div n_confirmed END AS BIGINT)""")
            .as("winnow_recall_ppm"),
          expr("""CAST(CASE WHEN n_confirmed > 0
            THEN CAST(n_both_conf + n_lsh_only_conf AS DECIMAL(38,0))
              * 1000000 div n_confirmed END AS BIGINT)""")
            .as("lsh_recall_ppm"))
    },
    s"""WITH bench AS (SELECT doc_id + 1000000000000 AS doc_id,
          substr(text, 1, greatest(length(text)-40, 50)) AS text
        FROM documents WHERE doc_id % 13 = 0),
      ${OracleSql.winnowFd(tag = "c")},
      ${OracleSql.winnowFd("bench", "b")},
      capped AS (SELECT doc_id AS train_id, fp FROM fdc
        WHERE fp IN (SELECT fp FROM fdc GROUP BY fp
          HAVING COUNT(*) <= ${graft.operators.Winnow.DfCap})),
      wcand AS (SELECT train_id, b.doc_id AS bench_id
        FROM capped c JOIN fdb b ON b.fp = c.fp
        GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      corpus AS (SELECT doc_id, text FROM documents
        UNION ALL SELECT doc_id, text FROM bench),
      ${OracleSql.shingles(rel = "corpus")},
      ${OracleSql.lshBands()},
      lcand AS (SELECT DISTINCT a.doc_id AS train_id,
          b.doc_id AS bench_id
        FROM bands a JOIN bands b ON a.bk = b.bk
        WHERE a.doc_id < 1000000000000 AND b.doc_id >= 1000000000000),
      cand AS (SELECT train_id, bench_id, MAX(w) AS w, MAX(l) AS l
        FROM (SELECT train_id, bench_id, 1 AS w, 0 AS l FROM wcand
          UNION ALL
          SELECT train_id, bench_id, 0 AS w, 1 AS l FROM lcand)
        GROUP BY 1, 2),
      inter AS (SELECT c.train_id, c.bench_id, COUNT(*) AS i
        FROM cand c
        JOIN fdc t ON t.doc_id = c.train_id
        JOIN fdb b ON b.doc_id = c.bench_id AND b.fp = t.fp
        GROUP BY 1, 2),
      szb AS (SELECT doc_id AS bench_id, COUNT(*) AS szb
        FROM fdb GROUP BY 1),
      conf AS (SELECT train_id, i.bench_id, 1 AS c FROM inter i
        JOIN szb ON szb.bench_id = i.bench_id
        WHERE i * 1000000 // szb >= 500000),
      j AS (SELECT cand.train_id, cand.bench_id, w, l,
          COALESCE(c, 0) AS c
        FROM cand LEFT JOIN conf ON conf.train_id = cand.train_id
          AND conf.bench_id = cand.bench_id),
      agg AS (SELECT CAST(SUM(w) AS BIGINT) AS n_winnow_cand,
          CAST(SUM(l) AS BIGINT) AS n_lsh_cand,
          CAST(SUM(c) AS BIGINT) AS n_confirmed,
          CAST(SUM(CASE WHEN c = 1 AND w = 1 AND l = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_both_conf,
          CAST(SUM(CASE WHEN c = 1 AND w = 1 AND l = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_winnow_only_conf,
          CAST(SUM(CASE WHEN c = 1 AND w = 0 AND l = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_lsh_only_conf
        FROM j)
      SELECT n_winnow_cand, n_lsh_cand, n_confirmed, n_both_conf,
        n_winnow_only_conf, n_lsh_only_conf,
        CAST(CASE WHEN n_confirmed > 0
          THEN CAST(n_both_conf + n_winnow_only_conf AS HUGEINT)
            * 1000000 // n_confirmed END AS BIGINT)
          AS winnow_recall_ppm,
        CAST(CASE WHEN n_confirmed > 0
          THEN CAST(n_both_conf + n_lsh_only_conf AS HUGEINT)
            * 1000000 // n_confirmed END AS BIGINT) AS lsh_recall_ppm
      FROM agg""")

  val list: Seq[Q] = Seq(q230, q231, q232, q233, q234, q235)
}
