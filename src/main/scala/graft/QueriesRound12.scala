package graft

import org.apache.spark.sql.functions._

import Queries.Q

/** Round-12 depth queries — closing the df-cap loop the round-10/11
  * censuses opened (q235 calibration drift, q246's vanishing
  * cross-source components at 10×, q249's cap-driven gained_keep
  * flips): the fixed `Dedup.WinnowDfCap = 16` silently
  * drops real duplicate families as corpus duplication grows, so the
  * cap becomes a MEASURED policy — `SharedWinnow.adaptiveCap` scales
  * it by the exact-duplicate multiplicity — with a calibration census
  * (q250), the adaptive twin of the cross-source matrix (q251), and
  * the repair-threshold auto-pick that turns q248's sweep into a
  * policy (q252).
  *
  * Determinism: all-integer arithmetic throughout (ceil-division as
  * `(a+b-1) div b` on non-negatives, pair counts as `n(n-1) div 2`),
  * the suite-wide oracle conventions.
  */
object QueriesRound12 {

  private def fixedCap: Int = graft.operators.Dedup.WinnowDfCap

  /** SCREEN-CAP CALIBRATION — the query that PICKS the df-cap from
    * the corpus instead of trusting the fixed constant (r11 verdict
    * item 1): measure the exact-duplicate multiplicity n/m (corpus
    * rows over distinct text hashes — one md5 distinct-count, far
    * cheaper than the near-dup map the cap gates), scale the base cap
    * by it (adaptive = ceil(DfCap·n/m)), and census what the fixed
    * cap was discarding in the rescued band (fixed, adaptive]:
    * fingerprint counts per band plus the pair evidence volume
    * Σ nd·(nd−1)/2 the fixed cap threw away. On organic driver data
    * the multiplier ≈ 1 and every band beyond `fixed` is ~empty —
    * the census says "the constant was fine"; at 3×/10× synth
    * replication `n_fp_rescued`/`pairs_rescued` go large, which is
    * exactly the monitor a crawl operator reads before trusting a
    * dedup pass on a duplication-shifted corpus.
    *
    * Scale shape: rides the shared [[SharedWinnow.fpDoc]] kernel
    * artifact (one gram+hash+fold pass per session, also under
    * q226/q238/q246/q251); the census is one hash-agg over per-fp
    * document frequencies (|distinct fps| rows) plus a 1-row corpus
    * aggregate — nothing pair-shaped is materialized. */
  private val q250 = Q(
    "q250_screen_cap_calibration",
    (s, dir) => {
      val acap = SharedWinnow.adaptiveCap(s, dir)
      val nd = SharedWinnow.fpDoc(s, dir)
        .groupBy(col("fp")).agg(count(lit(1)).as("nd"))
        .filter(col("nd") >= 2)
      val cens = nd.agg(
        count(lit(1)).as("n_fp_ge2"),
        coalesce(sum(when(col("nd") <= fixedCap.toLong, 1L)), lit(0L))
          .as("n_fp_fixed"),
        coalesce(sum(when(col("nd") > fixedCap.toLong &&
          col("nd") <= acap, 1L)), lit(0L)).as("n_fp_rescued"),
        coalesce(sum(when(col("nd") > acap, 1L)), lit(0L))
          .as("n_fp_dropped"),
        coalesce(sum(when(col("nd") > fixedCap.toLong &&
          col("nd") <= acap, expr("(nd * (nd - 1)) div 2"))), lit(0L))
          .as("pairs_rescued"))
      Tables.documents(s, dir)
        .agg(count(lit(1)).as("n_docs"),
          count_distinct(md5(col("text"))).as("n_distinct_text"))
        .crossJoin(broadcast(cens))
        .select(col("n_docs"), col("n_distinct_text"),
          lit(acap).as("adaptive_cap"), col("n_fp_ge2"),
          col("n_fp_fixed"), col("n_fp_rescued"), col("n_fp_dropped"),
          col("pairs_rescued"))
    },
    s"""WITH ${OracleSql.winnowFdAdaptiveCap},
      nd AS (SELECT fp, CAST(COUNT(*) AS BIGINT) AS nd
        FROM fd GROUP BY 1 HAVING COUNT(*) >= 2),
      cens AS (SELECT
          CAST(COUNT(*) AS BIGINT) AS n_fp_ge2,
          CAST(COALESCE(SUM(CASE WHEN nd <= $fixedCap
            THEN 1 END), 0) AS BIGINT) AS n_fp_fixed,
          CAST(COALESCE(SUM(CASE WHEN nd > $fixedCap
            AND nd <= (SELECT cap FROM acap)
            THEN 1 END), 0) AS BIGINT) AS n_fp_rescued,
          CAST(COALESCE(SUM(CASE WHEN nd > (SELECT cap FROM acap)
            THEN 1 END), 0) AS BIGINT) AS n_fp_dropped,
          CAST(COALESCE(SUM(CASE WHEN nd > $fixedCap
            AND nd <= (SELECT cap FROM acap)
            THEN (nd * (nd - 1)) // 2 END), 0) AS BIGINT)
            AS pairs_rescued
        FROM nd)
      SELECT m.n_docs, m.n_distinct_text,
        CAST(a.cap AS BIGINT) AS adaptive_cap,
        c.n_fp_ge2, c.n_fp_fixed, c.n_fp_rescued, c.n_fp_dropped,
        c.pairs_rescued
      FROM meta m CROSS JOIN acap a CROSS JOIN cens c""")

  /** CROSS-SOURCE DUP MATRIX UNDER THE ADAPTIVE CAP — q246 re-run
    * with the calibrated screen (q250's cap) instead of the fixed
    * constant: the (src_a, src_b) duplicate-component matrix a
    * mixture-weight owner reads. On organic data the two caps nearly
    * coincide and the matrices agree; under corpus duplication the
    * fixed-cap matrix EMPTIES (every family fp crosses 16 and its
    * edges vanish — the r11 gate measured exactly 0 components at
    * 10×) while this one keeps the families, because the threshold
    * moved with the measured duplication. The synth-gate pairing of
    * q246-vs-q251 at 10× is the recall-holding evidence the fixed cap
    * cannot produce.
    *
    * Scale shape: identical to q246 — the component map is the
    * per-cap session artifact ([[SharedWinnow.componentsAt]], one
    * df-filter + pair join + CC fixpoint over the SHARED fpDoc kernel
    * pass), this query adds a distinct over (component, source), a
    * component-keyed self-join (per-key fan-out bounded by the cap),
    * and a ≤C(|sources|,2)-row census. */
  private val q251 = Q(
    "q251_adaptive_dup_matrix",
    (s, dir) => {
      val cs = Tables.documents(s, dir).select(col("doc_id"), col("source"))
        .join(SharedWinnow.componentsAt(s, dir,
          SharedWinnow.adaptiveCap(s, dir)), "doc_id")
        .select(col("component"), col("source")).distinct()
      cs.select(col("component"), col("source").as("src_a"))
        .join(cs.select(col("component"), col("source").as("src_b"))
          .hint("shuffle_hash"), Seq("component"))
        .filter(col("src_a") < col("src_b"))
        .groupBy(col("src_a"), col("src_b"))
        .agg(count(lit(1)).as("n_components"))
        .orderBy(col("src_a"), col("src_b"))
    },
    s"""WITH RECURSIVE ${OracleSql.winnowFdAdaptiveCap},
      ${OracleSql.winnowPairs(dfCap = "(SELECT cap FROM acap)", mat = true)},
      ${OracleSql.componentWalk("wp", "comps", matComp = true)},
      cs AS (SELECT DISTINCT c.component, d.source
        FROM comps c JOIN documents d ON d.doc_id = c.doc_id)
      SELECT a.source AS src_a, b.source AS src_b,
        CAST(COUNT(*) AS BIGINT) AS n_components
      FROM cs a JOIN cs b
        ON a.component = b.component AND a.source < b.source
      GROUP BY 1, 2 ORDER BY src_a, src_b""")


  /** REPAIR THRESHOLD AUTO-PICK — q248's sweep turned into a POLICY
    * (r11 verdict item 3): over the same 0.2/0.35/0.5 grid, pick the
    * SMALLEST threshold whose blast radius has already converged —
    * max_sub equal to the next grid point's (raising the bar further
    * buys nothing) — falling back to the largest grid point when the
    * curve is still shrinking at the end. On the driver corpus the
    * knee q248 exposed by inspection (0.2 keeps the 1,042-doc organic
    * chain, 0.35 dissolves it, 0.5 adds nothing) makes the pick
    * 350000 ppm; the RepairCert `auto` leg re-certifies
    * split_families = 0 at whatever this query picks.
    *
    * Scale shape: the three per-threshold strong-CC maps are session
    * artifacts ([[SharedLsh.strongComponentsAt]] — paid once, shared
    * with q248); the pick logic is a triangular join over the 3-row
    * sweep census. */
  private val q252 = Q(
    "q252_repair_threshold_pick",
    (s, dir) => {
      val sweep = Seq(200000L, 350000L, 500000L).map { t =>
        val cc = SharedLsh.strongComponentsAt(s, dir, t)
        cc.groupBy(col("component")).agg(count(lit(1)).as("ssz"))
          .agg(count(lit(1)).as("n_subclusters"),
            coalesce(max(col("ssz")), lit(0L)).as("max_sub"),
            coalesce(sum(col("ssz")), lit(0L)).as("n_connected"))
          .select(lit(t).as("thr_ppm"), col("n_subclusters"),
            col("max_sub"), col("n_connected"))
      }.reduce(_.unionByName(_)).localCheckpoint() // 3 rows, read 2×
      // next_ms = max_sub at the smallest grid point ABOVE this one
      val nxt = sweep.select(col("thr_ppm").as("thr2"),
        col("max_sub").as("ms2"))
      sweep.join(nxt, col("thr2") > col("thr_ppm"), "left")
        .groupBy(col("thr_ppm"), col("n_subclusters"), col("max_sub"),
          col("n_connected"))
        .agg(min_by(col("ms2"), col("thr2")).as("next_ms"))
        .withColumn("pri",
          when(col("next_ms").isNotNull &&
            col("max_sub") === col("next_ms"), lit(0L)).otherwise(lit(1L)))
        // converged rows by ascending threshold first; if none
        // converged, the largest grid point wins (descending order)
        .orderBy(col("pri"),
          when(col("pri") === 0L, col("thr_ppm"))
            .otherwise(-col("thr_ppm")))
        .limit(1)
        .select(col("thr_ppm").as("picked_thr_ppm"),
          col("n_subclusters"), col("max_sub"), col("n_connected"))
    },
    s"""WITH RECURSIVE ${OracleSql.megaChain},
      ${OracleSql.thresholdLeg("a", 200000L)},
      ${OracleSql.thresholdLeg("b", 350000L)},
      ${OracleSql.thresholdLeg("c", 500000L)},
      allr AS (SELECT * FROM ra UNION ALL SELECT * FROM rb
        UNION ALL SELECT * FROM rc),
      nx AS (SELECT a.thr_ppm, a.n_subclusters, a.max_sub,
          a.n_connected,
          (SELECT b.max_sub FROM allr b WHERE b.thr_ppm > a.thr_ppm
            ORDER BY b.thr_ppm LIMIT 1) AS next_ms
        FROM allr a)
      SELECT thr_ppm AS picked_thr_ppm, n_subclusters, max_sub,
        n_connected
      FROM nx
      ORDER BY (CASE WHEN next_ms IS NOT NULL AND max_sub = next_ms
          THEN 0 ELSE 1 END),
        (CASE WHEN next_ms IS NOT NULL AND max_sub = next_ms
          THEN thr_ppm ELSE -thr_ppm END)
      LIMIT 1""")

  /** DF-SPECTRUM QUANTILE CAP — the OTHER calibration the r11 verdict
    * named (a per-fp document-frequency quantile cut, next to q250's
    * multiplicity scaling): the exact df spectrum of the winnowed
    * fingerprints (≥2), and the smallest cap covering ≥ 99.9% of fps
    * — boilerplate is the extreme TAIL of the df distribution, so a
    * quantile cut adapts to any duplication profile without a model
    * of how the duplication arose (the multiplicity formula assumes
    * whole-document copies; a quantile survives partial/templated
    * duplication too). Output: the 99.9‰ cap, the spectrum mass, and
    * q250's multiplicity cap alongside — the two calibrations a cap
    * owner cross-checks (they agree on organic data; a large gap
    * flags structured duplication worth investigating).
    *
    * Scale shape: rides [[SharedWinnow.fpDoc]]; the spectrum is a
    * double hash-agg (per-fp df, then per-df count — output rows
    * bounded by |distinct df values| ≤ cap ceiling, ~160 at 10×); the
    * cumulative is a TRIANGULAR self-join over that census (the q239
    * rule: no unpartitioned window, ever), and the pick is one
    * filtered min. All-integer: the ‰ comparison is cum·1000 ≥
    * tot·999, no division at all. */
  private val q253 = Q(
    "q253_df_quantile_cap",
    (s, dir) => {
      val nd = SharedWinnow.fpDoc(s, dir)
        .groupBy(col("fp")).agg(count(lit(1)).as("nd"))
        .filter(col("nd") >= 2)
      val spec = nd.groupBy(col("nd")).agg(count(lit(1)).as("k"))
        .localCheckpoint() // census; cumulative legs + total, one lineage
      val tot = spec.agg(coalesce(sum(col("k")), lit(0L)).as("tot"))
      val cum = spec
        .join(spec.select(col("nd").as("nd2"), col("k").as("k2")),
          col("nd2") <= col("nd"))
        .groupBy(col("nd")).agg(sum(col("k2")).as("cum"))
      cum.crossJoin(broadcast(tot))
        .filter(col("cum") * 1000L >= col("tot") * 999L)
        .agg(coalesce(min(col("nd")), lit(0L)).as("q999_cap"))
        .crossJoin(broadcast(tot))
        .select(col("q999_cap"), col("tot").as("n_fp_ge2"),
          lit(SharedWinnow.adaptiveCap(s, dir)).as("multiplicity_cap"))
    },
    s"""WITH ${OracleSql.winnowFdAdaptiveCap},
      nd AS (SELECT fp, CAST(COUNT(*) AS BIGINT) AS nd
        FROM fd GROUP BY 1 HAVING COUNT(*) >= 2),
      spec AS (SELECT nd, CAST(COUNT(*) AS BIGINT) AS k
        FROM nd GROUP BY 1),
      tot AS (SELECT CAST(COALESCE(SUM(k), 0) AS BIGINT) AS tot
        FROM spec),
      cum AS (SELECT a.nd, CAST(SUM(b.k) AS BIGINT) AS cum
        FROM spec a JOIN spec b ON b.nd <= a.nd GROUP BY 1),
      pick AS (SELECT CAST(COALESCE(MIN(c.nd), 0) AS BIGINT)
          AS q999_cap
        FROM cum c CROSS JOIN tot t
        WHERE c.cum * 1000 >= t.tot * 999)
      SELECT p.q999_cap, t.tot AS n_fp_ge2,
        CAST(a.cap AS BIGINT) AS multiplicity_cap
      FROM pick p CROSS JOIN tot t CROSS JOIN acap a""")

  /** EFFECTIVE DATASET SIZE UNDER THE ADAPTIVE CAP — q247's twin on
    * the calibrated screen: per-source Σ 1/|component| in exact ppm.
    * The pair quantifies the RESIDUAL bias the fixed cap leaves even
    * where it "works": under duplication the fixed screen keeps the
    * formerly-unique fps (base df 1 → m ≤ 16 keeps copy families
    * clustered) but loses every fp with base df ≥ 2 — the ORGANIC
    * near-dup evidence — so fixed-cap effective sizes overstate
    * diversity by exactly the organic merges. A budget owner reading
    * q247 alone on a duplication-shifted corpus overpays; this query
    * is the corrected invoice.
    *
    * Scale shape: identical to q247 — one hash-agg for component
    * sizes, id-keyed shuffle-hash joins (the map scales with dup
    * rate — never broadcast, the q199 rule), |sources| census rows;
    * the component map is the per-cap session artifact shared with
    * q251. */
  private val q254 = Q(
    "q254_adaptive_effective_size",
    (s, dir) => {
      val comps = SharedWinnow.componentsAt(s, dir,
        SharedWinnow.adaptiveCap(s, dir))
      val sz = comps.groupBy(col("component"))
        .agg(count(lit(1)).as("csize"))
      Tables.documents(s, dir).select(col("doc_id"), col("source"))
        .join(comps.hint("shuffle_hash"), Seq("doc_id"), "left")
        .join(sz.hint("shuffle_hash"), Seq("component"), "left")
        .withColumn("csize", coalesce(col("csize"), lit(1L)))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("component").isNotNull, 1L).otherwise(0L))
            .as("n_clustered"),
          sum(expr("1000000 div csize")).as("effective_x1e6"))
        .orderBy(col("source"))
    },
    s"""WITH RECURSIVE ${OracleSql.winnowFdAdaptiveCap},
      ${OracleSql.winnowPairs(dfCap = "(SELECT cap FROM acap)", mat = true)},
      ${OracleSql.componentWalk("wp", "comps", matComp = true)},
      sz AS (SELECT component, CAST(COUNT(*) AS BIGINT) AS csize
        FROM comps GROUP BY 1),
      j AS (SELECT d.source, c.component,
          COALESCE(sz.csize, 1) AS csize
        FROM documents d
        LEFT JOIN comps c ON c.doc_id = d.doc_id
        LEFT JOIN sz ON sz.component = c.component)
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(CASE WHEN component IS NOT NULL THEN 1 ELSE 0 END)
          AS BIGINT) AS n_clustered,
        CAST(SUM(1000000 // csize) AS BIGINT) AS effective_x1e6
      FROM j GROUP BY 1 ORDER BY source""")

  // ---------------------------------------------------------------------

  val list: Seq[Q] = Seq(q250, q251, q252, q253, q254)
}
