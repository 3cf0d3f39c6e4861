package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{CorpusStats, EventAnalytics, TextAnalysis}
import Queries.Q

/** Corpus-composition and event-behavior analytics: Gopher-family
  * quality-rule census, per-source distribution divergence, session
  * path / transition analysis, last-touch attribution, and rate
  * anomaly detection. All-integer (or decimal-cast) outputs per the
  * Queries determinism rules.
  */
object QueriesAnalytics {

  private val SessionGapMs = 1800000L

  /** GOPHER QUALITY-RULE CENSUS (TextAnalysis.gopherFlags; Rae et al.
    * 2021 §A.1.1 adapted so each rule splits the synthetic corpus):
    * per-rule pass counts + the kept count under the conjunction.
    * Every rule is a pure per-row array/integer expression fused into
    * the scan; the census is a single global agg of 0/1 columns — at
    * 100 TB this is one pass over text with a 1-row result. */
  private val q138 = Q(
    "q138_gopher_rules",
    (s, dir) => {
      val flags = TextAnalysis.gopherFlags(col("text"), 20, 80)
      val flagged = Tables.documents(s, dir).select(
        flags.map { case (n, c) => when(c, 1L).otherwise(0L).as(n) }: _*)
      flagged.agg(
        count(lit(1)).as("n_docs"),
        sum(col("r_wordcount")).as("pass_wordcount"),
        sum(col("r_meanwordlen")).as("pass_meanwordlen"),
        sum(col("r_stopwords")).as("pass_stopwords"),
        sum(col("r_repetition")).as("pass_repetition"),
        sum(col("r_wordcount") * col("r_meanwordlen") *
          col("r_stopwords") * col("r_repetition")).as("n_kept"))
    },
    """WITH tk AS (SELECT doc_id, string_split(text,' ') AS ts,
        len(replace(text,' ','')) AS nchars FROM documents),
      m AS (SELECT doc_id, len(ts) AS nw, nchars,
        len(list_filter(list_distinct(ts),
          x -> x IN ('the','a','is','of','and','to','in'))) AS stophits,
        list_max(list_transform(list_distinct(ts),
          d -> len(list_filter(ts, x -> x = d)))) AS maxtf
       FROM tk),
      f AS (SELECT
        CASE WHEN nw BETWEEN 20 AND 80 THEN 1 ELSE 0 END AS rwc,
        CASE WHEN nchars*10 >= nw*39 AND nchars*10 <= nw*51
             THEN 1 ELSE 0 END AS rmwl,
        CASE WHEN stophits >= 2 THEN 1 ELSE 0 END AS rstop,
        CASE WHEN maxtf*5 <= nw THEN 1 ELSE 0 END AS rrep
       FROM m)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(rwc) AS BIGINT) AS pass_wordcount,
        CAST(SUM(rmwl) AS BIGINT) AS pass_meanwordlen,
        CAST(SUM(rstop) AS BIGINT) AS pass_stopwords,
        CAST(SUM(rrep) AS BIGINT) AS pass_repetition,
        CAST(SUM(rwc*rmwl*rstop*rrep) AS BIGINT) AS n_kept
      FROM f""")

  /** PER-SOURCE UNIGRAM TVD (CorpusStats.sourceUnigramTvd): total
    * -variation distance of each source's token distribution from the
    * corpus, exact cross-multiplied BIGINTs, one div at the end
    * (×10⁴ fixed point). The mixture-design readout: which sources
    * are distributionally redundant. */
  private val q139 = Q(
    "q139_source_divergence",
    (s, dir) => CorpusStats.sourceUnigramTvd(Tables.documents(s, dir)),
    """WITH toks AS (
        SELECT source, UNNEST(string_split(text,' ')) AS term
        FROM documents),
      ost AS (SELECT source, term, COUNT(*) AS o FROM toks GROUP BY 1,2),
      ct AS (SELECT term, COUNT(*) AS c FROM toks GROUP BY 1),
      srcs AS (SELECT source, CAST(SUM(o) AS BIGINT) AS s
        FROM ost GROUP BY 1),
      tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM ct),
      grid AS (SELECT srcs.source, srcs.s, ct.term, ct.c, tot.t
        FROM srcs CROSS JOIN ct CROSS JOIN tot),
      j AS (SELECT g.source, g.s, g.t,
          ABS(COALESCE(o.o, 0)*g.t - g.c*g.s) AS ad
        FROM grid g LEFT JOIN ost o
          ON g.source = o.source AND g.term = o.term)
      SELECT source, s AS n_tokens,
        CAST(SUM(ad)*10000 // (2*s*t) AS BIGINT) AS tvd_x1e4
      FROM j GROUP BY source, s, t ORDER BY source""")

  /** TOP SESSION PATHS (EventAnalytics.sessionPaths): the first 8
    * event types of each 30-min-gap session joined with '>', top 20
    * by frequency. Per-session state is capped (row_number ≤ 8 BEFORE
    * the collect); the census key is a short string. */
  private val q140 = Q(
    "q140_session_paths",
    (s, dir) => EventAnalytics.sessionPaths(
      Tables.events(s, dir).selectExpr(
        "user_id", "event_id", "event_type", "unix_millis(ts) as ms"),
      SessionGapMs, maxLen = 8, topK = 20),
    """WITH t AS (SELECT user_id, event_id, event_type,
          epoch_ms(ts) AS ms FROM events),
      f AS (SELECT *, CASE
          WHEN ms - LAG(ms,1) OVER (PARTITION BY user_id
            ORDER BY ms, event_id) > 1800000 THEN 1
          WHEN LAG(ms,1) OVER (PARTITION BY user_id
            ORDER BY ms, event_id) IS NULL THEN 1
          ELSE 0 END AS new_s
        FROM t),
      sess AS (SELECT *, CAST(SUM(new_s) OVER (PARTITION BY user_id
          ORDER BY ms, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS session_id
        FROM f),
      r AS (SELECT *, ROW_NUMBER() OVER (
          PARTITION BY user_id, session_id
          ORDER BY ms, event_id) AS rn
        FROM sess),
      p AS (SELECT user_id, session_id,
          STRING_AGG(event_type, '>' ORDER BY ms, event_id) AS path
        FROM r WHERE rn <= 8 GROUP BY 1, 2)
      SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
      FROM p GROUP BY 1
      ORDER BY n_sessions DESC, path LIMIT 20""")

  /** SESSION TRANSITION MATRIX (EventAnalytics.transitionCensus):
    * first-order Markov (from → to) adjacent-pair counts within
    * sessions, conditional probability as integer ppm. |types|² rows. */
  private val q141 = Q(
    "q141_event_transitions",
    (s, dir) => EventAnalytics.transitionCensus(
      Tables.events(s, dir).selectExpr(
        "user_id", "event_id", "event_type", "unix_millis(ts) as ms"),
      SessionGapMs),
    """WITH t AS (SELECT user_id, event_id, event_type,
          epoch_ms(ts) AS ms FROM events),
      f AS (SELECT *, CASE
          WHEN ms - LAG(ms,1) OVER (PARTITION BY user_id
            ORDER BY ms, event_id) > 1800000 THEN 1
          WHEN LAG(ms,1) OVER (PARTITION BY user_id
            ORDER BY ms, event_id) IS NULL THEN 1
          ELSE 0 END AS new_s
        FROM t),
      sess AS (SELECT *, CAST(SUM(new_s) OVER (PARTITION BY user_id
          ORDER BY ms, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS session_id
        FROM f),
      pr AS (SELECT event_type AS from_type,
          LEAD(event_type) OVER (PARTITION BY user_id, session_id
            ORDER BY ms, event_id) AS to_type
        FROM sess),
      c AS (SELECT from_type, to_type, COUNT(*) AS n
        FROM pr WHERE to_type IS NOT NULL GROUP BY 1, 2)
      SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
        CAST(n*1000000 // SUM(n) OVER (PARTITION BY from_type)
          AS BIGINT) AS p_ppm
      FROM c ORDER BY from_type, to_type""")

  /** LAST-TOUCH ATTRIBUTION (EventAnalytics.lastTouchAttribution):
    * each purchase credited to the latest preceding view/click by the
    * same user within 7 days (running MAX of a packed ms·3+code — no
    * per-pair join; same-ms ties resolve to click, the higher code).
    * Census: conversions + decimal-exact revenue per touch type. */
  private val q142 = Q(
    "q142_attribution",
    (s, dir) => EventAnalytics.lastTouchAttribution(
      Tables.events(s, dir).selectExpr(
        "user_id", "event_id", "event_type", "value",
        "unix_millis(ts) as ms"),
      touchTypes = Seq("view", "click"), convType = "purchase",
      windowMs = 604800000L),
    """WITH t AS (SELECT event_id, user_id, event_type, value,
          epoch_ms(ts) AS ms FROM events),
      pk AS (SELECT *, CASE
          WHEN event_type = 'view'  THEN ms*3 + 1
          WHEN event_type = 'click' THEN ms*3 + 2
          END AS pkd
        FROM t),
      lp AS (SELECT *, MAX(pkd) OVER (PARTITION BY user_id
          ORDER BY ms, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
          AS last_packed
        FROM pk),
      conv AS (SELECT *, CASE
          WHEN last_packed IS NOT NULL AND last_packed % 3 = 2
            AND ms - last_packed // 3 <= 604800000 THEN 'click'
          WHEN last_packed IS NOT NULL AND last_packed % 3 = 1
            AND ms - last_packed // 3 <= 604800000 THEN 'view'
          ELSE 'none' END AS touch_type
        FROM lp WHERE event_type = 'purchase')
      SELECT touch_type, CAST(COUNT(*) AS BIGINT) AS n_conversions,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      FROM conv GROUP BY 1 ORDER BY 1""")

  /** RATE-ANOMALY DETECTION (EventAnalytics.rateAnomalies): hourly
    * (event_type, hour) cells whose count exceeds 1.5× the trailing
    * -24h hourly mean (integer cross-multiplied, ≥12 trailing buckets
    * of coverage). RANGE window on the integer hour. */
  private val q143 = Q(
    "q143_rate_anomaly",
    (s, dir) => EventAnalytics.rateAnomalies(
      Tables.events(s, dir).selectExpr(
        "event_type", "unix_millis(ts) as ms")),
    """WITH t AS (SELECT event_type,
          epoch_ms(ts) // 3600000 AS hr FROM events),
      c AS (SELECT event_type, hr, COUNT(*) AS n FROM t GROUP BY 1, 2),
      w AS (SELECT event_type, hr, n,
          SUM(n) OVER (PARTITION BY event_type ORDER BY hr
            RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING) AS trail_sum,
          COUNT(*) OVER (PARTITION BY event_type ORDER BY hr
            RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING) AS trail_buckets
        FROM c)
      SELECT event_type, CAST(hr AS BIGINT) AS hr, CAST(n AS BIGINT) AS n,
        CAST(trail_sum AS BIGINT) AS trail_sum,
        CAST(trail_buckets AS BIGINT) AS trail_buckets
      FROM w
      WHERE trail_buckets >= 12 AND n*trail_buckets*2 > trail_sum*3
      ORDER BY event_type, hr""")

  /** Shared oracle CTE: the rare-gram (df ∈ [2,10]) 8-gram edge list
    * and its degree table — q144/q145 read the same graph. */
  /** `grams`/`pairs` are MATERIALIZED: consumers downstream (k-core's
    * chained peels, LPA's chained rounds, the triangle join's three
    * legs) reference them repeatedly, and DuckDB's default CTE
    * inlining re-evaluates the gram self-join once PER REFERENCE —
    * measured at sf0.1 as a >60 GB spill + ENOSPC on q163 vs 1.2 s
    * materialized. Same class of planner trap as q128/q172's
    * candidate-prefilter rule; recorded in NEXT.md. */
  private[graft] val GramEdgesSql: String =
    """WITH toks AS (SELECT doc_id, string_split(text,' ') AS t
        FROM documents),
      grams AS MATERIALIZED (SELECT DISTINCT doc_id, g FROM (
        SELECT doc_id, UNNEST(list_transform(range(1, len(t)-6),
          i -> array_to_string(
            list_slice(t, CAST(i AS INT), CAST(i AS INT)+7), ' '))) AS g
        FROM toks WHERE len(t) >= 8)),
      df AS (SELECT g, COUNT(*) AS d FROM grams GROUP BY 1),
      rare AS (SELECT g FROM df WHERE d BETWEEN 2 AND 10),
      pairs AS MATERIALIZED (SELECT DISTINCT a.doc_id AS x, b.doc_id AS y
        FROM grams a JOIN rare USING (g) JOIN grams b USING (g)
        WHERE a.doc_id < b.doc_id),
      deg AS (SELECT v, COUNT(*) AS d FROM (
        SELECT x AS v FROM pairs UNION ALL SELECT y FROM pairs)
        GROUP BY 1)"""

  /** DOCUMENT-SIMILARITY GRAPH TRIANGLE CENSUS
    * (Curation.sharedGramEdges ∘ Graphs.triangleCensus): edges = doc
    * pairs sharing a word 8-gram with document frequency in [2, 10]
    * (the df cap bounds fan-out — a gram emits ≤ C(10,2) pairs), then
    * the oriented two-hop triangle join + Σ C(deg,2) triplets and the
    * global clustering coefficient as integer ppm. The
    * template-cluster structure readout: high cc = template families,
    * low cc = chance collisions. */
  private val q144 = Q(
    "q144_graph_triangles",
    // SharedGrams.gramEdges: one materialized edge list serves the
    // census's five consumers AND q145 (the SharedGrams discipline)
    (s, dir) => graft.operators.Graphs.triangleCensus(
      SharedGrams.gramEdges(s, dir)),
    s"""$GramEdgesSql
      SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
        (SELECT COUNT(*) FROM pairs) AS n_edges,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs e1
          JOIN pairs e2 ON e1.y = e2.x
          JOIN pairs e3 ON e1.x = e3.x AND e2.y = e3.y) AS n_triangles,
        (SELECT CAST(COALESCE(SUM(d*(d-1)//2), 0) AS BIGINT) FROM deg)
          AS n_triplets,
        CASE WHEN (SELECT COALESCE(SUM(d*(d-1)//2), 0) FROM deg) = 0
          THEN 0
          ELSE CAST((SELECT COUNT(*) FROM pairs e1
              JOIN pairs e2 ON e1.y = e2.x
              JOIN pairs e3 ON e1.x = e3.x AND e2.y = e3.y) * 3000000
            // (SELECT SUM(d*(d-1)//2) FROM deg) AS BIGINT)
          END AS global_cc_ppm""")

  /** DEGREE-DISTRIBUTION HISTOGRAM of the same shared-gram graph:
    * (degree → node count), the power-law readout that tells a dedup
    * operator whether the near-dup graph has hub docs (boilerplate
    * magnets) before CC is attempted. */
  private val q145 = Q(
    "q145_graph_degrees",
    (s, dir) => graft.operators.Graphs.degrees(
      SharedGrams.gramEdges(s, dir))
      .groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("degree")),
    s"""$GramEdgesSql
      SELECT d AS degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
      FROM deg GROUP BY 1 ORDER BY degree""")

  /** K-CORE PEEL CENSUS of the shared-gram similarity graph
    * (Graphs.kCoreCensus over SharedGrams.gramEdges): three rounds of
    * deleting degree-<2 nodes, reporting (round, n_nodes, n_edges).
    * The dedup-cluster density readout — nodes surviving the 2-core
    * sit in multi-document template families (worth clustering);
    * peeled nodes were pendant chance collisions. Census-sized output
    * at any corpus size; the oracle unrolls the same three peels as
    * chained CTEs. */
  private val q163 = Q(
    "q163_kcore_census",
    (s, dir) => graft.operators.Graphs.kCoreCensus(
      SharedGrams.gramEdges(s, dir), k = 2, rounds = 3)
      .orderBy(col("round")),
    s"""$GramEdgesSql,
      d0 AS (SELECT v, d FROM deg),
      k0 AS (SELECT v FROM d0 WHERE d >= 2),
      e1 AS (SELECT x, y FROM pairs
        WHERE x IN (SELECT v FROM k0) AND y IN (SELECT v FROM k0)),
      d1 AS (SELECT v, COUNT(*) AS d FROM (
        SELECT x AS v FROM e1 UNION ALL SELECT y FROM e1) GROUP BY 1),
      k1 AS (SELECT v FROM d1 WHERE d >= 2),
      e2 AS (SELECT x, y FROM e1
        WHERE x IN (SELECT v FROM k1) AND y IN (SELECT v FROM k1)),
      d2 AS (SELECT v, COUNT(*) AS d FROM (
        SELECT x AS v FROM e2 UNION ALL SELECT y FROM e2) GROUP BY 1),
      k2 AS (SELECT v FROM d2 WHERE d >= 2),
      e3 AS (SELECT x, y FROM e2
        WHERE x IN (SELECT v FROM k2) AND y IN (SELECT v FROM k2)),
      d3 AS (SELECT v, COUNT(*) AS d FROM (
        SELECT x AS v FROM e3 UNION ALL SELECT y FROM e3) GROUP BY 1)
      SELECT CAST(0 AS INT) AS round,
        (SELECT COUNT(*) FROM d0) AS n_nodes,
        (SELECT COUNT(*) FROM pairs) AS n_edges
      UNION ALL SELECT CAST(1 AS INT),
        (SELECT COUNT(*) FROM d1), (SELECT COUNT(*) FROM e1)
      UNION ALL SELECT CAST(2 AS INT),
        (SELECT COUNT(*) FROM d2), (SELECT COUNT(*) FROM e2)
      UNION ALL SELECT CAST(3 AS INT),
        (SELECT COUNT(*) FROM d3), (SELECT COUNT(*) FROM e3)
      ORDER BY round""")

  /** GROUPED PEARSON CORRELATION MATRIX over lineitem
    * (quantity↔extendedprice, quantity↔discount per returnflag):
    * sufficient statistics as EXACT decimal sums in one pass (the
    * dsum discipline), combined in IEEE doubles with IDENTICAL
    * operation order on both engines, floored to ×10⁶ fixed point.
    * One scan, one hash-agg — the profiling companion to q73. */
  private val q146 = Q(
    "q146_corr_matrix",
    (s, dir) => {
      val li = Tables.lineitem(s, dir)
      def d2(c: String) = col(c).cast("decimal(18,2)")
      li.groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          sum(d2("l_quantity")).cast("double").as("sx"),
          sum(d2("l_extendedprice")).cast("double").as("sy"),
          sum(d2("l_discount")).cast("double").as("sz"),
          sum(d2("l_quantity") * d2("l_quantity")).cast("double").as("sxx"),
          sum(d2("l_extendedprice") * d2("l_extendedprice")).cast("double").as("syy"),
          sum(d2("l_discount") * d2("l_discount")).cast("double").as("szz"),
          sum(d2("l_quantity") * d2("l_extendedprice")).cast("double").as("sxy"),
          sum(d2("l_quantity") * d2("l_discount")).cast("double").as("sxz"))
        .select(col("l_returnflag"), col("n"),
          expr(CorrExpr("sxy", "sx", "sy", "sxx", "syy"))
            .as("corr_qty_price_fp"),
          expr(CorrExpr("sxz", "sx", "sz", "sxx", "szz"))
            .as("corr_qty_disc_fp"))
        .orderBy(col("l_returnflag"))
    },
    s"""WITH a AS (SELECT l_returnflag,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sz,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
          * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
          * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy,
        CAST(SUM(CAST(l_discount AS DECIMAL(18,2))
          * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS szz,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
          * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
          * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sxz
      FROM lineitem GROUP BY 1)
      SELECT l_returnflag, n,
        ${CorrExpr("sxy", "sx", "sy", "sxx", "syy")} AS corr_qty_price_fp,
        ${CorrExpr("sxz", "sx", "sz", "sxx", "szz")} AS corr_qty_disc_fp
      FROM a ORDER BY l_returnflag""")

  /** The Pearson-correlation fixed-point combiner, shared VERBATIM
    * between the Spark expr and the oracle SQL so the IEEE operation
    * order is identical token for token (the last-ulp rule from the
    * determinism notes). */
  private def CorrExpr(sxy: String, sx: String, sy: String,
                       sxx: String, syy: String): String =
    s"CASE WHEN (n*$sxx - $sx*$sx) * (n*$syy - $sy*$sy) <= 0e0 THEN 0 " +
      s"ELSE CAST(FLOOR(((n*$sxy - $sx*$sy) " +
      s"/ SQRT((n*$sxx - $sx*$sx) * (n*$syy - $sy*$sy))) * 1000000e0) " +
      "AS BIGINT) END"

  /** CONVERSION-LATENCY PERCENTILES (Funnel.stepTimes ∘ the q39
    * exact-discrete-percentile kernel): per funnel transition
    * (view→click, click→purchase), n / min / exact discrete median
    * (rank ⌊(n+1)/2⌋) / p90 (rank ⌈9n/10⌉) / max of the step gap in
    * ms. Percentile ranks are integer-div expressions shared verbatim
    * with the oracle; ties break on user id so the selected row is
    * unique. One window per step partition — two partitions total. */
  private val q147 = Q(
    "q147_conversion_latency",
    (s, dir) => {
      val times = graft.operators.Funnel.stepTimes(
        Tables.events(s, dir).selectExpr(
          "user_id", "event_type", "unix_millis(ts) as ms"),
        "user_id", "event_type", "ms",
        Seq("view", "click", "purchase"), maxGapMs = Some(86400000L))
      val durs = times
        .select(col("u"), lit("1_view_click").as("step"),
          (col("t2") - col("t1")).as("dur"))
        .union(times.select(col("u"), lit("2_click_purchase").as("step"),
          (col("t3") - col("t2")).as("dur")))
        .filter(col("dur").isNotNull)
      // two-phase range-partitioned ranks (GroupedRank): two step
      // partitions over all conversions would otherwise sort in two
      // tasks however large the event log
      val ranked = graft.operators.GroupedRank.withRank(
        durs, "step", Seq("dur", "u"))
      val base = ranked.groupBy(col("step"))
        .agg(count(lit(1)).as("n"), min(col("dur")).as("min_ms"),
          max(col("dur")).as("max_ms"))
      val med = ranked.filter(col("rn") === expr("(cnt + 1) div 2"))
        .select(col("step"), col("dur").as("median_ms"))
      val p90 = ranked.filter(col("rn") === expr("(9*cnt + 9) div 10"))
        .select(col("step"), col("dur").as("p90_ms"))
      base.join(med, Seq("step")).join(p90, Seq("step"))
        .select(col("step"), col("n"), col("min_ms"), col("median_ms"),
          col("p90_ms"), col("max_ms"))
        .orderBy(col("step"))
    },
    """WITH t AS (SELECT user_id AS u, event_type AS et,
          epoch_ms(ts) AS ms FROM events),
      s1 AS (SELECT u, MIN(ms) AS t1 FROM t WHERE et = 'view' GROUP BY 1),
      s2 AS (SELECT t.u, MIN(t.ms) AS t2 FROM t JOIN s1 USING (u)
        WHERE t.et = 'click' AND t.ms > s1.t1
          AND t.ms <= s1.t1 + 86400000 GROUP BY 1),
      s3 AS (SELECT t.u, MIN(t.ms) AS t3 FROM t JOIN s2 USING (u)
        WHERE t.et = 'purchase' AND t.ms > s2.t2
          AND t.ms <= s2.t2 + 86400000 GROUP BY 1),
      durs AS (
        SELECT s1.u, '1_view_click' AS step, s2.t2 - s1.t1 AS dur
        FROM s1 JOIN s2 USING (u)
        UNION ALL
        SELECT s2.u, '2_click_purchase' AS step, s3.t3 - s2.t2 AS dur
        FROM s2 JOIN s3 USING (u)),
      ranked AS (SELECT *,
          ROW_NUMBER() OVER (PARTITION BY step ORDER BY dur, u) AS rn,
          COUNT(*) OVER (PARTITION BY step) AS cnt
        FROM durs),
      base AS (SELECT step, CAST(COUNT(*) AS BIGINT) AS n,
          MIN(dur) AS min_ms, MAX(dur) AS max_ms
        FROM ranked GROUP BY 1),
      med AS (SELECT step, dur AS median_ms FROM ranked
        WHERE rn = (cnt + 1) // 2),
      p90 AS (SELECT step, dur AS p90_ms FROM ranked
        WHERE rn = (9*cnt + 9) // 10)
      SELECT step, n, min_ms, median_ms, p90_ms, max_ms
      FROM base JOIN med USING (step) JOIN p90 USING (step)
      ORDER BY step""")

  /** FORECAST BACKTEST (EventAnalytics.forecastBacktest): naive
    * trailing-24h-mean hourly forecast, absolute-error census per
    * event type (n_cells / Σ|err| / MAE ×100, all integer). The
    * quality readout for the baseline q143 thresholds against. */
  private val q150 = Q(
    "q150_forecast_backtest",
    (s, dir) => EventAnalytics.forecastBacktest(
      Tables.events(s, dir).selectExpr(
        "event_type", "unix_millis(ts) as ms")),
    """WITH t AS (SELECT event_type,
          epoch_ms(ts) // 3600000 AS hr FROM events),
      c AS (SELECT event_type, hr, COUNT(*) AS n FROM t GROUP BY 1, 2),
      w AS (SELECT event_type, hr, n,
          SUM(n) OVER (PARTITION BY event_type ORDER BY hr
            RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING) AS trail_sum,
          COUNT(*) OVER (PARTITION BY event_type ORDER BY hr
            RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING) AS trail_buckets
        FROM c),
      e AS (SELECT event_type, n,
          ABS(n - trail_sum // trail_buckets) AS err
        FROM w WHERE trail_buckets >= 12)
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_cells,
        CAST(SUM(err) AS BIGINT) AS abs_err_sum,
        CAST(SUM(err) * 100 // COUNT(*) AS BIGINT) AS mae_x100
      FROM e GROUP BY 1 ORDER BY event_type""")

  private def dsum286(c: org.apache.spark.sql.Column) =
    sum(c.cast("decimal(28,6)")).cast("double")

  /** SHIPPING-PRIORITY TOP-10 (the TPC-H Q3 shape on the star
    * schema): segment-filtered customers ⋈ date-filtered orders ⋈
    * lineitem, decimal-exact revenue per order, top 10. The join
    * planning exercise: both dimension sides are filtered BEFORE the
    * fact join (AQE broadcasts them), revenue is the dsum discipline,
    * and the top-10 is TakeOrdered — no global sort. */
  private val q151 = Q(
    "q151_shipping_priority",
    (s, dir) => {
      val c = Tables.customer(s, dir)
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val o = Tables.orders(s, dir)
        .filter(col("o_orderdate") < lit("1997-06-01"))
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderdate"), col("o_orderpriority"))
      val l = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") > lit("1997-06-01"))
        .select(col("l_orderkey"), col("l_extendedprice"),
          col("l_discount"))
      c.join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("l_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
          col("o_orderpriority"))
        .agg(dsum286(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    },
    """SELECT l.l_orderkey,
        strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
        o.o_orderpriority,
        CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
          AS DECIMAL(28,6))) AS DOUBLE) AS revenue
      FROM customer c
      JOIN orders o ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      WHERE c.c_mktsegment = 'BUILDING'
        AND o.o_orderdate < TIMESTAMP '1997-06-01'
        AND l.l_shipdate > TIMESTAMP '1997-06-01'
      GROUP BY 1, 2, 3
      ORDER BY revenue DESC, l.l_orderkey ASC LIMIT 10""")

  /** REGIONAL REVENUE (the TPC-H Q5 shape, customer-nation form):
    * region ⋈ nation ⋈ customer ⋈ orders ⋈ lineitem — two broadcast
    * dims, one mid-size dim, two fact-side shuffles; revenue per
    * nation in ASIA over a 2-year window. */
  private val q152 = Q(
    "q152_regional_revenue",
    (s, dir) => {
      val n = broadcast(Tables.nation(s, dir)
        .join(broadcast(Tables.region(s, dir)
          .filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name")))
      val o = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1996-01-01") &&
          col("o_orderdate") < lit("1998-01-01"))
        .select(col("o_orderkey"), col("o_custkey"))
      Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey"))
        .join(n, col("c_nationkey") === col("n_nationkey"))
        .join(o, col("c_custkey") === col("o_custkey"))
        .join(Tables.lineitem(s, dir)
            .select(col("l_orderkey"), col("l_extendedprice"),
              col("l_discount")),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("n_name"))
        .agg(dsum286(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("n_name"))
    },
    """SELECT n.n_name,
        CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
          AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
        CAST(COUNT(*) AS BIGINT) AS n_items
      FROM region r
      JOIN nation n ON n.n_regionkey = r.r_regionkey
      JOIN customer c ON c.c_nationkey = n.n_nationkey
      JOIN orders o ON o.o_custkey = c.c_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      WHERE r.r_name = 'ASIA'
        AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        AND o.o_orderdate < TIMESTAMP '1998-01-01'
      GROUP BY 1 ORDER BY revenue DESC, n_name""")

  /** LARGE-VOLUME ORDERS (the TPC-H Q18 shape): orders whose total
    * quantity exceeds 180 — the agg-then-semi-join pattern (the
    * HAVING set is computed on lineitem alone, then pulls order and
    * customer rows), top 10 by quantity. */
  private val q153 = Q(
    "q153_large_orders",
    (s, dir) => {
      val big = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(dsum286(col("l_quantity")).as("total_qty"))
        .filter(col("total_qty") > 180.0)
      big
        .join(Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_totalprice")),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_name")),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("l_orderkey"), col("total_qty"),
          col("o_totalprice").cast("decimal(18,2)").cast("double")
            .as("totalprice"))
        .orderBy(col("total_qty").desc, col("l_orderkey").asc)
        .limit(10)
    },
    """WITH big AS (
        SELECT l_orderkey,
          CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE)
            AS total_qty
        FROM lineitem GROUP BY 1
        HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE)
          > 180.0)
      SELECT c.c_name, b.l_orderkey, b.total_qty,
        CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
          AS totalprice
      FROM big b
      JOIN orders o ON b.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      ORDER BY b.total_qty DESC, b.l_orderkey ASC LIMIT 10""")

  /** DAILY ACTIVE / NEW / RETURNING USERS: per UTC day, distinct
    * actives split by whether the day is the user's first — the
    * standard growth census. Two hash-aggs ((user, day) distinct,
    * then first-day per user) and a day-keyed rollup; |days| rows. */
  private val q154 = Q(
    "q154_daily_actives",
    (s, dir) => {
      val ud = Tables.events(s, dir)
        .selectExpr("user_id", "unix_millis(ts) div 86400000 as day")
        .distinct()
      val fd = ud.groupBy(col("user_id")).agg(min(col("day")).as("fday"))
      ud.join(fd, Seq("user_id"))
        .groupBy(col("day"))
        .agg(count(lit(1)).as("dau"),
          sum(when(col("day") === col("fday"), 1L).otherwise(0L))
            .as("new_users"))
        .withColumn("returning", col("dau") - col("new_users"))
        .orderBy(col("day"))
    },
    """WITH ud AS (SELECT DISTINCT user_id,
          epoch_ms(ts) // 86400000 AS day FROM events),
      fd AS (SELECT user_id, MIN(day) AS fday FROM ud GROUP BY 1)
      SELECT day, CAST(COUNT(*) AS BIGINT) AS dau,
        CAST(SUM(CASE WHEN day = fday THEN 1 ELSE 0 END) AS BIGINT)
          AS new_users,
        CAST(COUNT(*) - SUM(CASE WHEN day = fday THEN 1 ELSE 0 END)
          AS BIGINT) AS returning
      FROM ud JOIN fd USING (user_id)
      GROUP BY 1 ORDER BY day""")

  /** POWER-USER HISTOGRAM: users bucketed by the BIT LENGTH of their
    * event count (= ⌊log₂ n⌋+1 without a transcendental — `bin()`
    * string length is integer-exact in both engines), with user and
    * event totals per bucket. The engagement-distribution readout;
    * ≤64 rows at any scale. */
  private val q155 = Q(
    "q155_power_users",
    (s, dir) => Tables.events(s, dir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      .groupBy(length(bin(col("n"))).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_users"), sum(col("n")).as("n_events"))
      .orderBy(col("bucket")),
    """WITH u AS (SELECT user_id, COUNT(*) AS n FROM events
        GROUP BY 1)
      SELECT CAST(LENGTH(BIN(n)) AS BIGINT) AS bucket,
        CAST(COUNT(*) AS BIGINT) AS n_users,
        CAST(SUM(n) AS BIGINT) AS n_events
      FROM u GROUP BY 1 ORDER BY bucket""")

  /** HOUR-OF-DAY SEASONALITY: event share per (event_type, UTC
    * hour-of-day) as integer ppm of the type's total — the diurnal
    * -pattern census q143's trailing baseline deliberately ignores.
    * 24·|types| rows. */
  private val q156 = Q(
    "q156_hourly_seasonality",
    (s, dir) => Tables.events(s, dir)
      .selectExpr("event_type", "(unix_millis(ts) div 3600000) % 24 as hod")
      .groupBy(col("event_type"), col("hod"))
      .agg(count(lit(1)).as("n"))
      .withColumn("share_ppm",
        expr("n * 1000000 div sum(n) over (partition by event_type)"))
      .orderBy(col("event_type"), col("hod")),
    """WITH c AS (SELECT event_type,
          (epoch_ms(ts) // 3600000) % 24 AS hod, COUNT(*) AS n
        FROM events GROUP BY 1, 2)
      SELECT event_type, hod, CAST(n AS BIGINT) AS n,
        CAST(n * 1000000 // SUM(n) OVER (PARTITION BY event_type)
          AS BIGINT) AS share_ppm
      FROM c ORDER BY event_type, hod""")

  /** The two-proportion z-statistic combiner, shared VERBATIM between
    * the Spark expr and the oracle SQL (the CorrExpr discipline):
    * expects BIGINT columns ua/ca/ub/cb; `/` on integers is true
    * division in both engines, SQRT is correctly-rounded IEEE. */
  private val ZExpr: String =
    "CASE WHEN ca + cb = 0 OR ca + cb = ua + ub THEN 0 " +
      "ELSE CAST(FLOOR(((cb/ub - ca/ua) / SQRT((ca+cb)/(ua+ub) " +
      "* (1 - (ca+cb)/(ua+ub)) * (1e0/ua + 1e0/ub))) * 1000000e0) " +
      "AS BIGINT) END"

  /** A/B-TEST LIFT ANALYSIS: users deterministically armed by md5
    * nibble parity (the q41 split machinery), conversion = any
    * HIGH-VALUE purchase (value > 180 — plain purchases convert every
    * user at every SF, which degenerates the variance), lift in exact
    * integer ppm, and the two-proportion z-statistic ×10⁶ via the
    * shared-verbatim IEEE combiner (zero-variance guarded on both
    * sides). One user-grain agg then a 2-row census. */
  private val q159 = Q(
    "q159_ab_lift",
    (s, dir) => {
      val arm = when(
        substring(md5(concat(lit("ab:"), col("user_id").cast("string"))),
          1, 1).isin("0", "1", "2", "3", "4", "5", "6", "7"), "A")
        .otherwise("B")
      val users = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("value"))
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase" &&
          col("value") > 180.0, 1L).otherwise(0L)).as("converted"))
        .select(arm.as("arm"), col("converted"))
      val byArm = users.groupBy(col("arm"))
        .agg(count(lit(1)).as("n_users"), sum(col("converted")).as("n_conv"))
      val a = byArm.filter(col("arm") === "A")
        .select(col("n_users").as("ua"), col("n_conv").as("ca"))
      val b = byArm.filter(col("arm") === "B")
        .select(col("n_users").as("ub"), col("n_conv").as("cb"))
      a.crossJoin(broadcast(b))
        .select(col("ua"), col("ca"), col("ub"), col("cb"),
          (expr("cb * 1000000 div ub") - expr("ca * 1000000 div ua"))
            .as("lift_ppm"),
          expr(ZExpr).as("z_x1e6"))
    },
    s"""WITH u AS (SELECT user_id,
          CASE WHEN substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 1)
            IN ('0','1','2','3','4','5','6','7') THEN 'A' ELSE 'B' END
            AS arm,
          MAX(CASE WHEN event_type = 'purchase' AND value > 180
            THEN 1 ELSE 0 END) AS converted
        FROM events GROUP BY 1, 2),
      s2 AS (SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_users,
          CAST(SUM(converted) AS BIGINT) AS n_conv
        FROM u GROUP BY 1),
      a AS (SELECT n_users AS ua, n_conv AS ca FROM s2 WHERE arm = 'A'),
      b AS (SELECT n_users AS ub, n_conv AS cb FROM s2 WHERE arm = 'B')
      SELECT ua, ca, ub, cb,
        CAST(cb * 1000000 // ub - ca * 1000000 // ua AS BIGINT)
          AS lift_ppm,
        $ZExpr AS z_x1e6
      FROM a CROSS JOIN b""")

  /** QUALITY-vs-DUPLICATION CALIBRATION: the q23 quality score
    * bucketed (⌊q·10⌋) against the exact-dup verdict — does the
    * quality signal actually separate duplicated boilerplate? The
    * cross-layer diagnostic a curation pipeline runs before trusting
    * either filter. One doc-grain pass + an 11-row census. */
  private val q160 = Q(
    "q160_quality_dup_calibration",
    (s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"),
        md5(col("text")).as("h"),
        floor(TextAnalysis.qualityScore(col("text")) * 10).cast("long")
          .as("bucket"))
      val dups = d.groupBy(col("h")).agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 2).select(col("h"), lit(1L).as("is_dup"))
      d.join(dups, Seq("h"), "left")
        .na.fill(0L, Seq("is_dup"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"), sum(col("is_dup")).as("n_dup"))
        .withColumn("dup_ppm", expr("n_dup * 1000000 div n_docs"))
        .orderBy(col("bucket"))
    },
    s"""WITH scored AS (
        SELECT doc_id, md5(text) AS h,
          CAST(FLOOR(${OracleSql.qualityScore} * 10) AS BIGINT) AS bucket
        FROM documents),
      dups AS (SELECT h FROM scored GROUP BY h HAVING COUNT(*) >= 2)
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(CASE WHEN dups.h IS NOT NULL THEN 1 ELSE 0 END)
          AS BIGINT) AS n_dup,
        CAST(SUM(CASE WHEN dups.h IS NOT NULL THEN 1 ELSE 0 END)
          * 1000000 // COUNT(*) AS BIGINT) AS dup_ppm
      FROM scored LEFT JOIN dups ON scored.h = dups.h
      GROUP BY 1 ORDER BY bucket""")

  /** DECONTAMINATION CROSSTAB: the union report a real
    * decontamination pass ships — every train doc flagged by BOTH
    * screens (exact md5 hit against the held-out set, ≥1 shared word
    * 8-gram via Curation.contaminatedDocs), censused by flag
    * combination. Shows what n-gram screening catches that exact
    * hashing misses (the GPT-3-appendix lesson). Held-out set =
    * doc_id % 101 == 0 (the q118 target convention); contamination is
    * INJECTED q56-style so every cell populates at every SF — every
    * 13th doc becomes one canonical verbatim passage (doc 0 puts it
    * in the held-out set ⇒ exact+ngram hits), every 11th appends a
    * benchmark phrase (ngram-only hits). */
  private val q161 = Q(
    "q161_decontamination_report",
    (s, dir) => {
      val txt = when(col("doc_id") % 13 === 0,
        lit("the exact duplicated benchmark passage appears verbatim " +
          "in this corpus"))
        .when(col("doc_id") % 11 === 0,
          concat_ws(" ", col("text"),
            lit("what is the capital of france")))
        .otherwise(col("text"))
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), txt.as("text"))
      val test = docs.filter(col("doc_id") % 101 === 0)
      val train = docs.filter(col("doc_id") % 101 =!= 0)
      val exactHit = train
        .join(test.select(md5(col("text")).as("h")).distinct(),
          md5(col("text")) === col("h"), "left_semi")
        .select(col("doc_id"), lit(1L).as("exact_hit"))
      val ngramHit = graft.operators.Curation
        .contaminatedDocs(train, test, "doc_id", "text", n = 8)
        .select(col("doc_id"), lit(1L).as("ngram_hit"))
      train.select(col("doc_id"))
        .join(exactHit, Seq("doc_id"), "left")
        .join(ngramHit, Seq("doc_id"), "left")
        .na.fill(0L, Seq("exact_hit", "ngram_hit"))
        .groupBy(col("exact_hit"), col("ngram_hit"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("exact_hit"), col("ngram_hit"))
    },
    """WITH d AS (SELECT doc_id,
        CASE WHEN doc_id % 13 = 0
             THEN 'the exact duplicated benchmark passage appears verbatim in this corpus'
             WHEN doc_id % 11 = 0
             THEN text || ' what is the capital of france'
             ELSE text END AS text
        FROM documents),
      test AS (SELECT * FROM d WHERE doc_id % 101 = 0),
      train AS (SELECT * FROM d WHERE doc_id % 101 <> 0),
      th AS (SELECT DISTINCT md5(text) AS h FROM test),
      eh AS (SELECT DISTINCT t.doc_id FROM train t
        JOIN th ON md5(t.text) = th.h),
      tg AS (SELECT DISTINCT g FROM (
        SELECT UNNEST(list_transform(range(1, len(ts)-6),
          i -> array_to_string(
            list_slice(ts, CAST(i AS INT), CAST(i AS INT)+7), ' '))) AS g
        FROM (SELECT string_split(text,' ') AS ts FROM test)
        WHERE len(ts) >= 8)),
      ng AS (SELECT DISTINCT doc_id FROM (
        SELECT doc_id, UNNEST(list_transform(range(1, len(ts)-6),
          i -> array_to_string(
            list_slice(ts, CAST(i AS INT), CAST(i AS INT)+7), ' '))) AS g
        FROM (SELECT doc_id, string_split(text,' ') AS ts FROM train)
        WHERE len(ts) >= 8) x JOIN tg USING (g)),
      f AS (SELECT t.doc_id,
          CASE WHEN eh.doc_id IS NOT NULL THEN 1 ELSE 0 END AS exact_hit,
          CASE WHEN ng.doc_id IS NOT NULL THEN 1 ELSE 0 END AS ngram_hit
        FROM train t
        LEFT JOIN eh ON t.doc_id = eh.doc_id
        LEFT JOIN ng ON t.doc_id = ng.doc_id)
      SELECT CAST(exact_hit AS BIGINT) AS exact_hit,
        CAST(ngram_hit AS BIGINT) AS ngram_hit,
        CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM f GROUP BY 1, 2 ORDER BY exact_hit, ngram_hit""")

  /** K-ANONYMITY AUDIT (privacy companion to q43 redaction / q49
    * anonymization): customers grouped by the quasi-identifier pair
    * (nation, market segment); a group smaller than k=5 re-identifies
    * its members. One-row census: group count, risky groups, exposed
    * rows, extremes — the release-gate readout before publishing a
    * "de-identified" table. One hash-agg + a 1-row rollup. */
  private val q162 = Q(
    "q162_k_anonymity",
    (s, dir) => Tables.customer(s, dir)
      .groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(count(lit(1)).as("sz"))
      .agg(count(lit(1)).as("n_groups"),
        sum(when(col("sz") < 5, 1L).otherwise(0L)).as("n_risky_groups"),
        sum(when(col("sz") < 5, col("sz")).otherwise(0L))
          .as("n_exposed_rows"),
        min(col("sz")).as("min_group"), max(col("sz")).as("max_group")),
    """WITH g AS (SELECT c_nationkey, c_mktsegment, COUNT(*) AS sz
        FROM customer GROUP BY 1, 2)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
        CAST(SUM(CASE WHEN sz < 5 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_risky_groups,
        CAST(SUM(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT)
          AS n_exposed_rows,
        CAST(MIN(sz) AS BIGINT) AS min_group,
        CAST(MAX(sz) AS BIGINT) AS max_group
      FROM g""")

  /** LABEL-PROPAGATION COMMUNITIES over the shared-gram similarity
    * graph (Graphs.labelPropagation, 2 synchronous rounds,
    * most-frequent-neighbor label with lowest-label ties): the
    * community detector connected components is NOT — CC merges
    * everything reachable, while frequency-argmax propagation keeps
    * densely-connected template families distinct across weak chance
    * -collision bridges. Readout: (label, community size) census,
    * bounded by the rare-gram graph's node count at any corpus size;
    * the oracle unrolls the two rounds as chained CTEs. */
  private val q168 = Q(
    "q168_lpa_communities",
    (s, dir) => graft.operators.Graphs.labelPropagation(
        SharedGrams.gramEdges(s, dir), rounds = 2)
      .groupBy(col("label")).agg(count(lit(1)).as("sz"))
      .orderBy(col("label")),
    s"""$GramEdgesSql,
      adj AS (SELECT x AS v, y AS u FROM pairs
        UNION ALL SELECT y AS v, x AS u FROM pairs),
      l0 AS (SELECT DISTINCT v, v AS label FROM adj),
      c1 AS (SELECT a.v, l.label, COUNT(*) AS c
        FROM adj a JOIN l0 l ON l.v = a.u GROUP BY 1, 2),
      l1 AS (SELECT v, label FROM (
          SELECT v, label, ROW_NUMBER() OVER (
            PARTITION BY v ORDER BY c DESC, label) AS rk FROM c1)
        WHERE rk = 1),
      c2 AS (SELECT a.v, l.label, COUNT(*) AS c
        FROM adj a JOIN l1 l ON l.v = a.u GROUP BY 1, 2),
      l2 AS (SELECT v, label FROM (
          SELECT v, label, ROW_NUMBER() OVER (
            PARTITION BY v ORDER BY c DESC, label) AS rk FROM c2)
        WHERE rk = 1)
      SELECT label, CAST(COUNT(*) AS BIGINT) AS sz
      FROM l2 GROUP BY 1 ORDER BY label""")

  /** GRAPH MODULARITY of the q168 label-propagation communities over
    * the shared-gram similarity graph — the standard partition-quality
    * score (Newman 2006), Q = Σ_c [e_c/m − (d_c/2m)²], as an exact
    * ppm BIGINT: Q_ppm = (4m·Σe_c − Σd_c²)·10⁶ div 4m², computed with
    * the positive-operand CASE around the division because Q can be
    * negative and Spark `div` truncates toward zero while DuckDB `//`
    * floors. One-row release readout next to the community census —
    * the number that says whether the LPA labels actually capture
    * structure (Q near 0 ⇒ no better than random) before anyone
    * trusts them for dedup family grouping. Magnitudes: the ratio
    * chain is DECIMAL(38,0) (HUGEINT in the oracle — the q210
    * discipline), so the ×10⁶ numerator 4m²·10⁶ has headroom to
    * m ≈ 10¹⁶ edges; only the BIGINT output columns themselves bound
    * the readout (loud ANSI cast failure in BOTH engines past that,
    * never silent wraparound). */
  private val q186 = Q(
    "q186_graph_modularity",
    (s, dir) => {
      val edges = SharedGrams.gramEdges(s, dir)
      val labels = graft.operators.Graphs.labelPropagation(edges, 2)
      val le = edges
        .join(labels.select(col("v").as("x"), col("label").as("lx")), "x")
        .join(labels.select(col("v").as("y"), col("label").as("ly")), "y")
      val mrow = edges.agg(count(lit(1)).as("m"))
      val intra = le.filter(col("lx") === col("ly"))
        .agg(count(lit(1)).as("intra"))
      val degsq = graft.operators.Graphs.degrees(edges)
        .join(labels, "v")
        .groupBy(col("label")).agg(sum(col("degree")).as("dsum"))
        .agg(sum(col("dsum") * col("dsum")).as("sumdsq"),
          count(lit(1)).as("n_comm"))
      mrow.crossJoin(intra).crossJoin(degsq)
        .select(col("m").as("n_edges"),
          col("n_comm").as("n_communities"),
          col("intra").as("intra_edges"),
          col("sumdsq").as("sum_deg_sq"),
          expr("""CASE WHEN (4*CAST(m AS DECIMAL(38,0))*intra - sumdsq) < 0
            THEN -((-(4*CAST(m AS DECIMAL(38,0))*intra - sumdsq))
              * 1000000 div (4*CAST(m AS DECIMAL(38,0))*m))
            ELSE (4*CAST(m AS DECIMAL(38,0))*intra - sumdsq)
              * 1000000 div (4*CAST(m AS DECIMAL(38,0))*m) END""")
            .as("modularity_ppm"))
    },
    s"""$GramEdgesSql,
      adj AS (SELECT x AS v, y AS u FROM pairs
        UNION ALL SELECT y AS v, x AS u FROM pairs),
      l0 AS (SELECT DISTINCT v, v AS label FROM adj),
      c1 AS (SELECT a.v, l.label, COUNT(*) AS c
        FROM adj a JOIN l0 l ON l.v = a.u GROUP BY 1, 2),
      l1 AS (SELECT v, label FROM (
          SELECT v, label, ROW_NUMBER() OVER (
            PARTITION BY v ORDER BY c DESC, label) AS rk FROM c1)
        WHERE rk = 1),
      c2 AS (SELECT a.v, l.label, COUNT(*) AS c
        FROM adj a JOIN l1 l ON l.v = a.u GROUP BY 1, 2),
      l2 AS (SELECT v, label FROM (
          SELECT v, label, ROW_NUMBER() OVER (
            PARTITION BY v ORDER BY c DESC, label) AS rk FROM c2)
        WHERE rk = 1),
      st AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM pairs),
      ie AS (SELECT CAST(COUNT(*) AS BIGINT) AS intra FROM pairs p
        JOIN l2 a ON a.v = p.x JOIN l2 b ON b.v = p.y
          AND b.label = a.label),
      dc AS (SELECT l2.label, CAST(SUM(deg.d) AS BIGINT) AS dsum
        FROM l2 JOIN deg ON deg.v = l2.v GROUP BY 1),
      ds AS (SELECT CAST(SUM(dsum*dsum) AS BIGINT) AS sumdsq,
          CAST(COUNT(*) AS BIGINT) AS n_comm FROM dc)
      SELECT st.m AS n_edges, ds.n_comm AS n_communities,
        ie.intra AS intra_edges, ds.sumdsq AS sum_deg_sq,
        CAST(CASE WHEN (4*CAST(st.m AS HUGEINT)*ie.intra - ds.sumdsq) < 0
          THEN -((-(4*CAST(st.m AS HUGEINT)*ie.intra - ds.sumdsq))
            * 1000000 // (4*CAST(st.m AS HUGEINT)*st.m))
          ELSE (4*CAST(st.m AS HUGEINT)*ie.intra - ds.sumdsq) * 1000000
            // (4*CAST(st.m AS HUGEINT)*st.m) END AS BIGINT)
          AS modularity_ppm
      FROM st CROSS JOIN ie CROSS JOIN ds""")

  /** L-DIVERSITY AUDIT (the step after q162's k-anonymity: group SIZE
    * alone doesn't protect when everyone in a group shares the same
    * sensitive value): per quasi-identifier group (nation, market
    * segment), the number of DISTINCT sensitive values — here the
    * account-balance band — must reach l = 3. Bands are all-integer:
    * exact cents (decimal-cast), +100000 offset so the band division
    * never sees a negative (Spark `div` truncates toward zero while
    * DuckDB `//` floors — they agree only on non-negatives). One-row
    * release-gate census. */
  private val q169 = Q(
    "q169_l_diversity",
    (s, dir) => Tables.customer(s, dir)
      .select(col("c_nationkey"), col("c_mktsegment"),
        expr("""(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
          + 100000) div 200000""").as("band"))
      .groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(count(lit(1)).as("sz"),
        countDistinct(col("band")).as("l"))
      .agg(count(lit(1)).as("n_groups"),
        sum(when(col("l") < 3, 1L).otherwise(0L)).as("n_low_div_groups"),
        sum(when(col("l") < 3, col("sz")).otherwise(0L))
          .as("n_exposed_rows"),
        min(col("l")).as("min_l"), max(col("l")).as("max_l")),
    """WITH b AS (SELECT c_nationkey, c_mktsegment,
        (CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
          + 100000) // 200000 AS band
        FROM customer),
      g AS (SELECT c_nationkey, c_mktsegment, COUNT(*) AS sz,
          COUNT(DISTINCT band) AS l
        FROM b GROUP BY 1, 2)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
        CAST(SUM(CASE WHEN l < 3 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_low_div_groups,
        CAST(SUM(CASE WHEN l < 3 THEN sz ELSE 0 END) AS BIGINT)
          AS n_exposed_rows,
        CAST(MIN(l) AS BIGINT) AS min_l,
        CAST(MAX(l) AS BIGINT) AS max_l
      FROM g""")

  /** RESHARD MOVEMENT CENSUS — modulo vs rendezvous (highest-random-
    * weight) shard assignment when the shard count grows 8 → 9: under
    * `hash mod N` almost every document moves (~8/9), under rendezvous
    * (owner = argmax over shards of md5(shard:doc)) only the documents
    * whose new shard wins move (~1/9) — THE reason a 100 TB pipeline
    * assigns storage shards by rendezvous/consistent hashing, as a
    * measured 2-row census rather than folklore. Everything is per-row
    * md5 arithmetic fused into the scan; the only agg is the 1-row
    * total, read twice for the 2-row readout (bounded frame). */
  private val q170 = Q(
    "q170_reshard_movement",
    (s, dir) => {
      val id = col("doc_id").cast("string")
      val h = conv(substring(md5(concat(lit("shard:"), id)), 1, 8),
        16, 10).cast("long")
      def rv(n: Int) = array((0 until n).map(i =>
        md5(concat(lit(s"rv$i:"), id))): _*)
      val a8 = rv(8)
      val a9 = rv(9)
      val agg = Tables.documents(s, dir)
        .select(
          (pmod(h, lit(8)) =!= pmod(h, lit(9))).cast("long")
            .as("mod_moved"),
          (array_position(a8, array_max(a8)) =!=
            array_position(a9, array_max(a9))).cast("long")
            .as("rdv_moved"))
        .agg(count(lit(1)).as("n"), sum(col("mod_moved")).as("mm"),
          sum(col("rdv_moved")).as("rm"))
        .localCheckpoint() // 1-row frame read twice below
      agg.select(lit("modulo").as("scheme"), col("n").as("n_docs"),
          col("mm").as("n_moved"),
          expr("mm * 1000000 div n").as("moved_ppm"))
        .union(agg.select(lit("rendezvous"), col("n"), col("rm"),
          expr("rm * 1000000 div n")))
        .orderBy(col("scheme"))
    },
    {
      val l8 = (0 until 8)
        .map(i => s"md5('rv$i:' || CAST(doc_id AS VARCHAR))")
        .mkString("[", ", ", "]")
      val l9 = (0 until 9)
        .map(i => s"md5('rv$i:' || CAST(doc_id AS VARCHAR))")
        .mkString("[", ", ", "]")
      s"""WITH h AS (SELECT
          CAST(('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 8))
            AS BIGINT) AS hv,
          $l8 AS a8,
          $l9 AS a9
        FROM documents),
      m AS (SELECT
          CASE WHEN hv % 8 <> hv % 9 THEN 1 ELSE 0 END AS mod_moved,
          CASE WHEN list_position(a8, list_aggregate(a8, 'max'))
                 <> list_position(a9, list_aggregate(a9, 'max'))
               THEN 1 ELSE 0 END AS rdv_moved
        FROM h),
      t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(mod_moved) AS BIGINT) AS mm,
          CAST(SUM(rdv_moved) AS BIGINT) AS rm FROM m)
      SELECT 'modulo' AS scheme, n AS n_docs, mm AS n_moved,
        mm * 1000000 // n AS moved_ppm FROM t
      UNION ALL SELECT 'rendezvous', n, rm, rm * 1000000 // n FROM t
      ORDER BY scheme"""
    })

  /** DEGREE ASSORTATIVITY of the shared-gram similarity graph
    * (Newman, "Assortative mixing in networks", PRL 2002): the Pearson
    * correlation of endpoint degrees over all edges, the one-number
    * readout that distinguishes a dedup graph dominated by hub
    * templates (disassortative, r < 0 — one boilerplate doc linked to
    * many singletons) from one made of dense near-clique families
    * (assortative, r > 0 — the CC-merge-friendly shape). Computed
    * from EXACT integer moments over the symmetrized edge sample
    * (both orientations): with E edges, Σdxdy, Σ(dx+dy), Σ(dx²+dy²),
    * r = (4E·Σdxdy − S²) / (2E·Σd² − S²), emitted as exact numerator
    * / denominator plus r in milli-units via the positive-operand
    * CASE division (q186's convention — r can be negative, Spark div
    * truncates, DuckDB // floors). Magnitudes: the moment products
    * are DECIMAL(38,0) (HUGEINT in the oracle — the q210 discipline),
    * so 4E·Σdxdy has headroom far past any df-capped graph; the
    * BIGINT num/den OUTPUT casts bound the readout (loud ANSI cast
    * failure in BOTH engines past ~10¹⁸, never silent wraparound).
    *
    * Scale shape: degrees is one hash agg over the bounded edge list;
    * the two degree joins are int-keyed broadcasts of a node-sized
    * frame against the edge list; the census is ONE row. */
  private val q209 = Q(
    "q209_degree_assortativity",
    (s, dir) => {
      val e = SharedGrams.gramEdges(s, dir)
      val d = graft.operators.Graphs.degrees(e)
      val ed = e
        .join(d.select(col("v").as("x"), col("degree").as("dx")), "x")
        .join(d.select(col("v").as("y"), col("degree").as("dy")), "y")
      ed.agg(count(lit(1)).as("n_edges"),
          sum(col("dx") * col("dy")).as("sxy"),
          sum(col("dx") + col("dy")).as("sx"),
          sum(col("dx") * col("dx") + col("dy") * col("dy")).as("sxx"))
        .select(col("n_edges"),
          expr("4 * CAST(n_edges AS DECIMAL(38,0)) * sxy" +
            " - CAST(sx AS DECIMAL(38,0)) * sx").as("numw"),
          expr("2 * CAST(n_edges AS DECIMAL(38,0)) * sxx" +
            " - CAST(sx AS DECIMAL(38,0)) * sx").as("denw"))
        .select(col("n_edges"),
          col("numw").cast("long").as("num"),
          col("denw").cast("long").as("den"),
          expr("""CAST(CASE WHEN denw = 0 THEN 0
            WHEN numw < 0 THEN -((-numw) * 1000 div denw)
            ELSE numw * 1000 div denw END AS BIGINT)""").as("r_milli"))
    },
    s"""$GramEdgesSql,
      ed AS (SELECT dx.d AS dx, dy.d AS dy FROM pairs p
        JOIN deg dx ON dx.v = p.x JOIN deg dy ON dy.v = p.y),
      mo AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
          CAST(SUM(dx * dy) AS BIGINT) AS sxy,
          CAST(SUM(dx + dy) AS BIGINT) AS sx,
          CAST(SUM(dx * dx + dy * dy) AS BIGINT) AS sxx
        FROM ed),
      nd AS (SELECT n_edges,
          4 * CAST(n_edges AS HUGEINT) * sxy
            - CAST(sx AS HUGEINT) * sx AS numw,
          2 * CAST(n_edges AS HUGEINT) * sxx
            - CAST(sx AS HUGEINT) * sx AS denw
        FROM mo)
      SELECT n_edges, CAST(numw AS BIGINT) AS num,
        CAST(denw AS BIGINT) AS den,
        CAST(CASE WHEN denw = 0 THEN 0
          WHEN numw < 0 THEN -((-numw) * 1000 // denw)
          ELSE numw * 1000 // denw END AS BIGINT) AS r_milli
      FROM nd""")

  val list: Seq[Q] = Seq(q138, q139, q140, q141, q142, q143, q144,
    q145, q146, q147, q150, q151, q152, q153, q154, q155, q156,
    q159, q160, q161, q162, q163, q168, q169, q170, q186, q209)
}
