package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Skew
import graft.Queries.Q

/** Third query batch: window functions, sessionization, subqueries,
  * semi-structured extraction, skew-salted aggregation, sketches.
  * Determinism rules as in Queries.scala.
  */
object QueriesMore {

  /** Window-function suite over the event stream: lag, rank, running
    * decimal sum — one shuffle on user_id, all three functions share the
    * same Window partition (single Window physical node). */
  private val q29 = Q(
    "q29_window_suite",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val wDesc = Window.partitionBy(col("user_id"))
        .orderBy(col("value").desc, col("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("value"),
          lag(col("value"), 1).over(w).as("prev_value"),
          rank().over(wDesc).as("rnk"),
          sum(col("value").cast("decimal(18,2)"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double").as("running"))
        .withColumn("rnk", col("rnk").cast("long"))
        .orderBy(col("user_id"), col("event_id"))
    },
    """SELECT user_id, event_id, value,
      LAG(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value,
      CAST(RANK() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS BIGINT) AS rnk,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running
      FROM events ORDER BY user_id, event_id""")

  /** Gap-based sessionization (30-min inactivity): lag → new-session flag
    * → running sum = session id → per-session stats. The batch shape of
    * the streaming session-window operator — ONE kernel
    * (EventAnalytics.sessionized) shared with the path/transition
    * censuses (q140/q141). */
  private val q30 = Q(
    "q30_sessionize",
    (s, dir) =>
      graft.operators.EventAnalytics.sessionized(
        Tables.events(s, dir)
          .select(col("user_id"), col("event_id"),
            unix_millis(col("ts")).as("ms")),
        gapMs = 1800000L)
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          (max(col("ms")) - min(col("ms"))).as("dur_ms"))
        .orderBy(col("user_id"), col("session_id")),
    """WITH t AS (
        SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events),
      f AS (
        SELECT user_id, event_id, ms,
          CASE WHEN ms - LAG(ms, 1) OVER (PARTITION BY user_id ORDER BY ms, event_id) > 1800000
               THEN 1
               WHEN LAG(ms, 1) OVER (PARTITION BY user_id ORDER BY ms, event_id) IS NULL
               THEN 1 ELSE 0 END AS new_s
        FROM t),
      sess AS (
        SELECT user_id, ms,
          CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ms, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        FROM f)
      SELECT user_id, session_id, COUNT(*) AS n_events,
             MAX(ms) - MIN(ms) AS dur_ms
      FROM sess GROUP BY 1, 2 ORDER BY user_id, session_id""")

  /** Exact distinct aggregation (expand-based in Spark: one extra shuffle
    * for the distinct set — the exact-answer counterpart of q35's HLL). */
  private val q31 = Q(
    "q31_distinct_exact",
    (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("users"),
          count(lit(1)).as("n"))
        .orderBy(col("event_type")),
    """SELECT event_type, COUNT(DISTINCT user_id) AS users, COUNT(*) AS n
      FROM events GROUP BY 1 ORDER BY 1""")

  /** Scalar subquery: orders above the (decimal-exact) global average —
    * in Spark a broadcast cross join of a 1-row aggregate, no collect. */
  private val q32 = Q(
    "q32_scalar_subquery",
    (s, dir) => {
      val o = Tables.orders(s, dir)
      val avgP = o.agg(
        (sum(col("o_totalprice").cast("decimal(18,2)")).cast("double") /
          count(lit(1))).as("avg_price"))
      o.crossJoin(broadcast(avgP))
        .filter(col("o_totalprice") > col("avg_price"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus"))
    },
    """SELECT o_orderstatus, COUNT(*) AS n FROM orders
      WHERE o_totalprice > (
        SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
        FROM orders)
      GROUP BY 1 ORDER BY 1""")

  /** Semi-structured field extraction from the JSON-ish props column
    * (regex-based so the oracle needs no JSON extension; Spark users
    * would reach for from_json/get_json_object — same plan shape). */
  private val q33 = Q(
    "q33_props_extract",
    (s, dir) =>
      Tables.events(s, dir)
        .select(regexp_extract(col("props"), "\"k\": ([0-9]+)", 1)
          .cast("long").as("k"))
        .filter(col("k").isNotNull)
        .groupBy((col("k") % 10).as("k_bucket"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
        .orderBy(col("k_bucket")),
    """SELECT CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) % 10 AS k_bucket,
      COUNT(*) AS n,
      CAST(SUM(CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)) AS BIGINT) AS sum_k
      FROM events
      WHERE regexp_extract(props, '"k": ([0-9]+)', 1) <> ''
      GROUP BY 1 ORDER BY 1""")

  /** Embedding-cosine near-dup candidates: sign-LSH bucket equi-join
    * (the scale path — no cross join anywhere), cheap double-kernel
    * prefilter, exact decimal confirm on survivors (see
    * Similarity.cosineNearDupPairs). Pairs only; raw cosines are
    * engine-1-ulp-divergent (see q20 note). Bits pinned at 8 so the
    * SQL twin can spell the buckets; production derives bits from the
    * corpus size via Similarity.bucketBitsFor. */
  private val q34 = Q(
    "q34_cosine_neardup",
    (s, dir) =>
      graft.operators.Similarity
        .cosineNearDupPairs(Tables.embeddings(s, dir), bits = 8,
          threshold = 0.3)
        .orderBy(col("va"), col("vb")),
    s"""WITH ${OracleSql.cosineNearPairs}
      SELECT doc_a AS va, doc_b AS vb FROM pairs
      ORDER BY va, vb""")

  /** Per-type summary — users NDV + median of value: exact
    * COUNT(DISTINCT) plus the q39 discrete lower-median kernel (rank
    * filter — no interpolation-formula divergence between engines). */
  private[graft] def sketchSummary(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_type"), col("user_id"), col("value"),
        col("event_id"))
    val ndv = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("users"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value"), col("event_id"))
    val med = ev
      .withColumn("rn", row_number().over(w))
      .withColumn("cnt", count(lit(1)).over(
        Window.partitionBy(col("event_type"))))
      .filter(col("rn") === floor((col("cnt") + 1) / 2).cast("int"))
      .select(col("event_type"), col("value").as("median_lo"))
    ndv.join(med, "event_type").orderBy(col("event_type"))
  }

  private val q35 = Q(
    "q35_sketch_exact_twin",
    (s, dir) => sketchSummary(s, dir),
    """WITH med AS (
        SELECT event_type, value AS median_lo FROM (
          SELECT event_type, value,
            ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
            COUNT(*) OVER (PARTITION BY event_type) AS cnt
          FROM events) t
        WHERE rn = CAST(FLOOR((cnt + 1) / 2) AS INT)),
      ndv AS (
        SELECT event_type, COUNT(DISTINCT user_id) AS users
        FROM events GROUP BY 1)
      SELECT ndv.event_type, users, median_lo
      FROM ndv JOIN med USING (event_type)
      ORDER BY event_type""")

  /** Salted two-stage aggregation — identical results to a plain groupBy
    * (which is exactly what the oracle runs); only the shuffle layout
    * differs. See operators/Skew.scala. */
  private val q36 = Q(
    "q36_salted_agg",
    (s, dir) =>
      Skew.saltedCountSum(Tables.events(s, dir), "event_type", "value",
          saltBy = "event_id", salts = 16)
        .orderBy(col("event_type")),
    """SELECT event_type, COUNT(*) AS n,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1 ORDER BY 1""")

  /** As-of join: each event picks up the latest order of the same
    * customer at-or-before the event time (point-in-time feature lookup).
    * Orders are deduped per (custkey, day) first — as-of right sides
    * must be unique per (key, time). DuckDB has native ASOF JOIN; Spark
    * side is the union+window composition (operators/AsOfJoin).
    * Times compare at ms precision (order dates are midnight-exact, so
    * ms truncation of the ns event time cannot flip a comparison). */
  private val q37 = Q(
    "q37_asof_join",
    (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"),
          unix_millis(col("ts")).as("t_ms"))
      val o = Tables.orders(s, dir)
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max(col("o_orderkey")).as("o_orderkey"))
        .select(col("o_custkey").as("user_id"),
          unix_millis(col("o_orderdate").cast("timestamp")).as("o_ms"),
          col("o_orderkey"))
      graft.operators.AsOfJoin
        .join(ev, o, "user_id", "t_ms", "o_ms", Seq("o_orderkey"))
        .select(col("event_id"), col("user_id"), col("o_orderkey"))
        .orderBy(col("event_id"))
    },
    """WITH o AS (
        SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS o_orderkey
        FROM orders GROUP BY 1, 2)
      SELECT event_id, user_id, o.o_orderkey AS o_orderkey
      FROM events ASOF LEFT JOIN o
        ON events.user_id = o.o_custkey AND events.ts >= o.o_orderdate
      ORDER BY event_id""")

  /** URL canonicalization — the web-corpus dedup-key normalizer: strip
    * tracking params, lowercase host, drop trailing slash, then count
    * per canonical key (URLs synthesized from driver data). */
  private val q38 = Q(
    "q38_url_normalize",
    (s, dir) => {
      val url = concat(lit("https://WWW."), upper(col("source")),
        lit(".Example.com/p/"), (col("doc_id") % 7).cast("string"),
        lit("/?utm_source=feed&id="), col("doc_id").cast("string"),
        lit("&utm_campaign=x"))
      Tables.documents(s, dir)
        .select(url.as("url"))
        .select(
          regexp_replace(
            regexp_replace(
              concat(
                lower(regexp_extract(col("url"), "^https?://([^/]+)", 1)),
                regexp_extract(col("url"), "^https?://[^/]+([^?]*)", 1)),
              "/$", ""),
            "^www\\.", "").as("canon"))
        .groupBy(col("canon")).agg(count(lit(1)).as("n"))
        .orderBy(col("canon"))
    },
    """WITH urls AS (
        SELECT 'https://WWW.' || upper(source) || '.Example.com/p/' ||
               CAST(doc_id % 7 AS VARCHAR) || '/?utm_source=feed&id=' ||
               CAST(doc_id AS VARCHAR) || '&utm_campaign=x' AS url
        FROM documents)
      SELECT regexp_replace(
               regexp_replace(
                 lower(regexp_extract(url, '^https?://([^/]+)', 1)) ||
                   regexp_extract(url, '^https?://[^/]+([^?]*)', 1),
                 '/$', ''),
               '^www\.', '') AS canon,
             COUNT(*) AS n
      FROM urls GROUP BY 1 ORDER BY canon""")

  /** Discrete (lower) median per group via exact rank-filter —
    * deterministic exact quantile without interpolation-formula
    * divergence between engines (the reason q35's percentile_approx
    * carries no oracle).
    *
    * Ranks come from GroupedRank.withRank — the two-phase
    * range-partitioned scan — NOT a Window.partitionBy(event_type)
    * sort: a low-cardinality partition key gives one task per group
    * regardless of data size, the straggler SCALE.md used to only
    * document. Now fixed, and plan-guarded (no single-column-partition
    * window in the median path). */
  private val q39 = Q(
    "q39_median_disc",
    (s, dir) => {
      graft.operators.GroupedRank.withRank(
          Tables.events(s, dir)
            .select(col("event_type"), col("value"), col("event_id")),
          "event_type", Seq("value", "event_id"))
        // floor, not a bare int cast: DuckDB ROUNDS double→int casts
        // while Spark truncates — floor agrees everywhere
        .filter(col("rn") === floor((col("cnt") + 1) / 2).cast("int"))
        .select(col("event_type"), col("value").as("median_lo"))
        .orderBy(col("event_type"))
    },
    """SELECT event_type, value AS median_lo FROM (
        SELECT event_type, value,
          ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
          COUNT(*) OVER (PARTITION BY event_type) AS cnt
        FROM events) t
      WHERE rn = CAST(FLOOR((cnt + 1) / 2) AS INT) ORDER BY event_type""")

  /** Dedup clusters: LSH candidate pairs → connected components (min
    * member id = canonical keeper). Oracle: recursive-CTE reachability
    * with min-label aggregation — exactly the fixpoint the DataFrame
    * loop computes. */
  private val q40 = Q(
    "q40_dedup_clusters",
    (s, dir) =>
      // star-reduced edges: same components as the pair-clique graph the
      // oracle walks (per-bucket reachability via the hub), linear edges;
      // band table + component map shared with q17/q44 via SharedLsh
      SharedLsh.components(s, dir)
        .orderBy(col("doc_id")),
    s"""WITH RECURSIVE
      ${OracleSql.lshPairs(mat = true)},
      ${OracleSql.componentWalk("pairs")}
      SELECT doc_id, component FROM comp ORDER BY 1""")

  /** Deterministic train/val/test split for training corpora:
    * assignment = md5(id) bucket, so the split is reproducible across
    * runs, engines, and partitionings (unlike `sample()`, whose
    * seed+partition dependence makes re-runs drift). 8/1/1 by first
    * hex digit: 0-c train, d holdout→val, e-f test. */
  private val q41 = Q(
    "q41_split_assign",
    (s, dir) => {
      val h = substring(md5(concat(lit("split:"), col("doc_id").cast("string"))), 1, 1)
      val split = when(h.isin("d"), "val")
        .when(h.isin("e", "f"), "test")
        .otherwise("train")
      Tables.documents(s, dir)
        .select(split.as("split"), col("lang"))
        .groupBy(col("split"), col("lang")).agg(count(lit(1)).as("n"))
        .orderBy(col("split"), col("lang"))
    },
    """WITH t AS (
        SELECT CASE substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 1)
          WHEN 'd' THEN 'val'
          WHEN 'e' THEN 'test' WHEN 'f' THEN 'test'
          ELSE 'train' END AS split, lang
        FROM documents)
      SELECT split, lang, COUNT(*) AS n FROM t
      GROUP BY 1, 2 ORDER BY split, lang""")

  /** Label-balance audit over the embedding table (class skew is the
    * first thing a training pipeline checks): counts + exact share. */
  private val q42 = Q(
    "q42_label_balance",
    (s, dir) =>
      Tables.embeddings(s, dir)
        .groupBy(col("label").cast("long").as("label"))
        .agg(count(lit(1)).as("n"))
        .withColumn("share",
          col("n").cast("double") /
            sum(col("n")).over(Window.partitionBy()))
        .orderBy(col("label")),
    """SELECT CAST(label AS BIGINT) AS label, COUNT(*) AS n,
      CAST(COUNT(*) AS DOUBLE) / SUM(COUNT(*)) OVER () AS share
      FROM embeddings GROUP BY 1 ORDER BY 1""")

  /** PII scrubbing — redact emails and IPv4s from text before training
    * (synthesized PII over driver data so the redaction paths execute).
    * Counts per kind prove the scrub; the redacted text sample shows the
    * placeholder form. */
  private val q43 = Q(
    "q43_pii_redact",
    (s, dir) => {
      val dirty = concat(col("text"), lit(" contact: u"),
        col("doc_id").cast("string"), lit("@example.com from 10.0."),
        (col("doc_id") % 256).cast("string"), lit(".7"))
      val emailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
      val ipRe = "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}"
      Tables.documents(s, dir)
        .select(col("doc_id"), dirty.as("dirty"))
        .select(col("doc_id"),
          regexp_count(col("dirty"), lit(emailRe)).cast("long").as("n_email"),
          regexp_count(col("dirty"), lit(ipRe)).cast("long").as("n_ip"),
          regexp_replace(regexp_replace(col("dirty"), emailRe, "<EMAIL>"),
            ipRe, "<IP>").as("clean"))
        .select(col("doc_id"), col("n_email"), col("n_ip"),
          regexp_count(col("clean"), lit("<EMAIL>")).cast("long")
            .as("n_email_redacted"),
          regexp_count(col("clean"), lit("<IP>")).cast("long")
            .as("n_ip_redacted"))
        .orderBy(col("doc_id")).limit(500)
    },
    """WITH dirty AS (
        SELECT doc_id,
          text || ' contact: u' || CAST(doc_id AS VARCHAR) ||
          '@example.com from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7' AS dirty
        FROM documents),
      scrub AS (
        SELECT doc_id,
          CAST(len(regexp_extract_all(dirty, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS BIGINT) AS n_email,
          CAST(len(regexp_extract_all(dirty, '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}')) AS BIGINT) AS n_ip,
          regexp_replace(
            regexp_replace(dirty, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
            '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}', '<IP>', 'g') AS clean
        FROM dirty)
      SELECT doc_id, n_email, n_ip,
        CAST(len(regexp_extract_all(clean, '<EMAIL>')) AS BIGINT) AS n_email_redacted,
        CAST(len(regexp_extract_all(clean, '<IP>')) AS BIGINT) AS n_ip_redacted
      FROM scrub ORDER BY doc_id LIMIT 500""")

  /** Corpus curation endgame: LSH pairs → components → keep only each
    * cluster's canonical doc (min id) → retention stats per lang. The
    * full dedup pipeline composed end-to-end. */
  private val q44 = Q(
    "q44_dedup_retention",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val comps = SharedLsh.components(s, dir)
      docs.join(comps, Seq("doc_id"), "left")
        .select(col("lang"),
          // docs outside any cluster are their own canonical
          (col("component").isNull ||
            col("component") === col("doc_id")).as("keep"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"),
          count(when(col("keep"), 1)).as("kept"),
          count(when(!col("keep"), 1)).as("dropped"))
        .orderBy(col("lang"))
    },
    s"""WITH RECURSIVE
      ${OracleSql.lshPairs(mat = true)},
      ${OracleSql.componentWalk("pairs", "comps", matEdges = true, matComp = true)}
      SELECT d.lang, COUNT(*) AS docs,
        COUNT(CASE WHEN c.component IS NULL OR c.component = d.doc_id
              THEN 1 END) AS kept,
        COUNT(CASE WHEN c.component IS NOT NULL AND c.component <> d.doc_id
              THEN 1 END) AS dropped
      FROM documents d LEFT JOIN comps c ON d.doc_id = c.doc_id
      GROUP BY 1 ORDER BY d.lang""")

  /** Fixed-width histogram — the data-profiling primitive (distribution
    * shape before training). Bin ids via floor division; empty bins
    * simply absent (sparse histogram — the scalable representation). */
  private val q45 = Q(
    "q45_histogram",
    (s, dir) =>
      Tables.events(s, dir)
        .select(floor(col("value") / 25.0).cast("long").as("bin"))
        .groupBy(col("bin")).agg(count(lit(1)).as("n"))
        .withColumn("lo", (col("bin") * 25.0))
        .orderBy(col("bin")),
    // CAST(... AS DOUBLE) on lo: DuckDB's 25.0 literal is DECIMAL(3,1),
    // so BIGINT * 25.0 would come back as DECIMAL, not the double Spark
    // produces from long * 25.0
    """SELECT CAST(FLOOR(value / 25.0) AS BIGINT) AS bin,
      COUNT(*) AS n,
      CAST(CAST(FLOOR(value / 25.0) AS BIGINT) * 25.0 AS DOUBLE) AS lo
      FROM events GROUP BY 1 ORDER BY bin""")

  /** Pivot (wide aggregation): day × event_type count matrix. The value
    * list is EXPLICIT — inferred pivot values cost an extra distinct
    * job and make the schema data-dependent, both wrong at scale. */
  private val q46 = Q(
    "q46_pivot",
    (s, dir) =>
      Tables.events(s, dir)
        .select(date_format(col("ts"), "yyyy-MM-dd").as("day"),
          col("event_type"))
        .groupBy(col("day"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy(col("day")),
    """SELECT strftime(ts, '%Y-%m-%d') AS day,
      COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
      COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error,
      COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
      COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
      COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view
      FROM events GROUP BY 1 ORDER BY day""")

  /** IVF coarse-quantizer assignment census — the oracle check for the
    * ANN scale path (operators/Similarity.assignL2Decimal): stride-picked
    * centroids (deterministic init), exact-decimal L2 argmin per vector,
    * then per-cell count + min member. Covers the one scale component
    * that previously had spec-only coverage. */
  private val q47 = Q(
    "q47_ivf_assign_census",
    (s, dir) =>
      // assignment shared with q48 via SharedIvf (one materialization
      // per session+input — the persisted-inverted-file shape)
      SharedIvf.assignment(s, dir)
        .groupBy(col("cid"))
        .agg(count(lit(1)).as("n"), min(col("id")).as("min_vec"))
        .orderBy(col("cid")),
    s"""WITH ${OracleSql.embeddingRows("x")},
      cents AS (
        SELECT CAST(vec_id // 97 AS BIGINT) AS cid, vec_id AS cvid
        FROM embeddings WHERE vec_id % 97 = 0),
      ce AS (SELECT c.cid, e.i, e.x FROM cents c JOIN ev e ON e.vec_id = c.cvid),
      xx AS (SELECT vec_id, SUM(CAST(x*x AS DECIMAL(18,16))) AS xx
             FROM ev GROUP BY 1),
      cc AS (SELECT cid, SUM(CAST(x*x AS DECIMAL(18,16))) AS cc
             FROM ce GROUP BY 1),
      xc AS (SELECT e.vec_id, c.cid, SUM(CAST(e.x*c.x AS DECIMAL(18,16))) AS xc
             FROM ev e JOIN ce c ON e.i = c.i GROUP BY 1, 2),
      d AS (SELECT xc.vec_id, xc.cid, xx.xx + cc.cc - 2*xc.xc AS d2
            FROM xc JOIN xx ON xx.vec_id = xc.vec_id
                    JOIN cc ON cc.cid = xc.cid),
      best AS (SELECT vec_id, cid FROM (
          SELECT vec_id, cid,
            ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS rk
          FROM d) t
        WHERE rk = 1)
      SELECT cid, COUNT(*) AS n, MIN(vec_id) AS min_vec
      FROM best GROUP BY 1 ORDER BY cid""")

  /** IVF probed-cell search — completes the IVF oracle story (q47 =
    * assignment; q48 = search over the inverted file): 4 query vectors
    * rank centroids by exact-decimal L2, probe the nearest 2 cells,
    * exact top-3 within candidates only (the equi-join-on-cid scale
    * shape — the corpus is never cross-joined). */
  private val q48 = Q(
    "q48_ivf_search",
    (s, dir) => {
      val e = SharedIvf.vectors(s, dir)
      val index = e.join(SharedIvf.assignment(s, dir), Seq("id"))
      graft.operators.Similarity.ivfSearchDecimal(
          index, SharedIvf.centroids(s, dir), e.filter(col("id") < 4),
          nprobe = 2, k = 3)
        .withColumn("rnk", col("rnk").cast("long"))
        .orderBy(col("q_id"), col("rnk"))
    },
    s"""WITH ${OracleSql.embeddingRows("x")},
      cents AS (
        SELECT CAST(vec_id // 97 AS BIGINT) AS cid, vec_id AS cvid
        FROM embeddings WHERE vec_id % 97 = 0),
      ce AS (SELECT c.cid, e.i, e.x FROM cents c JOIN ev e ON e.vec_id = c.cvid),
      xx AS (SELECT vec_id, SUM(CAST(x*x AS DECIMAL(18,16))) AS xx
             FROM ev GROUP BY 1),
      cc AS (SELECT cid, SUM(CAST(x*x AS DECIMAL(18,16))) AS cc
             FROM ce GROUP BY 1),
      xc AS (SELECT e.vec_id, c.cid, SUM(CAST(e.x*c.x AS DECIMAL(18,16))) AS xc
             FROM ev e JOIN ce c ON e.i = c.i GROUP BY 1, 2),
      d AS (SELECT xc.vec_id, xc.cid, xx.xx + cc.cc - 2*xc.xc AS d2
            FROM xc JOIN xx ON xx.vec_id = xc.vec_id
                    JOIN cc ON cc.cid = xc.cid),
      assign AS (SELECT vec_id, cid FROM (
          SELECT vec_id, cid,
            ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS rk
          FROM d) t
        WHERE rk = 1),
      probed AS (SELECT vec_id AS q_id, cid FROM (
          SELECT vec_id, cid,
            ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS rk
          FROM d WHERE vec_id < 4) t
        WHERE rk <= 2),
      cand AS (SELECT p.q_id, a.vec_id FROM probed p
               JOIN assign a ON a.cid = p.cid AND a.vec_id <> p.q_id),
      qc AS (SELECT c.q_id, c.vec_id,
               SUM(CAST(eq.x*ec.x AS DECIMAL(18,16))) AS dot
             FROM cand c
             JOIN ev eq ON eq.vec_id = c.q_id
             JOIN ev ec ON ec.vec_id = c.vec_id AND ec.i = eq.i
             GROUP BY 1, 2),
      cd AS (SELECT qc.q_id, qc.vec_id, xq.xx + xv.xx - 2*qc.dot AS d2
             FROM qc
             JOIN xx xq ON xq.vec_id = qc.q_id
             JOIN xx xv ON xv.vec_id = qc.vec_id)
      SELECT q_id, vec_id, rnk FROM (
        SELECT q_id, vec_id,
          ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY d2 ASC, vec_id ASC) AS rnk
        FROM cd) t
      WHERE rnk <= 3 ORDER BY q_id, rnk""")

  /** Log anonymization census — oracle check for BOTH anonymizer modes
    * (operators/Anonymize): dense two-pass aliases (zipWithIndex over
    * the sorted distinct set ≡ ROW_NUMBER over distinct values) on the
    * source column, stateless keyed md5 aliases on the lang column,
    * then a grouped census proving the mapping is total and stable. */
  private val q49 = Q(
    "q49_anonymize",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("lang"))
      val dense = graft.operators.Anonymize.denseAliases(docs, "source", "src")
      val keyed = graft.operators.Anonymize.keyedAliases(dense, "lang", "lang")
      keyed.groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_doc"))
        .orderBy(col("source"), col("lang"))
    },
    """WITH mapping AS (
        SELECT orig, 'src_' || CAST(ROW_NUMBER() OVER (ORDER BY orig) AS VARCHAR) AS alias
        FROM (SELECT DISTINCT source AS orig FROM documents) t),
      aliased AS (
        SELECT m.alias AS source,
               'lang_' || substr(md5(d.lang), 1, 10) AS lang,
               d.doc_id
        FROM documents d JOIN mapping m ON d.source = m.orig)
      SELECT source, lang, COUNT(*) AS n, MIN(doc_id) AS min_doc
      FROM aliased GROUP BY 1, 2 ORDER BY source, lang""")

  /** Train/test contamination check — the leakage audit every benchmark
    * pipeline needs: reproducible split assignment (q41's md5 buckets) ×
    * exact content hashes (q16's md5), flagging docs whose content
    * appears in more than one split. Two shuffles (hash spread, split
    * census), both on 16-byte keys — text never shuffles. */
  private val q50 = Q(
    "q50_contamination",
    (s, dir) => {
      val h = substring(md5(concat(lit("split:"), col("doc_id").cast("string"))), 1, 1)
      val split = when(h.isin("d"), "val")
        .when(h.isin("e", "f"), "test")
        .otherwise("train")
      val base = Tables.documents(s, dir)
        .select(split.as("split"), md5(col("text")).as("ch"))
      val spread = base.groupBy(col("ch"))
        .agg(countDistinct(col("split")).as("ns"))
      base.join(spread, "ch")
        .groupBy(col("split"))
        .agg(count(lit(1)).as("docs"),
          count(when(col("ns") >= 2, 1)).as("contaminated"))
        .orderBy(col("split"))
    },
    """WITH t AS (
        SELECT CASE substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 1)
          WHEN 'd' THEN 'val'
          WHEN 'e' THEN 'test' WHEN 'f' THEN 'test'
          ELSE 'train' END AS split, md5(text) AS ch
        FROM documents),
      spread AS (SELECT ch, COUNT(DISTINCT split) AS ns FROM t GROUP BY 1)
      SELECT split, COUNT(*) AS docs,
        COUNT(CASE WHEN ns >= 2 THEN 1 END) AS contaminated
      FROM t JOIN spread USING (ch)
      GROUP BY 1 ORDER BY split""")

  /** Repeated-bigram ratio census — the repetition quality signal
    * (duplicated-n-gram filters in large-corpus curation). A tenth of
    * the docs get their text doubled so the flag path executes; the
    * ratio itself is per-row array arithmetic (no shuffle before the
    * lang census). Average via the decimal-sum pattern (q23). */
  private val q51 = Q(
    "q51_repetition",
    (s, dir) => {
      val txt = when(col("doc_id") % 10 === 0,
        concat_ws(" ", col("text"), col("text"))).otherwise(col("text"))
      Tables.documents(s, dir)
        .select(col("lang"),
          graft.operators.TextAnalysis.repetitionRatio(txt).as("rep"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"),
          (sum(col("rep").cast("decimal(28,12)")).cast("double") /
            count(lit(1))).as("avg_rep"),
          count(when(col("rep") > 0.1, 1)).as("flagged"))
        .orderBy(col("lang"))
    },
    """WITH d AS (
        SELECT lang,
          CASE WHEN doc_id % 10 = 0 THEN text || ' ' || text
               ELSE text END AS txt
        FROM documents),
      toks AS (SELECT lang, string_split(txt, ' ') AS t FROM d),
      rep AS (
        SELECT lang,
          CASE WHEN len(t) < 2 THEN 0.0
               ELSE 1.0 - CAST(len(list_distinct(
                      list_transform(range(1, len(t)),
                        i -> t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1]))) AS DOUBLE)
                    / CAST(len(t) - 1 AS DOUBLE)
          END AS rep
        FROM toks)
      SELECT lang, COUNT(*) AS docs,
        CAST(SUM(CAST(rep AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS avg_rep,
        COUNT(CASE WHEN rep > 0.1 THEN 1 END) AS flagged
      FROM rep GROUP BY 1 ORDER BY lang""")

  /** Salted skew JOIN (operators/Skew.saltedJoin) — the join-side
    * counterpart of q36's salted aggregation: large side salted by
    * xxhash64 (engine-internal, never surfaces), small side replicated,
    * join on (key, salt). The oracle is the PLAIN join — proving the
    * rewrite is row-identical while spreading a hot key over `salts`
    * reducers. */
  private val q52 = Q(
    "q52_salted_join",
    (s, dir) => {
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
      Skew.saltedJoin(o, c, "o_custkey", saltBy = "o_orderkey", salts = 8)
        .groupBy(col("c_mktsegment"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("sum_price"))
        .orderBy(col("c_mktsegment"), col("o_orderstatus"))
    },
    """SELECT c_mktsegment, o_orderstatus, COUNT(*) AS n,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1, 2 ORDER BY 1, 2""")

  /** Reproducible stratified sampling — data-mixing for training runs:
    * per-stratum keep rates via md5 buckets (en 8/16, others 4/16), so
    * the sample is identical across runs, engines, and partitionings
    * (`sample()` is none of those). Narrow filter; the census is the
    * only shuffle. */
  private val q53 = Q(
    "q53_stratified_sample",
    (s, dir) => {
      val h1 = substring(
        md5(concat(lit("samp:"), col("doc_id").cast("string"))), 1, 1)
      val keep = when(col("lang") === "en",
        h1.isin("0", "1", "2", "3", "4", "5", "6", "7"))
        .otherwise(h1.isin("0", "1", "2", "3"))
      Tables.documents(s, dir)
        .select(col("lang"), keep.as("keep"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"),
          count(when(col("keep"), 1)).as("sampled"))
        .orderBy(col("lang"))
    },
    """WITH t AS (
        SELECT lang,
          CASE WHEN lang = 'en'
               THEN substr(md5('samp:' || CAST(doc_id AS VARCHAR)), 1, 1)
                    IN ('0','1','2','3','4','5','6','7')
               ELSE substr(md5('samp:' || CAST(doc_id AS VARCHAR)), 1, 1)
                    IN ('0','1','2','3') END AS keep
        FROM documents)
      SELECT lang, COUNT(*) AS docs,
        COUNT(CASE WHEN keep THEN 1 END) AS sampled
      FROM t GROUP BY 1 ORDER BY lang""")

  /** int8 embedding quantization census (operators/Quantize): per-dim
    * min/max stats (64-row broadcast) + narrow encode, then per-dim
    * code-space usage — the compression audit run before swapping a
    * float index for a uint8 one. Code arithmetic is identical IEEE
    * ops on identical doubles in both engines. */
  private val q54 = Q(
    "q54_quantize",
    (s, dir) => {
      // FENCED (r10 audit): posexplode's inferred size/not-null filters
      // otherwise re-expand the asDouble transform into the predicate
      val e = Tables.embeddings(s, dir).select(col("vec_id").as("id"),
        graft.plans.FenceExpr.fence(
          graft.operators.Similarity.asDouble(col("embedding"))).as("v"))
      val codes = graft.operators.Quantize.encode(
        e, graft.operators.Quantize.dimStats(e))
      codes.groupBy(col("d"))
        .agg(countDistinct(col("code")).as("n_codes"),
          min(col("code")).as("min_code"),
          max(col("code")).as("max_code"),
          count(when(col("code") === 0 || col("code") === 255, 1))
            .as("edge_hits"))
        .orderBy(col("d"))
        .filter(col("d") <= 16)
    },
    """WITH ev AS (
        SELECT vec_id AS id, i AS d, CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS x
        FROM embeddings, UNNEST(range(1, len(embedding)+1)) AS t(i)),
      stats AS (SELECT d, MIN(x) AS mn, MAX(x) AS mx FROM ev GROUP BY 1),
      codes AS (
        SELECT id, ev.d,
          CASE WHEN mx = mn THEN 0
               ELSE GREATEST(0, LEAST(255,
                 CAST(FLOOR((x - mn) * 255.0 / (mx - mn)) AS BIGINT)))
          END AS code
        FROM ev JOIN stats ON ev.d = stats.d)
      SELECT d, COUNT(DISTINCT code) AS n_codes,
        MIN(code) AS min_code, MAX(code) AS max_code,
        COUNT(CASE WHEN code = 0 OR code = 255 THEN 1 END) AS edge_hits
      FROM codes WHERE d <= 16
      GROUP BY 1 ORDER BY d""")

  /** MINHASH ESTIMATOR CALIBRATION over the LSH candidate pairs: for
    * every banded candidate, the 8-component signature agreement
    * (matches ∈ 0..8 — the MinHash Jaccard estimate in eighths)
    * crossed with the EXACT 5-shingle Jaccard decile, as a
    * (matches, decile) → pair-count census. The estimator-quality
    * readout that tells a dedup operator whether its signature width
    * is wide enough BEFORE trusting banding at corpus scale.
    *
    * Exactness/scale: the exact side is RELATIONAL, mirroring the
    * oracle's own cdocs/shc prefilter shape — one distinct
    * (doc, shingle) relation is built for CANDIDATE docs only (per-doc
    * work paid once per doc, never per pair), pairs equi-join to it
    * twice on (doc, shingle) and a codegen'd hash aggregate counts the
    * intersections; per-doc set sizes come from one more hash agg over
    * the same relation. The O(corpus²) all-pairs Jaccard never runs,
    * no higher-order function touches the pair side (plan-guarded in
    * PlanShapeSpec), and the only per-pair cost is |shingles(doc_a)|
    * join-probe rows — linear in candidate volume × doc length with
    * whole-stage codegen end to end. The r6 per-pair array_intersect
    * formulation re-derived both docs' full shingle arrays per PAIR in
    * an interpreted HOF projection (13.5 s at sf0.1); this shape is
    * the one the DuckDB oracle already proved out at 3.8 s. The decile
    * is all-integer (i·10 div union), matches is an integer sum of
    * equality flags — nothing floating anywhere. Signatures come from
    * the session-cached SharedLsh.signatures table (same n=5, k=8
    * params as the q17/q40 band table). */
  private val q172 = Q(
    "q172_minhash_calibration",
    (s, dir) => {
      // Broadcast-hint note: `cand`/`cdocs` are the LSH-screened
      // candidate set — pair-proportional, not corpus-proportional
      // (the repo-wide "candidate-bounded kernel" regime). At true
      // 100 TB candidate volume drop the broadcast() hints and the
      // same plan degrades gracefully to shuffled equi-joins with
      // identical semantics; `shc` (corpus-proportional side) is
      // never broadcast.
      val cand = SharedLsh.candidatePairs(s, dir)
      val sig = SharedLsh.signatures(s, dir)
      val sa = sig.select(col("doc_id").as("doc_a") +:
        (0 until 8).map(j => col(s"h$j").as(s"a$j")): _*)
      val sb = sig.select(col("doc_id").as("doc_b") +:
        (0 until 8).map(j => col(s"h$j").as(s"b$j")): _*)
      // sb is the FULL per-doc signature table — corpus-proportional,
      // so it carries no broadcast hint (that would pin a driver-memory
      // ceiling at scale); the pair-proportional probe side joins it as
      // a shuffle-hash equi-join on doc_b
      val est = sa.join(broadcast(cand), "doc_a")
        .join(sb.hint("shuffle_hash"), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          (0 until 8).map(j =>
            when(col(s"a$j") === col(s"b$j"), 1L).otherwise(0L))
            .reduce(_ + _).as("matches"))
      // distinct (doc, 5-shingle) rows for candidate docs ONLY — the
      // oracle's cdocs/shc prefilter (restrict FIRST, then explode),
      // session-cached, read by sizes and both inter legs
      val shc = SharedLsh.candidateShingleRows(s, dir)
      val sizes = shc.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("sz"))
      val inter = shc.select(col("doc_id").as("doc_a"), col("sh"))
        .join(broadcast(cand), "doc_a")
        .join(shc.select(col("doc_id").as("doc_b"), col("sh"))
          .hint("shuffle_hash"), Seq("doc_b", "sh"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("i"))
      est
        .join(inter, Seq("doc_a", "doc_b"), "left")
        .join(broadcast(sizes.select(col("doc_id").as("doc_a"),
          col("sz").as("sza"))), "doc_a")
        .join(broadcast(sizes.select(col("doc_id").as("doc_b"),
          col("sz").as("szb"))), "doc_b")
        .select(col("matches"),
          coalesce(col("i"), lit(0L)).as("i"),
          (col("sza") + col("szb")).as("ssum"))
        .select(col("matches"),
          expr("i * 10 div (ssum - i)").as("decile"))
        .groupBy(col("matches"), col("decile"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("matches"), col("decile"))
    },
    {
      val matches = (0 until 8)
        .map(j => s"(CASE WHEN a.h$j = b.h$j THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH ${OracleSql.lshPairs("cand")},
      est AS (SELECT c.doc_a, c.doc_b, $matches AS matches
        FROM cand c JOIN sig a ON a.doc_id = c.doc_a
                    JOIN sig b ON b.doc_id = c.doc_b),
      sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz
        FROM sh GROUP BY 1),
      cdocs AS (SELECT doc_a AS doc_id FROM cand
        UNION SELECT doc_b FROM cand),
      shc AS (SELECT s.doc_id, s.sh FROM sh s
        JOIN cdocs USING (doc_id)),
      inter AS (SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS i
        FROM cand c
        JOIN shc x ON x.doc_id = c.doc_a
        JOIN shc y ON y.doc_id = c.doc_b AND y.sh = x.sh
        GROUP BY 1, 2),
      cal AS (SELECT e.matches,
          COALESCE(i.i, 0) * 10
            // (sa.sz + sb.sz - COALESCE(i.i, 0)) AS decile
        FROM est e
        LEFT JOIN inter i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
        JOIN sizes sa ON sa.doc_id = e.doc_a
        JOIN sizes sb ON sb.doc_id = e.doc_b)
      SELECT CAST(matches AS BIGINT) AS matches, decile,
        CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM cal GROUP BY 1, 2 ORDER BY matches, decile"""
    })

  /** QUALITY-ARGMAX RETENTION over the near-dup clusters — q44's
    * retention with the policy a curation pipeline actually wants:
    * instead of keeping the LOWEST-ID member (arbitrary), keep the
    * HIGHEST-QUALITY member (q23's score ×10⁶ fixed point, ties to
    * the lower id). Per-language census of clustered docs compares
    * the two policies directly: the summed keeper quality under
    * argmax vs under keep-first — the measured value of the smarter
    * policy. Argmax rides a packed BIGINT (score_fp·10⁷ + inverted
    * id; id range guarded with raise_error, q166's convention) so
    * the per-component window is a plain MAX. */
  private val q175 = Q(
    "q175_quality_retention",
    (s, dir) => {
      val score = floor(
        graft.operators.TextAnalysis.qualityScore(col("text")) * 1000000)
        .cast("long")
      val guardedId = when(col("doc_id") < 9999999L, col("doc_id"))
        .otherwise(raise_error(lit(
          "q175: doc_id overflows the argmax packing")).cast("long"))
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), score.as("score_fp"),
          (score * 10000000L + (lit(9999999L) - guardedId)).as("packed"))
      val w = Window.partitionBy(col("component"))
      docs.join(SharedLsh.components(s, dir), "doc_id")
        .withColumn("keep_q", col("packed") === max(col("packed")).over(w))
        .withColumn("keep_first", col("doc_id") === col("component"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("clustered_docs"),
          sum(when(col("keep_q"), 1L).otherwise(0L)).as("kept"),
          sum(when(col("keep_q"), col("score_fp")).otherwise(0L))
            .as("quality_policy_score"),
          sum(when(col("keep_first"), col("score_fp")).otherwise(0L))
            .as("first_policy_score"))
        .orderBy(col("lang"))
    },
    s"""WITH RECURSIVE
      ${OracleSql.lshPairs(mat = true)},
      ${OracleSql.componentWalk("pairs", "comps", matEdges = true, matComp = true)},
      scored AS (SELECT doc_id, lang,
          CAST(FLOOR(${OracleSql.qualityScore} * 1000000) AS BIGINT) AS score_fp
        FROM documents),
      cl AS (SELECT s.doc_id, s.lang, s.score_fp, c.component,
          s.score_fp * 10000000 + (9999999 - s.doc_id) AS packed
        FROM scored s JOIN comps c ON c.doc_id = s.doc_id),
      k AS (SELECT lang, doc_id, component, score_fp,
          packed = MAX(packed) OVER (PARTITION BY component) AS keep_q
        FROM cl)
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS clustered_docs,
        CAST(SUM(CASE WHEN keep_q THEN 1 ELSE 0 END) AS BIGINT) AS kept,
        CAST(SUM(CASE WHEN keep_q THEN score_fp ELSE 0 END) AS BIGINT)
          AS quality_policy_score,
        CAST(SUM(CASE WHEN doc_id = component THEN score_fp ELSE 0 END)
          AS BIGINT) AS first_policy_score
      FROM k GROUP BY 1 ORDER BY lang""")

  val list: Seq[Q] = Seq(q29, q30, q31, q32, q33, q34, q35, q36, q37,
    q38, q39, q40, q41, q42, q43, q44, q45, q46, q47, q48, q49, q50, q51,
    q52, q53, q54, q172, q175)
}
