package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Queries.Q
import graft.operators.Similarity
import graft.operators.{Bfs, BpeTrain, ColumnProfile, DupSpans, Funnel, MixtureSample, NdvSketch, PageRank, ProductQuant, QuantileSketch, RecordLinkage, Scd2, WeightedSample, ZOrder}

/** Sampling / sketching / layout / graph queries (q67+): the
  * data-mixing, file-layout, and graph-centrality operators a
  * training-data pipeline runs after curation. Same determinism rules
  * as [[Queries]]; each query pins its operator in the regime where
  * the result is engine-independent (exact sketch regime, all-integer
  * sampling and rank arithmetic, pure bit interleaves), so a DuckDB
  * oracle can hash-match bit-for-bit — the approximate / scale regimes
  * of the same operators are covered by QuantileSketchSpec /
  * WeightedSampleSpec / ZOrderSpec / PageRankSpec.
  */
object QueriesSample {

  /** Per-group quantiles via the t-digest typed Aggregator
    * (operators/QuantileSketch.scala). Run in the EXACT regime:
    * compression ≥ 2·n derived from the ACTUAL row count (total count
    * bounds every group), where the k1 merge bound proves no two
    * singletons ever merge, so the sketch degenerates to the sorted
    * multiset and the discrete lower-rank quantile is
    * partitioning-invariant at ANY sf (the count() pre-pass is
    * parquet-metadata-only). Oracle = the same rank filter spelled
    * with ROW_NUMBER (DuckDB's quantile_disc uses ceil(q·n) ranks —
    * a different convention, so it is NOT used). */
  private val q67 = Q(
    "q67_quantile_sketch",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      val comp = QuantileSketch.exactCompressionFor(ev.count())
      ev
        .groupBy(col("event_type"))
        .agg(QuantileSketch.quantiles(
          col("value"), Seq(0.5, 0.9, 0.99), compression = comp).as("qs"))
        .select(col("event_type"),
          element_at(col("qs"), 1).as("p50"),
          element_at(col("qs"), 2).as("p90"),
          element_at(col("qs"), 3).as("p99"))
        .orderBy(col("event_type"))
    },
    """WITH t AS (
        SELECT event_type, value,
          ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rn,
          COUNT(*) OVER (PARTITION BY event_type) AS cnt
        FROM events)
      SELECT event_type,
        MAX(CASE WHEN rn = CAST(FLOOR(0.5*(cnt-1)) AS BIGINT)+1 THEN value END) AS p50,
        MAX(CASE WHEN rn = CAST(FLOOR(0.9*(cnt-1)) AS BIGINT)+1 THEN value END) AS p90,
        MAX(CASE WHEN rn = CAST(FLOOR(0.99*(cnt-1)) AS BIGINT)+1 THEN value END) AS p99
      FROM t GROUP BY event_type ORDER BY event_type""")

  /** Systematic probability-proportional-to-size sample: exactly 37
    * docs, inclusion probability ∝ n_chars, deterministic in pure
    * integer arithmetic (operators/WeightedSample.systematicPps — the
    * two-phase distributed prefix sum). Oracle spells the same stride
    * rule over a window prefix sum; FLOOR of the double quotient is
    * IEEE-identical across engines (operands < 2^53). */
  private val q68 = Q(
    "q68_weighted_sample",
    (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("n_chars"))
      WeightedSample.systematicPps(docs, "doc_id", "n_chars", k = 37)
        .orderBy(col("doc_id"))
    },
    """WITH c AS (
        SELECT doc_id, n_chars,
          SUM(n_chars) OVER (ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
          SUM(n_chars) OVER () AS total
        FROM documents)
      SELECT doc_id, n_chars FROM c
      WHERE FLOOR(cum * 37 / total) > FLOOR((cum - n_chars) * 37 / total)
      ORDER BY doc_id""")

  /** Independent Bernoulli weighted sample (P(in) = n_chars / max):
    * the narrow no-shuffle mixing filter
    * (operators/WeightedSample.poissonInclude), audited per lang. The
    * per-row uniform is an md5-derived 32-bit integer and the
    * comparison is all-integer, so the oracle reproduces it exactly
    * (DuckDB parses the same 8 hex chars via a 0x cast). */
  private val q69 = Q(
    "q69_poisson_sample",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val wMax = docs.agg(max(col("n_chars"))).collect()(0).getLong(0)
      docs.filter(WeightedSample.poissonInclude(
          "mix", col("doc_id"), col("n_chars"), lit(wMax)))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_sel"),
          sum(col("n_chars")).as("chars_sel"))
        .orderBy(col("lang"))
    },
    """SELECT lang, COUNT(*) AS n_sel,
        CAST(SUM(n_chars) AS BIGINT) AS chars_sel
      FROM documents
      WHERE CAST(('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
              * (SELECT MAX(n_chars) FROM documents)
            < n_chars * 4294967296
      GROUP BY lang ORDER BY lang""")

  /** Z-order key census: Morton-interleave two 8-bit event coordinates
    * (operators/ZOrder.zkey — pure shift/mask expressions, stays in
    * whole-stage codegen) and profile the 64 leading-bit buckets the
    * layout writer would range-partition on. The oracle unrolls the
    * same 16 bit placements; both engines compute identical BIGINT
    * keys. The actual file-layout win (per-file min/max tightening) is
    * pinned by ZOrderSpec, which reads back written files. */
  private val q70 = Q(
    "q70_zorder_key",
    (s, dir) => {
      Tables.events(s, dir)
        .select(ZOrder.zkey(
          Seq(col("user_id") % 256, col("event_id") % 256), bits = 8)
          .as("zkey"))
        .groupBy(shiftright(col("zkey"), 10).as("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("zkey")).as("zmin"), max(col("zkey")).as("zmax"))
        .orderBy(col("bucket"))
    },
    {
      val parts = (0 until 8).flatMap { i =>
        Seq(s"((((user_id % 256) >> $i) & 1) << ${2 * i + 1})",
          s"((((event_id % 256) >> $i) & 1) << ${2 * i})")
      }
      s"""WITH z AS (SELECT (${parts.mkString(" | ")}) AS zkey FROM events)
      SELECT zkey >> 10 AS bucket, COUNT(*) AS n,
        MIN(zkey) AS zmin, MAX(zkey) AS zmax
      FROM z GROUP BY 1 ORDER BY 1"""
    })

  /** Full CUBE with grouping ids — completes the multi-dimensional
    * aggregate family next to q27's ROLLUP and q46's PIVOT. The gid
    * column disambiguates which NULLs are subtotal markers vs data
    * (the reference never needs this; its reports are flat counts —
    * report.py — but any BI consumer of the events store does). */
  private val q71 = Q(
    "q71_cube",
    (s, dir) => {
      Tables.orders(s, dir)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg((grouping(col("o_orderstatus"))
            + grouping(col("o_orderpriority")) * 2).cast("int").as("gid"),
          count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("rev"))
        .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)
    },
    """SELECT o_orderstatus, o_orderpriority,
        CAST(GROUPING(o_orderstatus) + 2*GROUPING(o_orderpriority) AS INT) AS gid,
        COUNT(*) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
      FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
      ORDER BY gid, o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""")

  /** Fixed-iteration PageRank over a derived interaction graph
    * (operators/PageRank.scala — scaled integer arithmetic, so ANY
    * partitioning and any engine produce bit-identical ranks). The
    * oracle unrolls the same three iterations as chained CTEs with the
    * same floor divisions. 50-node graph here; the operator's join/agg
    * shape is the one that scales (see its scaladoc). */
  private val q72 = Q(
    "q72_pagerank",
    (s, dir) => {
      val e = Tables.events(s, dir)
        .select((col("user_id") % 50).as("src"),
          ((col("user_id") + col("event_id")) % 50).as("dst"))
      PageRank.run(e, "src", "dst", iterations = 3)
        .select(col("n").as("node"), col("rank"))
        .orderBy(col("rank").desc, col("node"))
    },
    """WITH e AS (
        SELECT DISTINCT user_id % 50 AS src, (user_id + event_id) % 50 AS dst
        FROM events WHERE user_id % 50 <> (user_id + event_id) % 50),
      nodes AS (SELECT DISTINCT n FROM
        (SELECT src AS n FROM e UNION ALL SELECT dst FROM e)),
      od AS (SELECT src, COUNT(*) AS d FROM e GROUP BY 1),
      r0 AS (SELECT n, CAST(1000000000000 AS BIGINT) AS r FROM nodes),
      c1 AS (SELECT e.dst AS n, CAST(SUM(r0.r // od.d) AS BIGINT) AS c
             FROM e JOIN od USING (src) JOIN r0 ON r0.n = e.src GROUP BY 1),
      r1 AS (SELECT nodes.n,
               CAST(150000000000 + (85 * COALESCE(c1.c, 0)) // 100 AS BIGINT) AS r
             FROM nodes LEFT JOIN c1 ON nodes.n = c1.n),
      c2 AS (SELECT e.dst AS n, CAST(SUM(r1.r // od.d) AS BIGINT) AS c
             FROM e JOIN od USING (src) JOIN r1 ON r1.n = e.src GROUP BY 1),
      r2 AS (SELECT nodes.n,
               CAST(150000000000 + (85 * COALESCE(c2.c, 0)) // 100 AS BIGINT) AS r
             FROM nodes LEFT JOIN c2 ON nodes.n = c2.n),
      c3 AS (SELECT e.dst AS n, CAST(SUM(r2.r // od.d) AS BIGINT) AS c
             FROM e JOIN od USING (src) JOIN r2 ON r2.n = e.src GROUP BY 1),
      r3 AS (SELECT nodes.n,
               CAST(150000000000 + (85 * COALESCE(c3.c, 0)) // 100 AS BIGINT) AS r
             FROM nodes LEFT JOIN c3 ON nodes.n = c3.n)
      SELECT n AS node, r AS rank FROM r3 ORDER BY rank DESC, node""")

  /** q73's column spec (PlanShapeSpec pins its plan free of Expand). */
  private[graft] val profileCols = Seq(
    ColumnProfile.ProfCol("event_id", numeric = true),
    ColumnProfile.ProfCol("user_id", numeric = true),
    ColumnProfile.ProfCol("value", numeric = true),
    ColumnProfile.ProfCol("ts_ms", numeric = true),
    ColumnProfile.ProfCol("event_type", numeric = false),
    ColumnProfile.ProfCol("props", numeric = false))

  private[graft] def eventsWithTsMs(s: org.apache.spark.sql.SparkSession,
                                    dir: String) =
    Tables.events(s, dir).withColumn("ts_ms", unix_millis(col("ts")))

  /** Column profiling (operators/ColumnProfile.scala) — one
    * column-pruned scan per exact distinct (hash agg, no Expand, no
    * string sort; the r12 reshape of the r11-flagged tail cost), values
    * identical to the old single-pass Expand form. */
  private val q73 = Q(
    "q73_profile",
    (s, dir) =>
      ColumnProfile.profile(eventsWithTsMs(s, dir), profileCols)
        .orderBy(col("col_name")),
    """SELECT 'event_id' AS col_name, COUNT(*) AS n,
        CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
        COUNT(DISTINCT event_id) AS n_distinct,
        CAST(MIN(event_id) AS DOUBLE) AS vmin_num, CAST(MAX(event_id) AS DOUBLE) AS vmax_num,
        CAST(NULL AS VARCHAR) AS vmin_str, CAST(NULL AS VARCHAR) AS vmax_str FROM events
      UNION ALL
      SELECT 'user_id', COUNT(*), CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        COUNT(DISTINCT user_id), CAST(MIN(user_id) AS DOUBLE), CAST(MAX(user_id) AS DOUBLE),
        CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR) FROM events
      UNION ALL
      SELECT 'value', COUNT(*), CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        COUNT(DISTINCT value), MIN(value), MAX(value),
        CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR) FROM events
      UNION ALL
      SELECT 'ts_ms', COUNT(*), CAST(SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        COUNT(DISTINCT epoch_ms(ts)), CAST(MIN(epoch_ms(ts)) AS DOUBLE), CAST(MAX(epoch_ms(ts)) AS DOUBLE),
        CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR) FROM events
      UNION ALL
      SELECT 'event_type', COUNT(*), CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        COUNT(DISTINCT event_type), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
        MIN(event_type), MAX(event_type) FROM events
      UNION ALL
      SELECT 'props', COUNT(*), CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        COUNT(DISTINCT props), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
        MIN(props), MAX(props) FROM events
      ORDER BY col_name""")

  /** Windowed sequential funnel (operators/Funnel.scala):
    * view → click → purchase with a 24 h conversion window per step —
    * the per-step filter runs BEFORE each shuffle, so only the step's
    * own events move. Sf0.01 converts 150 → 60 → 25. */
  private val q74 = Q(
    "q74_funnel",
    (s, dir) => {
      val ev = Tables.events(s, dir)
        .selectExpr("user_id", "event_type", "unix_millis(ts) as ms")
      Funnel.counts(ev, "user_id", "event_type", "ms",
        Seq("view", "click", "purchase"), maxGapMs = Some(86400000L))
    },
    """WITH t AS (
        SELECT user_id AS u, event_type AS et, epoch_ms(ts) AS ms FROM events),
      s1 AS (SELECT u, MIN(ms) AS t1 FROM t WHERE et = 'view' GROUP BY 1),
      s2 AS (SELECT t.u, MIN(t.ms) AS t2 FROM t JOIN s1 USING (u)
             WHERE t.et = 'click' AND t.ms > s1.t1
               AND t.ms <= s1.t1 + 86400000 GROUP BY 1),
      s3 AS (SELECT t.u, MIN(t.ms) AS t3 FROM t JOIN s2 USING (u)
             WHERE t.et = 'purchase' AND t.ms > s2.t2
               AND t.ms <= s2.t2 + 86400000 GROUP BY 1)
      SELECT (SELECT COUNT(*) FROM s1) AS n1,
             (SELECT COUNT(*) FROM s2) AS n2,
             (SELECT COUNT(*) FROM s3) AS n3""")

  /** Repeated-span coverage per language (operators/DupSpans.scala):
    * how many characters of each doc are 20-gram-exact text shared
    * with ≥2 docs, interval-union'd via gaps-and-islands. The
    * substring-level complement of q17/q40's whole-doc near-dup:
    * catches template-stitched docs those miss. Counts stay integers
    * end-to-end (no fraction division), so the oracle hashes exactly. */
  private val q75 = Q(
    "q75_dup_spans",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      DupSpans.coverageFromPositions(
          DupSpans.dupPositionsFromGrams(SharedGrams.grams(s, dir),
            minDocs = 2),
          n = 20)
        .join(docs.select(col("doc_id"), col("lang"), col("n_chars")), "doc_id")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs_dup"),
          sum(col("covered")).as("covered_chars"),
          sum(col("n_chars")).as("total_chars"))
        .orderBy(col("lang"))
    },
    """WITH g AS (
        SELECT doc_id, lang, n_chars, i AS pos,
          substr(text, CAST(i AS INT), 20) AS gram
        FROM documents, LATERAL (SELECT UNNEST(range(1, len(text) - 18)) AS i) t
        WHERE len(text) >= 20),
      dup AS (
        SELECT gram FROM (SELECT gram, COUNT(DISTINCT doc_id) AS nd
                          FROM g GROUP BY 1)
        WHERE nd >= 2),
      p AS (SELECT doc_id, lang, n_chars, pos FROM g
            WHERE gram IN (SELECT gram FROM dup)),
      brk AS (
        SELECT doc_id, lang, n_chars, pos,
          CASE WHEN LAG(pos) OVER w IS NULL OR pos > LAG(pos) OVER w + 20
               THEN 1 ELSE 0 END AS b
        FROM p WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
      isl AS (
        SELECT doc_id, lang, n_chars, pos,
          SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
            ROWS UNBOUNDED PRECEDING) AS island
        FROM brk),
      runs AS (
        SELECT doc_id, lang, n_chars, island,
          MAX(pos) + 20 - MIN(pos) AS run_len
        FROM isl GROUP BY 1, 2, 3, 4),
      perdoc AS (
        SELECT doc_id, lang, n_chars, CAST(SUM(run_len) AS BIGINT) AS covered
        FROM runs GROUP BY 1, 2, 3)
      SELECT lang, COUNT(*) AS n_docs_dup,
        CAST(SUM(covered) AS BIGINT) AS covered_chars,
        CAST(SUM(n_chars) AS BIGINT) AS total_chars
      FROM perdoc GROUP BY lang ORDER BY lang""")

  /** Equi-depth histogram by COMPOSITION: boundaries from the t-digest
    * in its exact regime (q67's kernel, global this time), bucket
    * assignment with ZOrder.bucketize's when-chain — the two operators
    * q67/q70 already pinned, now producing the optimizer-statistics
    * histogram (equi-depth is what CBOs keep, not equi-width q45).
    * Oracle derives identical boundaries via ROW_NUMBER rank filters
    * and the same <=-chain. */
  private val q76 = Q(
    "q76_equidepth_hist",
    (s, dir) => {
      val t = Tables.events(s, dir).select(col("value"))
      val qs = (1 to 7).map(_ / 8.0)
      // exact regime at any sf: compression derived from the row count
      val comp = QuantileSketch.exactCompressionFor(t.count())
      val bounds = t
        .agg(QuantileSketch.quantiles(col("value"), qs, comp).as("q"))
        .collect()(0).getSeq[Double](0).toArray
      t.select(col("value"), ZOrder.bucketize(col("value"), bounds).as("bucket"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("value")).as("vmin"), max(col("value")).as("vmax"))
        .orderBy(col("bucket"))
    },
    {
      val bexprs = (1 to 7).map(i =>
        s"MAX(CASE WHEN rn = CAST(FLOOR($i.0/8*(cnt-1)) AS BIGINT)+1 THEN value END) AS b$i")
        .mkString(",\n          ")
      val bcases = (1 to 7).map(i => s"WHEN value <= b$i THEN ${i - 1}")
        .mkString(" ")
      s"""WITH t AS (SELECT value, ROW_NUMBER() OVER (ORDER BY value) AS rn,
          COUNT(*) OVER () AS cnt FROM events),
        bounds AS (SELECT $bexprs FROM t),
        assigned AS (SELECT value, CASE $bcases ELSE 7 END AS bucket
                     FROM events, bounds)
      SELECT bucket, COUNT(*) AS n, MIN(value) AS vmin, MAX(value) AS vmax
      FROM assigned GROUP BY 1 ORDER BY 1"""
    })

  /** Token-budget allocation: per language keep the longest docs while
    * the running total stays within half the language's characters —
    * the mixing step that trims each domain to its corpus budget.
    * All-integer (2·cum ≤ total avoids division). The per-lang window
    * is the simple form; at corpus scale the same cum comes from
    * WeightedSample.withCumWeight run per partition-pruned lang slice. */
  private val q77 = Q(
    "q77_token_budget",
    (s, dir) => {
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("n_chars").desc, col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = Window.partitionBy(col("lang"))
      Tables.documents(s, dir)
        .select(col("lang"), col("doc_id"), col("n_chars"))
        .withColumn("cum", sum(col("n_chars")).over(w))
        .withColumn("total", sum(col("n_chars")).over(tot))
        .groupBy(col("lang"))
        .agg(sum(when(col("cum") * 2 <= col("total"), 1L).otherwise(0L))
            .as("kept_docs"),
          sum(when(col("cum") * 2 <= col("total"), col("n_chars"))
            .otherwise(0L)).as("kept_chars"),
          count(lit(1)).as("n_docs"))
        .orderBy(col("lang"))
    },
    """WITH w AS (SELECT lang, doc_id, n_chars,
        SUM(n_chars) OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        SUM(n_chars) OVER (PARTITION BY lang) AS total FROM documents)
      SELECT lang,
        CAST(SUM(CASE WHEN 2*cum <= total THEN 1 ELSE 0 END) AS BIGINT) AS kept_docs,
        CAST(SUM(CASE WHEN 2*cum <= total THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars,
        COUNT(*) AS n_docs
      FROM w GROUP BY lang ORDER BY lang""")

  /** Reciprocal nearest neighbors: pairs where EACH vector is in the
    * other's cosine top-5 — the high-precision semantic-dedup verdict
    * (one-way kNN flags hubs; mutual kNN doesn't). Bounded exact
    * kernel over a 120-vector slice (decimal dot products, id
    * tiebreaks — q20's determinism recipe); at corpus scale the same
    * reciprocity check runs on the IVF/LSH candidate lists. */
  private val q78 = Q(
    "q78_mutual_knn",
    (s, dir) => {
      val sub = Tables.embeddings(s, dir)
        .filter(col("vec_id") < 120)
        .select(col("vec_id").as("id"),
          Similarity.asDouble(col("embedding")).as("v"))
      // t feeds both sides of the reciprocity join — checkpoint the
      // 120×5-row list so the top-k pipeline runs once, not twice
      val t = Similarity.cosineTopKFast(sub, sub, 5)
        .select(col("q_id"), col("vec_id"), col("rnk").cast("long").as("rnk"))
        .localCheckpoint()
      val ta = t.select(col("q_id").as("id_a"), col("vec_id").as("id_b"),
        col("rnk").as("rnk_ab"))
      val tb = t.select(col("q_id").as("bq"), col("vec_id").as("bv"),
        col("rnk").as("rnk_ba"))
      ta.join(tb, col("id_a") === col("bv") && col("id_b") === col("bq")
          && col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), col("rnk_ab"), col("rnk_ba"))
        .orderBy(col("id_a"), col("id_b"))
    },
    """WITH ev AS (
        SELECT vec_id, i, CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS a
        FROM embeddings, UNNEST(range(1, len(embedding)+1)) AS t(i)
        WHERE vec_id < 120),
      norms AS (SELECT vec_id,
          SQRT(CAST(SUM(CAST(a*a AS DECIMAL(18,16))) AS DOUBLE)) AS nrm
        FROM ev GROUP BY 1),
      dots AS (SELECT q.vec_id AS q_id, e.vec_id AS vec_id,
          CAST(SUM(CAST(q.a*e.a AS DECIMAL(18,16))) AS DOUBLE) AS dot
        FROM ev q JOIN ev e ON q.i = e.i AND e.vec_id <> q.vec_id
        GROUP BY 1, 2),
      cos AS (SELECT q_id, dots.vec_id, dot / (nq.nrm * ne.nrm) AS cosim
        FROM dots JOIN norms nq ON q_id = nq.vec_id
        JOIN norms ne ON dots.vec_id = ne.vec_id),
      t AS (SELECT q_id, vec_id, rnk FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
          ORDER BY cosim DESC, vec_id) AS rnk
        FROM cos) r WHERE rnk <= 5)
      SELECT a.q_id AS id_a, a.vec_id AS id_b,
        a.rnk AS rnk_ab, b.rnk AS rnk_ba
      FROM t a JOIN t b ON a.q_id = b.vec_id AND a.vec_id = b.q_id
        AND a.q_id < a.vec_id
      ORDER BY id_a, id_b""")

  /** Multi-probe sign-LSH audit (operators/Similarity
    * .multiProbeCandidates): per query, candidate-set size and how
    * many of the exact top-5 the probes recover. Probing the bucket
    * plus all Hamming-1 flips explodes the QUERY side only; candidate
    * generation stays an equi-join on bucket id. The oracle replays
    * the same probes with xor and the q20 decimal kernel for truth. */
  private val q79 = Q(
    "q79_multiprobe_lsh",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"),
          Similarity.asDouble(col("embedding")).as("v"))
      val qrs = e.filter(col("id") < 8)
      val cand = Similarity.multiProbeCandidates(e, qrs, bits = 8)
      val top5 = Similarity.cosineTopK(e, qrs, 5)
        .select(col("q_id"), col("vec_id"))
      val nCand = cand.groupBy(col("q_id")).agg(count(lit(1)).as("n_cand"))
      val hits = cand.join(top5, Seq("q_id", "vec_id"), "left_semi")
        .groupBy(col("q_id")).agg(count(lit(1)).as("hits"))
      qrs.select(col("id").as("q_id"))
        .join(nCand, Seq("q_id"), "left")
        .join(hits, Seq("q_id"), "left")
        .select(col("q_id"),
          coalesce(col("n_cand"), lit(0L)).as("n_cand"),
          coalesce(col("hits"), lit(0L)).as("hits"))
        .orderBy(col("q_id"))
    },
    {
      val bitsExpr = (1 to 8)
        .map(i => s"(CASE WHEN embedding[$i] >= 0 THEN ${1L << (i - 1)} ELSE 0 END)")
        .mkString(" + ")
      val flips = (0 +: (0 until 8).map(1 << _)).map(f => s"($f)").mkString(",")
      s"""WITH b AS (SELECT vec_id, $bitsExpr AS bucket FROM embeddings),
        q AS (SELECT vec_id AS q_id, bucket AS qb FROM b WHERE vec_id < 8),
        probes AS (SELECT q_id, xor(qb, flip) AS pb
                   FROM q, (VALUES $flips) f(flip)),
        cand AS (SELECT q_id, b.vec_id FROM probes JOIN b ON b.bucket = pb
                 WHERE b.vec_id <> q_id),
        ev AS (SELECT vec_id, i, CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS a
               FROM embeddings, UNNEST(range(1, len(embedding)+1)) AS t(i)),
        norms AS (SELECT vec_id,
            SQRT(CAST(SUM(CAST(a*a AS DECIMAL(18,16))) AS DOUBLE)) AS nrm
          FROM ev GROUP BY 1),
        qv AS (SELECT * FROM ev WHERE vec_id < 8),
        dots AS (SELECT qv.vec_id AS q_id, e.vec_id AS vec_id,
            CAST(SUM(CAST(qv.a*e.a AS DECIMAL(18,16))) AS DOUBLE) AS dot
          FROM qv JOIN ev e ON qv.i = e.i AND e.vec_id <> qv.vec_id
          GROUP BY 1, 2),
        cos AS (SELECT q_id, dots.vec_id, dot / (nq.nrm * ne.nrm) AS cosim
          FROM dots JOIN norms nq ON q_id = nq.vec_id
          JOIN norms ne ON dots.vec_id = ne.vec_id),
        top5 AS (SELECT q_id, vec_id FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
            ORDER BY cosim DESC, vec_id) AS rnk
          FROM cos) r WHERE rnk <= 5),
        agg AS (SELECT q_id, COUNT(*) AS n_cand FROM cand GROUP BY 1),
        hits AS (SELECT c.q_id, COUNT(*) AS hits FROM cand c
                 JOIN top5 t ON c.q_id = t.q_id AND c.vec_id = t.vec_id
                 GROUP BY 1)
      SELECT q.q_id, COALESCE(a.n_cand, 0) AS n_cand,
        COALESCE(h.hits, 0) AS hits
      FROM q LEFT JOIN agg a USING (q_id) LEFT JOIN hits h USING (q_id)
      ORDER BY q_id"""
    })

  /** Blocked record linkage (operators/RecordLinkage.scala): customer
    * vs a deterministically perturbed CRM snapshot (every 5th record's
    * segment flipped, every 3rd's balance bucket shifted), blocked on
    * nation, scored 4·name + 2·segment + 1·balance-bucket agreement.
    * The score histogram separates true matches (score ≥ 4: the name
    * agrees) from same-block noise (0–3) — integer weights keep it
    * hash-exact. */
  private val q80 = Q(
    "q80_record_linkage",
    (s, dir) => {
      val cust = Tables.customer(s, dir)
      val clean = cust.select(col("c_custkey"), col("c_nationkey"),
        col("c_name"), col("c_mktsegment"),
        floor(col("c_acctbal") / 100).cast("long").as("bb"))
      val dirty = cust.select(
        (col("c_custkey") + 100000).as("snap_key"), col("c_nationkey"),
        col("c_name"),
        when(col("c_custkey") % 5 === 0, "FLIPPED")
          .otherwise(col("c_mktsegment")).as("c_mktsegment"),
        (floor(col("c_acctbal") / 100).cast("long") +
          when(col("c_custkey") % 3 === 0, 1L).otherwise(0L)).as("bb"))
      RecordLinkage.scorePairs(clean, dirty, "c_custkey", "snap_key",
          col("c_nationkey"), col("c_nationkey"),
          Seq(RecordLinkage.eq("name", 4), RecordLinkage.eq("seg", 2),
            RecordLinkage.eq("bal", 1)),
          Map("name" -> (col("c_name"), col("c_name")),
            "seg" -> (col("c_mktsegment"), col("c_mktsegment")),
            "bal" -> (col("bb"), col("bb"))))
        .groupBy(col("score")).agg(count(lit(1)).as("n"))
        .orderBy(col("score"))
    },
    """WITH l AS (
        SELECT c_custkey AS id_l, c_nationkey AS blk, c_name AS nm,
          c_mktsegment AS seg, CAST(FLOOR(c_acctbal / 100) AS BIGINT) AS bb
        FROM customer),
      r AS (
        SELECT c_custkey + 100000 AS id_r, c_nationkey AS blk, c_name AS nm,
          CASE WHEN c_custkey % 5 = 0 THEN 'FLIPPED' ELSE c_mktsegment END AS seg,
          CAST(FLOOR(c_acctbal / 100) AS BIGINT)
            + CASE WHEN c_custkey % 3 = 0 THEN 1 ELSE 0 END AS bb
        FROM customer),
      p AS (
        SELECT id_l, id_r,
          (CASE WHEN l.nm = r.nm THEN 4 ELSE 0 END
           + CASE WHEN l.seg = r.seg THEN 2 ELSE 0 END
           + CASE WHEN l.bb = r.bb THEN 1 ELSE 0 END) AS score
        FROM l JOIN r USING (blk))
      SELECT CAST(score AS BIGINT) AS score, COUNT(*) AS n
      FROM p GROUP BY 1 ORDER BY score""")

  /** Same-day event-type co-occurrence (market-basket support counts
    * at day granularity): distinct (user, day, type) then a within-
    * user-day self-join — the pair table that feeds association rules.
    * The distinct runs BEFORE the self-join, so fan-out is bounded by
    * types-per-user-day (≤5), not raw event counts. */
  private val q81 = Q(
    "q81_cooccurrence",
    (s, dir) => {
      // integer epoch-day, not to_date: immune to session timezone
      val d = Tables.events(s, dir)
        .select(col("user_id"),
          floor(unix_millis(col("ts")) / 86400000L).cast("long").as("day"),
          col("event_type"))
        .distinct()
      val a = d.select(col("user_id"), col("day"), col("event_type").as("ta"))
      val b = d.select(col("user_id").as("u2"), col("day").as("d2"),
        col("event_type").as("tb"))
      a.join(b, col("user_id") === col("u2") && col("day") === col("d2")
          && col("ta") < col("tb"))
        .groupBy(col("ta"), col("tb")).agg(count(lit(1)).as("n"))
        .orderBy(col("ta"), col("tb"))
    },
    """WITH d AS (
        SELECT DISTINCT user_id,
          CAST(FLOOR(epoch_ms(ts) / 86400000) AS BIGINT) AS day, event_type
        FROM events)
      SELECT a.event_type AS ta, b.event_type AS tb, COUNT(*) AS n
      FROM d a JOIN d b ON a.user_id = b.user_id AND a.day = b.day
        AND a.event_type < b.event_type
      GROUP BY 1, 2 ORDER BY 1, 2""")

  /** Multi-source BFS distances (operators/Bfs.scala) over the q72
    * interaction graph from seeds {0,1,2}, 4 relaxation rounds —
    * integer hop counts are partitioning- and engine-exact; the
    * oracle unrolls the same rounds (LEAST + COALESCE(min+1)). */
  private val q83 = Q(
    "q83_bfs_distance",
    (s, dir) => {
      val e = Tables.events(s, dir)
        .select((col("user_id") % 50).as("src"),
          ((col("user_id") + col("event_id")) % 50).as("dst"))
      Bfs.distances(e, "src", "dst", Seq(0L, 1L, 2L), rounds = 4)
        .select(col("n").as("node"), col("d").as("dist"))
        .orderBy(col("node"))
    },
    {
      val rounds = (1 to 4).map { k =>
        val p = k - 1
        s"""u$k AS (SELECT e.dst AS n, MIN(d$p.d + 1) AS nd
             FROM e JOIN d$p ON d$p.n = e.src GROUP BY 1),
           d$k AS (SELECT d$p.n, LEAST(d$p.d, COALESCE(u$k.nd, 9999)) AS d
             FROM d$p LEFT JOIN u$k USING (n))"""
      }.mkString(",\n      ")
      s"""WITH e AS (
        SELECT DISTINCT user_id % 50 AS src, (user_id + event_id) % 50 AS dst
        FROM events WHERE user_id % 50 <> (user_id + event_id) % 50),
      nodes AS (SELECT DISTINCT n FROM
        (SELECT src AS n FROM e UNION ALL SELECT dst FROM e)),
      d0 AS (SELECT n, CASE WHEN n IN (0, 1, 2) THEN 0 ELSE 9999 END AS d
             FROM nodes),
      $rounds
      SELECT n AS node, CAST(d AS BIGINT) AS dist FROM d4 ORDER BY node"""
    })

  /** Linear-counting NDV sketch census (operators/NdvSketch.scala):
    * per event type, the OR-mergeable bitmap's occupied-bit count over
    * md5-derived positions. The position expression is plain column
    * arithmetic, so the oracle derives IDENTICAL positions and
    * COUNT(DISTINCT position) equals the popcount exactly — collisions
    * included; the float log-estimate stays out of the output
    * (NdvSketchSpec pins its accuracy). */
  private val q84 = Q(
    "q84_ndv_sketch",
    (s, dir) => {
      Tables.events(s, dir)
        // NULL props would decode to a phantom position 0 in the
        // Aggregator while COUNT(DISTINCT) ignores them — filter to
        // keep the popcount == oracle identity (NdvSketch scaladoc)
        .where(col("props").isNotNull)
        .select(col("event_type"),
          NdvSketch.position(col("props"), log2m = 12).as("pos"))
        .groupBy(col("event_type"))
        .agg(NdvSketch.sketch(col("pos"), 12).as("sk"))
        .select(col("event_type"),
          expr("aggregate(transform(sk, x -> bit_count(x)), 0, (a, b) -> a + b)")
            .cast("long").as("occupied"))
        .orderBy(col("event_type"))
    },
    """SELECT event_type,
        COUNT(DISTINCT
          CAST(('0x' || substr(md5(CAST(props AS VARCHAR)), 1, 8)) AS BIGINT)
            & 4095) AS occupied
      FROM events WHERE props IS NOT NULL
      GROUP BY event_type ORDER BY event_type""")

  /** SCD2 point-in-time resolution (operators/Scd2.scala): signup
    * events are the dimension's change stream (validity intervals via
    * lead), purchases are the facts — each resolves to the profile
    * version valid AT PURCHASE TIME, never a later one (the
    * time-travel-correctness property that a naive latest-value join
    * violates). 1791 of 1981 purchases resolve at sf0.01; the 190
    * preceding their user's first signup drop, per SCD2 contract. */
  private val q85 = Q(
    "q85_scd2_lookup",
    (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("event_id"),
          unix_millis(col("ts")).as("ms"), col("value"))
      val v = Scd2.versions(ev.filter(col("event_type") === "signup"),
        "user_id", "ms", "event_id", Seq("value"))
      val facts = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ms").as("fms"))
      Scd2.lookup(facts, v, "user_id", col("fms"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_matched"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("attr_sum"))
        .orderBy(col("user_id"))
    },
    """WITH upd AS (
        SELECT user_id, epoch_ms(ts) AS ms, event_id, value FROM events
        WHERE event_type = 'signup'),
      v AS (
        SELECT user_id, value, ms AS vfrom,
          LEAD(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS vto
        FROM upd),
      f AS (SELECT user_id, epoch_ms(ts) AS ms FROM events
            WHERE event_type = 'purchase'),
      j AS (SELECT f.user_id, v.value
            FROM f JOIN v ON f.user_id = v.user_id
              AND f.ms >= v.vfrom AND (v.vto IS NULL OR f.ms < v.vto))
      SELECT user_id, COUNT(*) AS n_matched,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS attr_sum
      FROM j GROUP BY user_id ORDER BY user_id""")

  /** EXACT duplicated-substring spans (operators/ExactSubstring.scala):
    * maximal per-doc character ranges covered by a substring of length
    * ≥ 20 occurring ≥ 2 times ANYWHERE in the corpus (within-doc
    * repeats count) — q75's gram screen hardened to text-confirmed
    * exactness and emitting the spans themselves; q75 stays the cheap
    * per-language coverage diagnostic. */
  private val q86 = Q(
    "q86_exact_dup_spans",
    (s, dir) =>
      graft.operators.ExactSubstring
        .dupSpansFromGrams(SharedGrams.grams(s, dir),
          Tables.documents(s, dir), "doc_id", "text", minLen = 20)
        .orderBy(col("doc_id"), col("span_start")),
    """WITH g AS (
        SELECT doc_id, CAST(i AS INT) AS pos,
          substr(text, CAST(i AS INT), 20) AS gram
        FROM documents, LATERAL (SELECT UNNEST(range(1, len(text) - 18)) AS i) t
        WHERE len(text) >= 20),
      dup AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2),
      p AS (SELECT doc_id, pos FROM g WHERE gram IN (SELECT gram FROM dup)),
      brk AS (
        SELECT doc_id, pos,
          CASE WHEN LAG(pos) OVER w IS NULL OR pos > LAG(pos) OVER w + 20
               THEN 1 ELSE 0 END AS b
        FROM p WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
      isl AS (
        SELECT doc_id, pos,
          SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
            ROWS UNBOUNDED PRECEDING) AS island
        FROM brk)
      SELECT doc_id, MIN(pos) AS span_start,
        CAST(MAX(pos) + 20 - MIN(pos) AS BIGINT) AS span_len
      FROM isl GROUP BY doc_id, island
      ORDER BY doc_id, span_start""")

  /** DUPLICATED-SPAN REMOVAL (ExactSubstring.removeSpans ∘ dupSpans):
    * the cleaned-corpus rewrite — q86's maximal duplicated spans
    * spliced OUT of every affected document (the
    * remove-every-occurrence boilerplate mode; span policy is the
    * caller's selection). Output hash-pins the actual spliced STRING
    * cross-engine (md5 of clean text), not just the census numbers —
    * both engines rebuild the text as ordered gap concatenation.
    * Splice work is per-row after one doc-keyed span aggregation. */
  private val q164 = Q(
    "q164_span_removal",
    (s, dir) => {
      val spans = graft.operators.ExactSubstring
        .dupSpansFromGrams(SharedGrams.grams(s, dir),
          Tables.documents(s, dir), "doc_id", "text", minLen = 20)
      graft.operators.ExactSubstring
        .removeSpans(Tables.documents(s, dir), spans, "doc_id", "text")
        .select(col("doc_id"), md5(col("clean_text")).as("clean_md5"),
          length(col("clean_text")).cast("long").as("clean_len"),
          col("removed_chars"), col("n_spans"))
        .orderBy(col("doc_id"))
    },
    """WITH g AS (
        SELECT doc_id, CAST(i AS INT) AS pos,
          substr(text, CAST(i AS INT), 20) AS gram
        FROM documents, LATERAL (SELECT UNNEST(range(1, len(text) - 18)) AS i) t
        WHERE len(text) >= 20),
      dup AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2),
      p AS (SELECT doc_id, pos FROM g WHERE gram IN (SELECT gram FROM dup)),
      brk AS (
        SELECT doc_id, pos,
          CASE WHEN LAG(pos) OVER w IS NULL OR pos > LAG(pos) OVER w + 20
               THEN 1 ELSE 0 END AS b
        FROM p WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
      isl AS (
        SELECT doc_id, pos,
          SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
            ROWS UNBOUNDED PRECEDING) AS island
        FROM brk),
      sp AS (
        SELECT doc_id, MIN(pos) AS span_start,
          MAX(pos) + 20 - MIN(pos) AS span_len
        FROM isl GROUP BY doc_id, island),
      sp2 AS (
        SELECT doc_id, span_start, span_len,
          COALESCE(LAG(span_start + span_len) OVER (
            PARTITION BY doc_id ORDER BY span_start), 1) AS gs
        FROM sp),
      heads AS (
        SELECT s.doc_id,
          COALESCE(string_agg(
            substr(d.text, CAST(s.gs AS INT),
              CAST(greatest(0, s.span_start - s.gs) AS INT)),
            '' ORDER BY s.span_start), '') AS head,
          MAX(s.span_start + s.span_len) AS tail_from,
          CAST(SUM(s.span_len) AS BIGINT) AS removed_chars,
          CAST(COUNT(*) AS BIGINT) AS n_spans
        FROM sp2 s JOIN documents d USING (doc_id)
        GROUP BY s.doc_id)
      SELECT h.doc_id,
        md5(h.head || substr(d.text, CAST(h.tail_from AS INT), 1000000000))
          AS clean_md5,
        CAST(length(h.head ||
          substr(d.text, CAST(h.tail_from AS INT), 1000000000)) AS BIGINT)
          AS clean_len,
        h.removed_chars, h.n_spans
      FROM heads h JOIN documents d USING (doc_id)
      ORDER BY h.doc_id""")

  /** Distributed suffix-array ranks (operators/SuffixArray.scala):
    * prefix-doubling dense ranks of every 32-bounded suffix, on a
    * deterministic 10% document slice (the slice scales WITH sf; the
    * full-corpus cost is ~log₂(32) range shuffles regardless). The
    * oracle spells the identical contract as one DENSE_RANK over the
    * sorted bounded suffixes; per-doc rank sums pin every rank without
    * shipping a row per position through the harness. */
  private val q87 = Q(
    "q87_suffix_ranks",
    (s, dir) => {
      val docs = Tables.documents(s, dir).filter(col("doc_id") % 10 === 0)
      // startLen == maxLen collapses the doubling ladder to ONE ranking
      // round (a string range sort of the 32-bounded prefix — exactly
      // the oracle's DENSE_RANK contract). The ladder pays off only when
      // maxLen outgrows what you'd ship as a sort key.
      graft.operators.SuffixArray
        .suffixRanks(docs, "doc_id", "text", maxLen = 32, startLen = 32)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_suffixes"),
          sum(col("rank")).as("rank_sum"),
          min(col("rank")).as("rank_min"),
          max(col("rank")).as("rank_max"))
        .orderBy(col("doc_id"))
    },
    """WITH p AS (
        SELECT doc_id, substr(text, CAST(i AS INT), 32) AS sfx
        FROM documents, LATERAL (SELECT UNNEST(range(1, len(text)+1)) AS i) t
        WHERE doc_id % 10 = 0),
      r AS (SELECT doc_id, DENSE_RANK() OVER (ORDER BY sfx) AS rk FROM p)
      SELECT doc_id, COUNT(*) AS n_suffixes,
        CAST(SUM(rk) AS BIGINT) AS rank_sum,
        CAST(MIN(rk) AS BIGINT) AS rank_min,
        CAST(MAX(rk) AS BIGINT) AS rank_max
      FROM r GROUP BY doc_id ORDER BY doc_id""")

  /** Constraint audit (operators/Validate.scala): null / domain /
    * range / regex checks fused into ONE scan + a per-key hash agg for
    * uniqueness — the pre-ingestion data-quality gate. The fixture
    * mixes passing and failing checks (the 'error' event type is
    * outside the declared set; value exceeds the declared range). */
  private val q88 = Q(
    "q88_validate",
    (s, dir) =>
      graft.operators.Validate.audit(Tables.events(s, dir), Seq(
        graft.operators.Validate.NotNull("user_id"),
        graft.operators.Validate.InSet("event_type",
          Seq("view", "click", "purchase", "signup")),
        graft.operators.Validate.InRange("value", 0.0, 100.0),
        graft.operators.Validate.Matches("props", "^\\{"),
        graft.operators.Validate.Unique(Seq("event_id"))))
        .orderBy(col("check_name")),
    """SELECT 'not_null(user_id)' AS check_name,
        CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS violations,
        COUNT(*) AS n_rows FROM events
      UNION ALL
      SELECT 'in_set(event_type)',
        CAST(SUM(CASE WHEN event_type IS NOT NULL
          AND event_type NOT IN ('view','click','purchase','signup')
          THEN 1 ELSE 0 END) AS BIGINT),
        COUNT(*) FROM events
      UNION ALL
      SELECT 'in_range(value)',
        CAST(SUM(CASE WHEN value IS NOT NULL
          AND (value < 0.0 OR value > 100.0)
          THEN 1 ELSE 0 END) AS BIGINT),
        COUNT(*) FROM events
      UNION ALL
      SELECT 'matches(props)',
        CAST(SUM(CASE WHEN props IS NOT NULL
          AND NOT regexp_matches(props, '^\{')
          THEN 1 ELSE 0 END) AS BIGINT),
        COUNT(*) FROM events
      UNION ALL
      SELECT 'unique(event_id)',
        CAST(COUNT(*) - (SELECT COUNT(*) FROM
          (SELECT DISTINCT event_id FROM events) d) AS BIGINT),
        COUNT(*) FROM events
      ORDER BY check_name""")

  /** Per-doc longest repeated substring (SuffixArray.longestRepeatPerDoc,
    * capped at 16): rank ties give the full bounded-suffix length,
    * adjacent distinct ranks resolve by LCP level descent. The oracle
    * leans on the SA property the operator itself uses — a suffix's
    * best match is one of its SA-order NEIGHBORS — so DuckDB sorts the
    * bounded suffixes and char-compares each with LAG/LEAD only, never
    * all pairs. Uses the DIRECT variant (one ranking round, char-level
    * neighbor LCP) — at maxLen=16 the bounded prefix is a fine sort
    * key; the doubling ladder stays the path for unbounded maxLen.
    * Runs on a 2% doc slice (the slice still scales with sf). */
  private val q89 = Q(
    "q89_longest_repeat",
    (s, dir) => {
      val docs = Tables.documents(s, dir).filter(col("doc_id") % 50 === 0)
      graft.operators.SuffixArray
        .longestRepeatPerDocDirect(docs, "doc_id", "text", maxLen = 16)
        .orderBy(col("doc_id"))
    },
    """WITH p AS (
        SELECT doc_id, CAST(i AS INT) AS pos,
          substr(text, CAST(i AS INT), 16) AS sfx
        FROM documents, LATERAL (SELECT UNNEST(range(1, len(text)+1)) AS i) t
        WHERE doc_id % 50 = 0),
      o AS (SELECT doc_id, sfx,
          LAG(sfx)  OVER (ORDER BY sfx, doc_id, pos) AS prv,
          LEAD(sfx) OVER (ORDER BY sfx, doc_id, pos) AS nxt
        FROM p),
      l AS (SELECT doc_id,
          GREATEST(
            COALESCE((SELECT MAX(L) FROM (SELECT UNNEST(range(1, 17)) AS L) u
              WHERE substr(sfx, 1, CAST(L AS INT)) = substr(prv, 1, CAST(L AS INT))
                AND L <= len(sfx)), 0),
            COALESCE((SELECT MAX(L) FROM (SELECT UNNEST(range(1, 17)) AS L) u
              WHERE substr(sfx, 1, CAST(L AS INT)) = substr(nxt, 1, CAST(L AS INT))
                AND L <= len(sfx)), 0)) AS rep
        FROM o)
      SELECT doc_id, CAST(MAX(rep) AS BIGINT) AS max_repeat_len
      FROM l GROUP BY doc_id ORDER BY doc_id""")

  /** Incremental SCD2 maintenance (Scd2.applyChanges): the dimension
    * is built from HALF the signup stream, then the other half is
    * folded in incrementally — and the oracle builds the whole thing
    * in one window pass, pinning the incremental-equals-batch
    * contract (only changed keys are ever re-windowed). */
  private val q90 = Q(
    "q90_scd2_apply_changes",
    (s, dir) => {
      val upd = Tables.events(s, dir)
        .filter(col("event_type") === "signup")
        .select(col("user_id"), col("value"),
          unix_millis(col("ts")).as("ms"), col("event_id"))
      val base = Scd2.versions(upd.filter(col("event_id") % 2 === 0),
        "user_id", "ms", "event_id", Seq("value"), keepTie = true)
      Scd2.applyChanges(base, upd.filter(col("event_id") % 2 === 1),
          "user_id", "ms", "event_id", Seq("value"))
        .select(col("user_id"), col("value"), col("vfrom"), col("vto"))
        .orderBy(col("user_id"), col("vfrom"), col("vto"))
    },
    """WITH upd AS (
        SELECT user_id, value, epoch_ms(ts) AS ms, event_id FROM events
        WHERE event_type = 'signup')
      SELECT user_id, value, ms AS vfrom,
        LEAD(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS vto
      FROM upd ORDER BY user_id, vfrom, vto""")

  /** END-TO-END semantic dedup: embedding near-dup pairs (q34's
    * bucketed double-prefilter/decimal-confirm operator) → connected
    * components (q40's contraction operator) → retention summary —
    * the embedding-space twin of q44's MinHash retention pipeline,
    * proving the two operators compose. Keep-one-per-cluster:
    * dropped = clustered − clusters. Oracle rebuilds the same pairs
    * in SQL and walks them with a recursive CTE. */
  private val q91 = Q(
    "q91_semantic_dedup",
    (s, dir) => {
      // component map shared per session+input (SharedCosineCC): the
      // CC loop's fixed round cost dwarfs this tiny graph, and the map
      // is a deterministic function of the embeddings table
      val comps = SharedCosineCC.components(s, dir)
      val totals = Tables.embeddings(s, dir)
        .agg(count(lit(1)).as("n_vectors"))
      comps.agg(
          count(lit(1)).as("n_clustered"),
          count_distinct(col("component")).as("n_clusters"))
        .withColumn("n_dropped", col("n_clustered") - col("n_clusters"))
        .crossJoin(broadcast(totals))
        .select(col("n_vectors"), col("n_clustered"), col("n_clusters"),
          col("n_dropped"))
    },
    s"""WITH RECURSIVE ${OracleSql.cosineNearPairs},
      ${OracleSql.componentWalk("pairs", matEdges = true)}
      SELECT (SELECT COUNT(*) FROM embeddings) AS n_vectors,
        COUNT(*) AS n_clustered,
        COUNT(DISTINCT component) AS n_clusters,
        COUNT(*) - COUNT(DISTINCT component) AS n_dropped
      FROM comp""")

  /** Product-quantization encode census (operators/ProductQuant):
    * stride-picked per-subspace codebook (m=4 subspaces of 16 dims),
    * exact-decimal argmin code per (vector, subspace), then the code
    * histogram per subspace — the compression-side oracle of the PQ
    * pair (q93 is the search side). The census is what an index build
    * reports: dead codes and skewed cells mean a bad codebook. */
  private val q92 = Q(
    "q92_pq_encode",
    (s, dir) =>
      // encoding shared with q93/q95 via SharedPq (one materialization
      // per session+input — the persisted-code-table shape)
      SharedPq.encoded(s, dir)
        .groupBy(col("j").cast("long").as("j"), col("code"))
        .agg(count(lit(1)).as("n"), min(col("id")).as("min_vec"))
        .orderBy(col("j"), col("code")),
    s"""WITH ${OracleSql.embeddingRows("x")},
      sub AS (
        SELECT vec_id, CAST((i-1)//16 AS BIGINT) AS j, (i-1)%16 AS si, x
        FROM ev),
      cents AS (
        SELECT CAST(vec_id // 29 AS BIGINT) AS code, vec_id AS cvid
        FROM embeddings WHERE vec_id % 29 = 0),
      cs AS (SELECT c.code, s.j, s.si, s.x
             FROM cents c JOIN sub s ON s.vec_id = c.cvid),
      d AS (SELECT s.vec_id, s.j, c.code,
              SUM(CAST((s.x-c.x)*(s.x-c.x) AS DECIMAL(18,16))) AS d2
            FROM sub s JOIN cs c ON c.j = s.j AND c.si = s.si
            GROUP BY 1, 2, 3),
      best AS (SELECT vec_id, j, code FROM (
          SELECT vec_id, j, code,
            ROW_NUMBER() OVER (PARTITION BY vec_id, j
                               ORDER BY d2 ASC, code ASC) AS rk
          FROM d) t
        WHERE rk = 1)
      SELECT j, code, COUNT(*) AS n, MIN(vec_id) AS min_vec
      FROM best GROUP BY 1, 2 ORDER BY j, code""")

  /** PQ asymmetric-distance (ADC) search: 4 query vectors against the
    * CODES, never the floats — per query a tiny m×ksub decimal
    * distance table, per candidate an exact decimal sum of m table
    * entries, top-3 with id tiebreak. Ranks only in the output (the
    * double cast of the decimal ADC rounds differently across engines
    * — same contract as q48). Completes the PQ oracle pair; composing
    * with q48's probed cells gives IVF-PQ, the standard
    * memory-resident 100 TB ANN index. */
  private val q93 = Q(
    "q93_pq_adc_search",
    (s, dir) => {
      val e = SharedIvf.vectors(s, dir)
      ProductQuant.adcSearchDecimal(SharedPq.encoded(s, dir),
          SharedPq.codebook(s, dir), e.filter(col("id") < 4),
          k = 3, m = 4, dsub = 16)
        .select(col("q_id"), col("vec_id"), col("rnk").cast("long").as("rnk"))
        .orderBy(col("q_id"), col("rnk"))
    },
    s"""WITH ${OracleSql.embeddingRows("x")},
      sub AS (
        SELECT vec_id, CAST((i-1)//16 AS BIGINT) AS j, (i-1)%16 AS si, x
        FROM ev),
      cents AS (
        SELECT CAST(vec_id // 29 AS BIGINT) AS code, vec_id AS cvid
        FROM embeddings WHERE vec_id % 29 = 0),
      cs AS (SELECT c.code, s.j, s.si, s.x
             FROM cents c JOIN sub s ON s.vec_id = c.cvid),
      d AS (SELECT s.vec_id, s.j, c.code,
              SUM(CAST((s.x-c.x)*(s.x-c.x) AS DECIMAL(18,16))) AS d2
            FROM sub s JOIN cs c ON c.j = s.j AND c.si = s.si
            GROUP BY 1, 2, 3),
      best AS (SELECT vec_id, j, code FROM (
          SELECT vec_id, j, code,
            ROW_NUMBER() OVER (PARTITION BY vec_id, j
                               ORDER BY d2 ASC, code ASC) AS rk
          FROM d) t
        WHERE rk = 1),
      dt AS (SELECT vec_id AS q_id, j, code, d2 FROM d WHERE vec_id < 4),
      adc AS (SELECT dt.q_id, b.vec_id, SUM(dt.d2) AS adcd
              FROM best b JOIN dt ON dt.j = b.j AND dt.code = b.code
              WHERE b.vec_id <> dt.q_id
              GROUP BY 1, 2),
      ranked AS (SELECT q_id, vec_id,
          ROW_NUMBER() OVER (PARTITION BY q_id
                             ORDER BY adcd ASC, vec_id ASC) AS rnk
        FROM adc)
      SELECT q_id, vec_id, rnk FROM ranked
      WHERE rnk <= 3 ORDER BY q_id, rnk""")

  /** IVF-PQ search — the COMPOSITION of the q47/q48 inverted file and
    * the q92/q93 code table, and the shape of the standard
    * memory-resident billion-vector index: probed cells pick the
    * candidates (equi-join on cid), ADC ranks them from codes alone.
    * Shares all three artifacts (assignment, codebook, encoding) with
    * their owning queries via SharedIvf/SharedPq. */
  private val q95 = Q(
    "q95_ivfpq_search",
    (s, dir) => {
      val e = SharedIvf.vectors(s, dir)
      ProductQuant.ivfPqSearchDecimal(
          SharedPq.encoded(s, dir), SharedIvf.assignment(s, dir),
          SharedIvf.centroids(s, dir), e.filter(col("id") < 4),
          SharedPq.codebook(s, dir), nprobe = 2, k = 3, m = 4, dsub = 16)
        .select(col("q_id"), col("vec_id"), col("rnk").cast("long").as("rnk"))
        .orderBy(col("q_id"), col("rnk"))
    },
    s"""WITH ${OracleSql.embeddingRows("x")},
      icents AS (
        SELECT CAST(vec_id // 97 AS BIGINT) AS cid, vec_id AS cvid
        FROM embeddings WHERE vec_id % 97 = 0),
      ice AS (SELECT c.cid, e.i, e.x
              FROM icents c JOIN ev e ON e.vec_id = c.cvid),
      xx AS (SELECT vec_id, SUM(CAST(x*x AS DECIMAL(18,16))) AS xx
             FROM ev GROUP BY 1),
      icc AS (SELECT cid, SUM(CAST(x*x AS DECIMAL(18,16))) AS cc
              FROM ice GROUP BY 1),
      ixc AS (SELECT e.vec_id, c.cid, SUM(CAST(e.x*c.x AS DECIMAL(18,16))) AS xc
              FROM ev e JOIN ice c ON e.i = c.i GROUP BY 1, 2),
      id2 AS (SELECT ixc.vec_id, ixc.cid, xx.xx + icc.cc - 2*ixc.xc AS d2
              FROM ixc JOIN xx ON xx.vec_id = ixc.vec_id
                      JOIN icc ON icc.cid = ixc.cid),
      assign AS (SELECT vec_id, cid FROM (
          SELECT vec_id, cid,
            ROW_NUMBER() OVER (PARTITION BY vec_id
                               ORDER BY d2 ASC, cid ASC) AS rk
          FROM id2) t
        WHERE rk = 1),
      probed AS (SELECT vec_id AS q_id, cid FROM (
          SELECT vec_id, cid,
            ROW_NUMBER() OVER (PARTITION BY vec_id
                               ORDER BY d2 ASC, cid ASC) AS rk
          FROM id2 WHERE vec_id < 4) t
        WHERE rk <= 2),
      cand AS (SELECT p.q_id, a.vec_id FROM probed p
               JOIN assign a ON a.cid = p.cid AND a.vec_id <> p.q_id),
      sub AS (
        SELECT vec_id, CAST((i-1)//16 AS BIGINT) AS j, (i-1)%16 AS si, x
        FROM ev),
      pcents AS (
        SELECT CAST(vec_id // 29 AS BIGINT) AS code, vec_id AS cvid
        FROM embeddings WHERE vec_id % 29 = 0),
      pcs AS (SELECT c.code, s.j, s.si, s.x
              FROM pcents c JOIN sub s ON s.vec_id = c.cvid),
      pd AS (SELECT s.vec_id, s.j, c.code,
               SUM(CAST((s.x-c.x)*(s.x-c.x) AS DECIMAL(18,16))) AS d2
             FROM sub s JOIN pcs c ON c.j = s.j AND c.si = s.si
             GROUP BY 1, 2, 3),
      best AS (SELECT vec_id, j, code FROM (
          SELECT vec_id, j, code,
            ROW_NUMBER() OVER (PARTITION BY vec_id, j
                               ORDER BY d2 ASC, code ASC) AS rk
          FROM pd) t
        WHERE rk = 1),
      dt AS (SELECT vec_id AS q_id, j, code, d2 FROM pd WHERE vec_id < 4),
      adc AS (SELECT c.q_id, c.vec_id, SUM(dt.d2) AS adcd
              FROM cand c
              JOIN best b ON b.vec_id = c.vec_id
              JOIN dt ON dt.q_id = c.q_id AND dt.j = b.j
                     AND dt.code = b.code
              GROUP BY 1, 2),
      ranked AS (SELECT q_id, vec_id,
          ROW_NUMBER() OVER (PARTITION BY q_id
                             ORDER BY adcd ASC, vec_id ASC) AS rnk
        FROM adc)
      SELECT q_id, vec_id, rnk FROM ranked
      WHERE rnk <= 3 ORDER BY q_id, rnk""")

  /** Temperature-weighted domain mixture (operators/MixtureSample):
    * rebalance the corpus by language with α = 0.5 — the multilingual
    * upsampling move — targeting half the corpus. All-integer rational
    * comparison (u·n·W < T·w·2³² — DECIMAL(38,0) here, HUGEINT in
    * DuckDB), so the kept SET is engine-exact, not just its size. */
  private val q94 = Q(
    "q94_domain_mixture",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val target = docs.count() / 2
      val kept = MixtureSample.temperatureSample(
        docs, "lang", "doc_id", target, alpha = 0.5, seed = "mix94")
      docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
        .join(kept.groupBy(col("lang")).agg(count(lit(1)).as("n_kept")),
          Seq("lang"), "left")
        .na.fill(0L, Seq("n_kept"))
        .orderBy(col("lang"))
    },
    """WITH stats AS (
        SELECT lang, COUNT(*) AS n,
          CAST(FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE)) * 1000000) AS BIGINT) AS w
        FROM documents GROUP BY 1),
      tot AS (SELECT CAST(SUM(w) AS BIGINT) AS tw,
                     CAST(SUM(n) AS BIGINT) AS tn FROM stats),
      kept AS (
        SELECT d.lang
        FROM documents d JOIN stats s ON s.lang = d.lang CROSS JOIN tot t
        WHERE CAST(CAST(('0x' || substr(md5('mix94:' || CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS HUGEINT)
                * s.n * t.tw
              < CAST(t.tn // 2 AS HUGEINT) * s.w * 4294967296)
      SELECT s.lang, s.n AS n_docs, COALESCE(k.n_kept, 0) AS n_kept
      FROM stats s
      LEFT JOIN (SELECT lang, COUNT(*) AS n_kept FROM kept GROUP BY 1) k
        ON k.lang = s.lang
      ORDER BY s.lang""")

  /** DuckDB mirror of `rounds` BPE training rounds: per round, pair
    * counts via a lateral UNNEST over the split symbol sequence, the
    * best pair by (cnt DESC, l, r), and the greedy left-to-right merge
    * as the SAME string fold [[graft.operators.BpeTrain.mergeOnce]]
    * computes, expressed with list_reduce (a '' sentinel seeds the
    * accumulator; ends_with(acc, ' ' || l) is exactly "last symbol ==
    * l" because symbols never contain spaces). */
  /** The greedy-merge fold as a DuckDB list_reduce lambda (see
    * [[bpeTrainCtes]]); `lExpr`/`rExpr` name the merge-pair columns in
    * scope at the interpolation site. */
  private def bpeFoldSql(listExpr: String, lExpr: String, rExpr: String) =
    s"""list_reduce(list_prepend('', $listExpr),
          (acc, x) -> CASE WHEN acc = '' THEN x
            WHEN (acc = $lExpr OR ends_with(acc, ' ' || $lExpr)) AND x = $rExpr
            THEN acc || x
            ELSE acc || ' ' || x END)"""

  /** CTE chain mirroring `rounds` BPE training rounds: word-frequency
    * table w, char-split s0, then per round k the pair counts p_k (a
    * lateral UNNEST over the split symbol sequence), the best pair b_k
    * by (cnt DESC, l, r), and the merged sequences s_k via the SAME
    * string fold [[graft.operators.BpeTrain.mergeOnce]] computes,
    * expressed with list_reduce (a '' sentinel seeds the accumulator;
    * ends_with(acc, ' ' || l) is exactly "last symbol == l" because
    * symbols never contain spaces). */
  private def bpeTrainCtes(rounds: Int): String = {
    val roundCtes = (1 to rounds).map { k =>
      s"""p$k AS (SELECT ss[CAST(i AS INT)] AS l, ss[CAST(i AS INT)+1] AS r,
          CAST(SUM(freq) AS BIGINT) AS cnt
        FROM (SELECT freq, string_split(seq, ' ') AS ss FROM s${k - 1}) u,
          UNNEST(range(1, len(ss))) AS t(i)
        GROUP BY 1, 2),
      b$k AS (SELECT l, r, cnt FROM p$k ORDER BY cnt DESC, l, r LIMIT 1),
      s$k AS (SELECT freq, ${bpeFoldSql("string_split(seq, ' ')", "b.l", "b.r")} AS seq
        FROM s${k - 1} CROSS JOIN b$k b)"""
    }.mkString(",\n      ")
    s"""w AS (SELECT tok AS word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
          SELECT unnest(string_split(text, ' ')) AS tok FROM documents) u
        WHERE len(tok) > 0 GROUP BY 1),
      s0 AS (SELECT freq, array_to_string(
          list_transform(range(1, len(word)+1),
            i -> substr(word, CAST(i AS INT), 1)), ' ') AS seq FROM w),
      $roundCtes"""
  }

  private def bpeOracleSql(rounds: Int): String = {
    val readout = (1 to rounds)
      .map(k => s"SELECT CAST($k AS BIGINT) AS rnd, l, r, cnt FROM b$k")
      .mkString(" UNION ALL ")
    s"""WITH ${bpeTrainCtes(rounds)}
      SELECT rnd, l, r, cnt FROM ($readout) ORDER BY rnd"""
  }

  /** Distributed BPE vocabulary training (operators/BpeTrain): 4
    * greedy merge rounds over the corpus word-frequency table — the
    * real subword learner behind token counting. Engine-exact: integer
    * pair counts, total tiebreak, and a string fold both engines
    * express identically, so the LEARNED MERGES themselves hash-match
    * (not just their count). */
  private val q97 = Q(
    "q97_bpe_train",
    (s, dir) => {
      // merge table shared with q99 via SharedBpe (one training run
      // per session+input — the persisted-vocabulary shape)
      val ms = SharedBpe.merges(s, dir, rounds = 4)
      import s.implicits._
      ms.toDF("rnd", "l", "r", "cnt")
        .select(col("rnd").cast("long").as("rnd"), col("l"), col("r"),
          col("cnt"))
        .orderBy(col("rnd"))
    },
    bpeOracleSql(4))

  /** Corpus encode under the q97-learned merges — real subword token
    * counts per document (the production replacement for the BPE-ish
    * regex count). Dictionary-encode scale shape: each DISTINCT word
    * is folded ONCE (vocab-sized work), and code lengths join back to
    * the occurrence stream — at 100 TB the fold cost is the
    * vocabulary's, not the corpus's. Oracle chains the same training
    * CTEs and applies the four learned folds to the word table. */
  private val q99 = Q(
    "q99_bpe_encode",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val words = BpeTrain.wordFreqs(docs, "text")
      val ms = SharedBpe.merges(s, dir, rounds = 4)
      val wl = words.select(col("word"),
        size(BpeTrain.applyMerges(col("word"), ms)).cast("long").as("n_sub"))
      docs.select(col("doc_id"),
          explode(filter(split(col("text"), " "),
            t => length(t) > 0)).as("word"))
        .join(wl, Seq("word"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"), sum(col("n_sub")).as("n_subwords"))
        .orderBy(col("doc_id"))
    },
    {
      val encodeCtes = (1 to 4).map { k =>
        s"""u$k AS (SELECT word, ${bpeFoldSql("string_split(seq, ' ')", "b.l", "b.r")} AS seq
          FROM u${k - 1} CROSS JOIN b$k b)"""
      }.mkString(",\n      ")
      s"""WITH ${bpeTrainCtes(4)},
      dwords AS (SELECT doc_id, tok FROM (
          SELECT doc_id, unnest(string_split(text, ' ')) AS tok
          FROM documents)
        WHERE len(tok) > 0),
      u0 AS (SELECT word, array_to_string(
          list_transform(range(1, len(word)+1),
            i -> substr(word, CAST(i AS INT), 1)), ' ') AS seq FROM w),
      $encodeCtes,
      wl AS (SELECT word,
          CAST(len(string_split(seq, ' ')) AS BIGINT) AS n_sub FROM u4)
      SELECT d.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
        CAST(SUM(wl.n_sub) AS BIGINT) AS n_subwords
      FROM dwords d JOIN wl ON wl.word = d.tok
      GROUP BY 1 ORDER BY doc_id"""
    })

  /** EMBEDDING NORM HYGIENE CENSUS — the vector-table health check a
    * similarity pipeline runs BEFORE trusting cosine anywhere: per
    * label, the count of exactly-zero vectors (cosine undefined),
    * low-norm vectors (‖x‖ < 0.1 — noise-dominated neighbors), and
    * the squared-norm extremes. Norms are exact BIGINTs over the
    * q126 fixed-point quantization (⌊x·10⁶⌋, the engine-portable
    * float recipe), so the census hash-matches; the per-vector fold
    * is a map-only array aggregate — nothing but the label census
    * shuffles at any corpus size. */
  private val q178 = Q(
    "q178_embedding_hygiene",
    (s, dir) => {
      val vfp = transform(col("embedding"),
        x => floor(x * lit(1e6)).cast("long"))
      val sqn = aggregate(vfp, lit(0L), (a, x) => a + x * x)
      Tables.embeddings(s, dir)
        .select(col("label").cast("long").as("label"), sqn.as("sqn"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(when(col("sqn") === 0L, 1L).otherwise(0L)).as("n_zero"),
          sum(when(col("sqn") < 10000000000L, 1L).otherwise(0L))
            .as("n_low_norm"),
          min(col("sqn")).as("min_sqn"), max(col("sqn")).as("max_sqn"))
        .orderBy(col("label"))
    },
    """WITH xq AS (
        SELECT vec_id, CAST(label AS BIGINT) AS label,
          CAST(FLOOR(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 1000000)
            AS BIGINT) AS xfp
        FROM embeddings, UNNEST(range(1, len(embedding)+1)) AS t(i)),
      sq AS (SELECT vec_id, label,
          CAST(SUM(xfp * xfp) AS BIGINT) AS sqn
        FROM xq GROUP BY 1, 2)
      SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
        CAST(SUM(CASE WHEN sqn = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
        CAST(SUM(CASE WHEN sqn < 10000000000 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_low_norm,
        CAST(MIN(sqn) AS BIGINT) AS min_sqn,
        CAST(MAX(sqn) AS BIGINT) AS max_sqn
      FROM sq GROUP BY 1 ORDER BY label""")

  /** DEAD-DIMENSION CENSUS — q178's per-dimension companion: for each
    * embedding dimension, the zero count, distinct-value count, and
    * value extremes over the fixed-point grid. A dimension with
    * n_distinct = 1 carries no information (dead projection head /
    * all-zero feature); one with a tiny spread quantifies how much of
    * the space the corpus actually uses. Output is |dims| rows at any
    * corpus size; the only shuffles are dim-keyed (≤ |dims|·|grid
    * values| keys for the distinct). */
  private val q179 = Q(
    "q179_dead_dims",
    (s, dir) => Tables.embeddings(s, dir)
      .select(posexplode(transform(col("embedding"),
        x => floor(x * lit(1e6)).cast("long"))).as(Seq("j0", "xfp")))
      .groupBy(col("j0").cast("long").as("j"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("xfp") === 0L, 1L).otherwise(0L)).as("n_zero"),
        countDistinct(col("xfp")).as("n_distinct"),
        min(col("xfp")).as("min_fp"), max(col("xfp")).as("max_fp"))
      .orderBy(col("j")),
    """WITH xq AS (
        SELECT CAST(i - 1 AS BIGINT) AS j,
          CAST(FLOOR(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 1000000)
            AS BIGINT) AS xfp
        FROM embeddings, UNNEST(range(1, len(embedding)+1)) AS t(i))
      SELECT j, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CASE WHEN xfp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
        CAST(COUNT(DISTINCT xfp) AS BIGINT) AS n_distinct,
        CAST(MIN(xfp) AS BIGINT) AS min_fp,
        CAST(MAX(xfp) AS BIGINT) AS max_fp
      FROM xq GROUP BY 1 ORDER BY j""")

  /** HILBERT-CURVE LAYOUT KEY (ZOrder.withHilbert) — q70's Morton key
    * upgraded to the curve with the adjacency GUARANTEE: consecutive
    * Hilbert keys are always grid-adjacent (ZOrderSpec proves it
    * exhaustively on the 16×16 grid and measures per-file bounding
    * boxes beating Z-order), so a range-partitioned file covers one
    * CONNECTED (x, y) region — tighter two-column min/max skipping.
    * The key is `bits` chained all-integer column rewrites (named
    * columns, not one 4^bits expression tree); the oracle replays the
    * identical per-level CASE chain via [[ZOrder.hilbertSql]], so the
    * two engines are generated from one level table and cannot
    * drift. Census: 32 key-range buckets over (user, hour) cells. */
  private val q180 = Q(
    "q180_hilbert_layout",
    (s, dir) => {
      val src = Tables.events(s, dir).selectExpr(
        "pmod(user_id, 256) AS gx",
        "pmod(unix_millis(ts) div 3600000, 256) AS gy")
      ZOrder.withHilbert(src, "gx", "gy", bits = 8, outCol = "hd")
        .groupBy(expr("hd div 2048").as("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("hd")).as("min_hd"), max(col("hd")).as("max_hd"))
        .orderBy(col("bucket"))
    },
    s"""WITH src AS (SELECT
        user_id % 256 AS hx,
        (epoch_ms(ts) // 3600000) % 256 AS hy
      FROM events),
      ${ZOrder.hilbertSql("src", 8, Seq.empty)}
      SELECT hd // 2048 AS bucket, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(MIN(hd) AS BIGINT) AS min_hd,
        CAST(MAX(hd) AS BIGINT) AS max_hd
      FROM hilbert GROUP BY 1 ORDER BY bucket""")

  /** TOKENIZER FERTILITY BY LANGUAGE (the XLM-R / mC4 tokenizer-equity
    * metric: subwords per word, and its inverse chars per subword, per
    * language under ONE shared vocabulary): the q97-learned BPE merges
    * encode the whole corpus (q99's dictionary-encode shape) and the
    * census reads off which languages pay more subwords for the same
    * text — the readout that decides whether a shared vocab is fair
    * before multilingual training, and the denominator correction for
    * token-budget planning (q207's mixture weights count WORDS; a
    * high-fertility language consumes proportionally more SUBWORD
    * budget). All-integer: exact char/word/subword sums, ppm ratios.
    *
    * Scale shape: identical to q99 — each DISTINCT word is folded once
    * (vocabulary-sized work), code lengths join back to the occurrence
    * stream on the word key, and only the |langs|-row census leaves
    * the agg. Oracle chains the same training CTEs. */
  private val q206 = Q(
    "q206_token_fertility",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val words = BpeTrain.wordFreqs(docs, "text")
      val ms = SharedBpe.merges(s, dir, rounds = 4)
      val wl = words.select(col("word"),
        size(BpeTrain.applyMerges(col("word"), ms)).cast("long")
          .as("n_sub"),
        length(col("word")).cast("long").as("n_chr"))
      docs.select(col("lang"),
          explode(filter(split(col("text"), " "),
            t => length(t) > 0)).as("word"))
        .join(wl, Seq("word"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_words"),
          sum(col("n_sub")).as("n_subwords"),
          sum(col("n_chr")).as("n_chars"))
        .select(col("lang"), col("n_words"), col("n_subwords"),
          col("n_chars"),
          expr("n_subwords * 1000000 div n_words")
            .as("fertility_ppm"),
          expr("n_chars * 1000000 div n_subwords")
            .as("chars_per_tok_ppm"))
        .orderBy(col("lang"))
    },
    {
      val encodeCtes = (1 to 4).map { k =>
        s"""u$k AS (SELECT word, ${bpeFoldSql("string_split(seq, ' ')", "b.l", "b.r")} AS seq
          FROM u${k - 1} CROSS JOIN b$k b)"""
      }.mkString(",\n      ")
      s"""WITH ${bpeTrainCtes(4)},
      dwords AS (SELECT lang, tok FROM (
          SELECT lang, unnest(string_split(text, ' ')) AS tok
          FROM documents)
        WHERE len(tok) > 0),
      u0 AS (SELECT word, array_to_string(
          list_transform(range(1, len(word)+1),
            i -> substr(word, CAST(i AS INT), 1)), ' ') AS seq FROM w),
      $encodeCtes,
      wl AS (SELECT word,
          CAST(len(string_split(seq, ' ')) AS BIGINT) AS n_sub,
          CAST(len(word) AS BIGINT) AS n_chr FROM u4)
      SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_words,
        CAST(SUM(wl.n_sub) AS BIGINT) AS n_subwords,
        CAST(SUM(wl.n_chr) AS BIGINT) AS n_chars,
        CAST(SUM(wl.n_sub) AS BIGINT) * 1000000 //
          CAST(COUNT(*) AS BIGINT) AS fertility_ppm,
        CAST(SUM(wl.n_chr) AS BIGINT) * 1000000 //
          CAST(SUM(wl.n_sub) AS BIGINT) AS chars_per_tok_ppm
      FROM dwords d JOIN wl ON wl.word = d.tok
      GROUP BY 1 ORDER BY lang"""
    })

  /** SUBWORD-BUDGET-CORRECTED MIXTURE — q207's α=0.5 temperature
    * weights recomputed over SUBWORD mass instead of word mass, next
    * to the word-based weights and the signed correction: q206 showed
    * fertility differs by language under the shared q97 vocab, so a
    * token BUDGET allocated on word counts over- or under-feeds
    * languages in proportion to their fertility — this census is the
    * number a mixture planner actually applies (subword mass is what
    * the training loop consumes). Same engine-exact recipe as q207:
    * one sqrt per LANGUAGE on the ⌊x·10⁶⌋ grid, every share and delta
    * in integer ppm.
    *
    * Scale shape: q206's dictionary-encode aggregation (distinct
    * words folded once, code lengths joined back on the word key)
    * collapsed to a |langs|-row census; two bounded broadcast
    * scalars. */
  private val q214 = Q(
    "q214_subword_mixture",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val words = BpeTrain.wordFreqs(docs, "text")
      val ms = SharedBpe.merges(s, dir, rounds = 4)
      val wl = words.select(col("word"),
        size(BpeTrain.applyMerges(col("word"), ms)).cast("long")
          .as("n_sub"))
      val lt = docs.select(col("lang"),
          explode(filter(split(col("text"), " "),
            t => length(t) > 0)).as("word"))
        .join(wl, Seq("word"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_words"), sum(col("n_sub")).as("n_subwords"))
        .select(col("lang"), col("n_words"), col("n_subwords"),
          floor(sqrt(col("n_words").cast("double")) * 1e6)
            .cast("long").as("sw"),
          floor(sqrt(col("n_subwords").cast("double")) * 1e6)
            .cast("long").as("ss"))
      val tot = lt.agg(sum(col("sw")).as("tw"), sum(col("ss")).as("ts"))
      lt.crossJoin(broadcast(tot))
        .select(col("lang"), col("n_words"), col("n_subwords"),
          expr("sw * 1000000 div tw").as("w_word_ppm"),
          expr("ss * 1000000 div ts").as("w_subword_ppm"),
          expr("ss * 1000000 div ts - sw * 1000000 div tw")
            .as("correction_ppm"))
        .orderBy(col("lang"))
    },
    {
      val encodeCtes = (1 to 4).map { k =>
        s"""u$k AS (SELECT word, ${bpeFoldSql("string_split(seq, ' ')", "b.l", "b.r")} AS seq
          FROM u${k - 1} CROSS JOIN b$k b)"""
      }.mkString(",\n      ")
      s"""WITH ${bpeTrainCtes(4)},
      dwords AS (SELECT lang, tok FROM (
          SELECT lang, unnest(string_split(text, ' ')) AS tok
          FROM documents)
        WHERE len(tok) > 0),
      u0 AS (SELECT word, array_to_string(
          list_transform(range(1, len(word)+1),
            i -> substr(word, CAST(i AS INT), 1)), ' ') AS seq FROM w),
      $encodeCtes,
      wl AS (SELECT word,
          CAST(len(string_split(seq, ' ')) AS BIGINT) AS n_sub FROM u4),
      lt AS (SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_words,
          CAST(SUM(wl.n_sub) AS BIGINT) AS n_subwords
        FROM dwords d JOIN wl ON wl.word = d.tok GROUP BY 1),
      sq AS (SELECT lang, n_words, n_subwords,
          CAST(FLOOR(SQRT(CAST(n_words AS DOUBLE)) * 1000000) AS BIGINT)
            AS sw,
          CAST(FLOOR(SQRT(CAST(n_subwords AS DOUBLE)) * 1000000) AS BIGINT)
            AS ss
        FROM lt),
      tot AS (SELECT CAST(SUM(sw) AS BIGINT) AS tw,
          CAST(SUM(ss) AS BIGINT) AS ts FROM sq)
      SELECT lang, n_words, n_subwords,
        sw * 1000000 // tw AS w_word_ppm,
        ss * 1000000 // ts AS w_subword_ppm,
        ss * 1000000 // ts - sw * 1000000 // tw AS correction_ppm
      FROM sq CROSS JOIN tot ORDER BY lang"""
    })

  val list: Seq[Q] = Seq(q67, q68, q69, q70, q71, q72, q73, q74, q75,
    q76, q77, q78, q79, q80, q81, q83, q84, q85, q86, q87, q88, q89,
    q90, q91, q92, q93, q94, q95, q97, q99, q164, q178, q179, q180,
    q206, q214)
}
