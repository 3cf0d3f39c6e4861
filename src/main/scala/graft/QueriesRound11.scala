package graft

import org.apache.spark.sql.functions._

import Queries.Q

/** Round-11 depth queries.
  *
  * Determinism: all-integer arithmetic (ppm grids, `div` on
  * non-negative operands where Spark's truncation and DuckDB's `//`
  * floor agree), the q20 decimal cosine kernel for exact rankings —
  * the suite-wide oracle conventions.
  */
object QueriesRound11 {

  import graft.operators.Similarity

  /** The winnow screen → connected-components oracle chain (identical
    * to q238's CTE prefix): distinct (doc, fp) winnowed fingerprints,
    * df-cap [2, DfCap], ≥2-shared pairs, recursive min-label walk.
    * Shared as a `def` (init-order-immune) by q246/q247, whose Spark
    * sides ride the SAME SharedWinnow.components artifact — one
    * derivation on each engine, two consumers. */
  private def winnowCompSql: String = s"""
      ts AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      g AS (SELECT doc_id, CAST(len(ts) - 3 AS BIGINT) AS ng,
          CAST(i AS BIGINT) AS p,
          array_to_string(list_slice(ts, CAST(i AS INT),
            CAST(i AS INT) + 3), ' ') AS g
        FROM ts, UNNEST(range(1, len(ts) - 2)) AS u(i)
        WHERE len(ts) >= 4),
      gh AS (SELECT doc_id, ng, p,
          CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) AS h
        FROM g WHERE ng >= 4),
      win AS (SELECT doc_id, ng, h, CAST(j AS BIGINT) AS j
        FROM gh, UNNEST(range(greatest(1, p - 3),
          least(p, ng - 3) + 1)) v(j)),
      sel AS (SELECT doc_id, j, MIN(h) AS fp FROM win GROUP BY 1, 2),
      fd AS MATERIALIZED (SELECT DISTINCT doc_id, fp FROM sel),
      us AS (SELECT fp FROM fd GROUP BY fp
        HAVING COUNT(*) BETWEEN 2 AND ${
          graft.operators.Dedup.WinnowDfCap}),
      cap AS MATERIALIZED (SELECT fd.doc_id, fd.fp
        FROM fd JOIN us ON us.fp = fd.fp),
      wp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM cap a JOIN cap b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM wp
        UNION SELECT doc_b, doc_a FROM wp),
      walk(node, label) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.node),
      comps AS MATERIALIZED (SELECT node AS doc_id, MIN(label) AS component
        FROM walk GROUP BY 1)"""

  /** MATRYOSHKA TRUNCATION AUDIT — how much retrieval quality the
    * first 32 of 64 embedding dimensions keep: for each of 5 query
    * vectors, the exact cosine top-20 under the FULL vectors vs under
    * the TRUNCATED prefix, censused as overlap@20 and the Spearman
    * footrule (Σ|rank_full − rank_trunc| over the intersection). The
    * dimension-reduction go/no-go a serving team reads before storing
    * half-width vectors: overlap ≈ 20 says the prefix ranks like the
    * full vector; a big footrule says the order inside the overlap
    * degraded even if membership held.
    *
    * Scale shape: two q20-class kernels — corpus × broadcast(5
    * queries) codegen'd double prefilter, decimal rerank on the
    * ~k-sized survivor set; the census joins two 100-row top-k frames
    * on (q_id, vec_id). Nothing corpus-sized shuffles. */
  private val q245 = Q(
    "q245_matryoshka_overlap",
    (s, dir) => {
      val full = Tables.embeddings(s, dir).select(
        col("vec_id").as("id"),
        Similarity.asDouble(col("embedding")).as("v"))
      val trunc = Tables.embeddings(s, dir).select(
        col("vec_id").as("id"),
        Similarity.asDouble(slice(col("embedding"), 1, 32)).as("v"))
      val topF = Similarity
        .cosineTopKFast(full, full.filter(col("id") < 5), 20)
        .select(col("q_id"), col("vec_id"),
          col("rnk").cast("long").as("rf"))
      val topT = Similarity
        .cosineTopKFast(trunc, trunc.filter(col("id") < 5), 20)
        .select(col("q_id"), col("vec_id"),
          col("rnk").cast("long").as("rt"))
      val ov = topF.join(topT, Seq("q_id", "vec_id"))
        .groupBy(col("q_id"))
        .agg(count(lit(1)).as("overlap20"),
          sum(abs(col("rf") - col("rt"))).as("footrule"))
      // left join from the query list so a zero-overlap query still
      // prints its row (engines must agree on row COUNT, not just
      // matched groups)
      full.filter(col("id") < 5).select(col("id").as("q_id"))
        .join(ov, Seq("q_id"), "left")
        .select(col("q_id"),
          coalesce(col("overlap20"), lit(0L)).as("overlap20"),
          coalesce(col("footrule"), lit(0L)).as("footrule"))
        .orderBy(col("q_id"))
    },
    Some("""WITH ev AS (
        SELECT vec_id, i, CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS a
        FROM embeddings, UNNEST(range(1, len(embedding)+1)) AS t(i)),
      evt AS (SELECT * FROM ev WHERE i <= 32),
      nf AS (SELECT vec_id,
          SQRT(CAST(SUM(CAST(a*a AS DECIMAL(18,16))) AS DOUBLE)) AS nrm
        FROM ev GROUP BY 1),
      nt AS (SELECT vec_id,
          SQRT(CAST(SUM(CAST(a*a AS DECIMAL(18,16))) AS DOUBLE)) AS nrm
        FROM evt GROUP BY 1),
      qf AS (SELECT * FROM ev WHERE vec_id < 5),
      qt AS (SELECT * FROM evt WHERE vec_id < 5),
      df_ AS (SELECT q.vec_id AS q_id, e.vec_id AS vec_id,
          CAST(SUM(CAST(q.a*e.a AS DECIMAL(18,16))) AS DOUBLE) AS dot
        FROM qf q JOIN ev e ON q.i = e.i AND e.vec_id <> q.vec_id
        GROUP BY 1, 2),
      dt_ AS (SELECT q.vec_id AS q_id, e.vec_id AS vec_id,
          CAST(SUM(CAST(q.a*e.a AS DECIMAL(18,16))) AS DOUBLE) AS dot
        FROM qt q JOIN evt e ON q.i = e.i AND e.vec_id <> q.vec_id
        GROUP BY 1, 2),
      topf AS (SELECT q_id, vec_id, rnk FROM (
          SELECT d.q_id, d.vec_id,
            ROW_NUMBER() OVER (PARTITION BY d.q_id
              ORDER BY d.dot / (nq.nrm * ne.nrm) DESC, d.vec_id) AS rnk
          FROM df_ d
          JOIN nf nq ON d.q_id = nq.vec_id
          JOIN nf ne ON d.vec_id = ne.vec_id) t WHERE rnk <= 20),
      topt AS (SELECT q_id, vec_id, rnk FROM (
          SELECT d.q_id, d.vec_id,
            ROW_NUMBER() OVER (PARTITION BY d.q_id
              ORDER BY d.dot / (nq.nrm * ne.nrm) DESC, d.vec_id) AS rnk
          FROM dt_ d
          JOIN nt nq ON d.q_id = nq.vec_id
          JOIN nt ne ON d.vec_id = ne.vec_id) t WHERE rnk <= 20),
      ov AS (SELECT f.q_id, CAST(COUNT(*) AS BIGINT) AS overlap20,
          CAST(SUM(ABS(f.rnk - t.rnk)) AS BIGINT) AS footrule
        FROM topf f JOIN topt t
          ON f.q_id = t.q_id AND f.vec_id = t.vec_id
        GROUP BY 1)
      SELECT q.q_id, COALESCE(ov.overlap20, 0) AS overlap20,
        COALESCE(ov.footrule, 0) AS footrule
      FROM (SELECT DISTINCT vec_id AS q_id FROM embeddings
        WHERE vec_id < 5) q
      LEFT JOIN ov ON ov.q_id = q.q_id
      ORDER BY q.q_id"""))

  /** CROSS-SOURCE NEAR-DUP MATRIX — which source PAIRS share winnowed
    * duplicate components: the span-evidence companion to q176's
    * exact-hash syndication matrix (verbatim wire stories) — this one
    * also catches edited copies, because membership comes from the
    * ≥2-shared-fingerprint screen, not full-text equality. The
    * readout a mixture-weight owner consults: a heavy (src_a, src_b)
    * cell means those sources double-count content and their combined
    * weight overstates diversity.
    *
    * Scale shape: rides the SharedWinnow.components session artifact
    * (paid once, also under q226/q238/q242/q247); this query adds one
    * distinct over (component, source) — bounded by Σ per-component
    * distinct sources ≤ corpus rows — a self-join keyed by component
    * (components are df-cap-bounded, so per-key fan-out is small),
    * and a ≤C(|sources|,2)-row census. */
  private val q246 = Q(
    "q246_cross_source_dup_matrix",
    (s, dir) => {
      val cs = Tables.documents(s, dir).select(col("doc_id"), col("source"))
        .join(SharedWinnow.components(s, dir), "doc_id")
        .select(col("component"), col("source")).distinct()
      cs.select(col("component"), col("source").as("src_a"))
        .join(cs.select(col("component"), col("source").as("src_b"))
          .hint("shuffle_hash"), Seq("component"))
        .filter(col("src_a") < col("src_b"))
        .groupBy(col("src_a"), col("src_b"))
        .agg(count(lit(1)).as("n_components"))
        .orderBy(col("src_a"), col("src_b"))
    },
    Some(s"""WITH RECURSIVE $winnowCompSql,
      cs AS (SELECT DISTINCT c.component, d.source
        FROM comps c JOIN documents d ON d.doc_id = c.doc_id)
      SELECT a.source AS src_a, b.source AS src_b,
        CAST(COUNT(*) AS BIGINT) AS n_components
      FROM cs a JOIN cs b
        ON a.component = b.component AND a.source < b.source
      GROUP BY 1, 2 ORDER BY src_a, src_b"""))

  /** EFFECTIVE DATASET SIZE — the deduplication discount per source:
    * each doc contributes 1/|its duplicate component| (unclustered
    * docs contribute 1), so a source whose corpus is mostly N-copy
    * families collapses toward n/N. THE number a data-budget owner
    * compares against raw row counts when sources are priced or
    * mixture weights are set — and the census that says how much of
    * the corpus q238's retention policy would keep WITHOUT running
    * the policy. Exact integers: per-doc share = 1000000 div csize
    * (ppm), summed; Spark `div` == DuckDB `//` on non-negatives.
    *
    * Scale shape: component sizes are one hash-agg over the shared
    * component map; the per-doc join is id-keyed shuffle-hash (the
    * map scales with duplication rate — never broadcast, the q199
    * rule); census rows = |sources|. */
  private val q247 = Q(
    "q247_effective_dataset_size",
    (s, dir) => {
      val comps = SharedWinnow.components(s, dir)
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
    Some(s"""WITH RECURSIVE $winnowCompSql,
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
      FROM j GROUP BY 1 ORDER BY source"""))

  /** The megacluster edge-Jaccard oracle chain (q243/q244's CTE
    * prefix, duplicated here because their inline strings are
    * gate-frozen): 2-band minhash LSH pairs → CC → ≥11-doc
    * megaclusters → per-candidate-edge exact 5-gram Jaccard. Ends at
    * `inter`/`szs`/`be` for the threshold legs to consume. */
  private def megaChainSql: String = {
    val mins = (0 until 8)
      .map(j =>
        s"MIN(substr(md5('m${j / 4}' || sh), ${(j % 4) * 8 + 1}, 8)) AS h$j")
      .mkString(", ")
    s"""
      sh0 AS MATERIALIZED (SELECT DISTINCT doc_id, substr(text, i, 5) AS sh
        FROM documents, UNNEST(range(1, greatest(length(text)-4, 1)+1)) AS t(i)),
      sig AS MATERIALIZED (SELECT doc_id, $mins FROM sh0 GROUP BY doc_id),
      bands AS MATERIALIZED (
        SELECT doc_id, md5('0' || h0 || h1 || h2 || h3) AS bk FROM sig
        UNION ALL
        SELECT doc_id, md5('1' || h4 || h5 || h6 || h7) AS bk FROM sig),
      pairs AS MATERIALIZED (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b ON a.bk = b.bk AND a.doc_id < b.doc_id),
      edges AS MATERIALIZED (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs),
      walk(node, label) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.node),
      comps AS MATERIALIZED (SELECT node AS doc_id, MIN(label) AS component
        FROM walk GROUP BY 1),
      big AS MATERIALIZED (SELECT component, COUNT(*) AS csize
        FROM comps GROUP BY 1 HAVING COUNT(*) >= 11),
      be AS MATERIALIZED (SELECT p.doc_a, p.doc_b, c.component
        FROM pairs p
        JOIN comps c ON c.doc_id = p.doc_a
        JOIN big b ON b.component = c.component),
      msh AS MATERIALIZED (SELECT s.doc_id, s.sh FROM sh0 s
        JOIN comps c ON c.doc_id = s.doc_id
        JOIN big b ON b.component = c.component),
      szs AS MATERIALIZED (SELECT doc_id, COUNT(*) AS sz FROM msh GROUP BY 1),
      inter AS MATERIALIZED (SELECT e.doc_a, e.doc_b, COUNT(*) AS i
        FROM be e
        JOIN msh a ON a.doc_id = e.doc_a
        JOIN msh b2 ON b2.doc_id = e.doc_b AND b2.sh = a.sh
        GROUP BY 1, 2)"""
  }

  /** One recursive strong-CC threshold leg for [[q248]]'s oracle. */
  private def thresholdLegSql(tag: String, t: Long): String = s"""
      st$tag AS MATERIALIZED (SELECT e.doc_a, e.doc_b
        FROM be e
        LEFT JOIN inter i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
        JOIN szs sa ON sa.doc_id = e.doc_a
        JOIN szs sb ON sb.doc_id = e.doc_b
        WHERE CAST(COALESCE(i.i, 0) AS HUGEINT) * 1000000
          // (sa.sz + sb.sz - COALESCE(i.i, 0)) >= $t),
      se$tag AS (SELECT doc_a AS src, doc_b AS dst FROM st$tag
        UNION SELECT doc_b, doc_a FROM st$tag),
      sw$tag(node, label) AS (
        SELECT src, src FROM se$tag
        UNION
        SELECT e.dst, w.label FROM sw$tag w JOIN se$tag e ON e.src = w.node),
      sz$tag AS (SELECT MIN(label) AS scomp, node FROM sw$tag GROUP BY node),
      zz$tag AS (SELECT scomp, COUNT(*) AS c FROM sz$tag GROUP BY 1),
      r$tag AS (SELECT CAST($t AS BIGINT) AS thr_ppm,
        CAST(COUNT(*) AS BIGINT) AS n_subclusters,
        CAST(COALESCE(MAX(c), 0) AS BIGINT) AS max_sub,
        CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n_connected FROM zz$tag)"""

  /** REPAIR THRESHOLD SWEEP — the tuning curve the q243→q244→
    * RepairCert arc ends on: the ground-truth certification showed a
    * 1,042-family organic chain SURVIVES the 0.2 strong-edge cut, so
    * the policy question is what higher thresholds buy. Per threshold
    * (0.2 / 0.35 / 0.5 exact edge Jaccard): sub-cluster count, the
    * largest surviving sub-cluster, connected vs isolated megacluster
    * members — the knob-vs-blast-radius readout a retention-policy
    * owner tunes against.
    *
    * Scale shape: the edge-Jaccard frame is the shared session
    * artifact (paid once under q243/q244/this); each threshold leg is
    * a filter + the exact CC fixpoint over STRONG edges only (edge
    * count shrinks with the threshold), run in CC's dedicated
    * low-fan-out child session; census rows = |thresholds|. */
  private val q248 = Q(
    "q248_repair_threshold_sweep",
    (s, dir) => {
      val j = SharedLsh.megaEdgeJaccard(s, dir)
      val comps = SharedLsh.components(s, dir)
      val members = comps.join(
        comps.groupBy(col("component")).agg(count(lit(1)).as("csize"))
          .filter(col("csize") >= 11).hint("shuffle_hash"), "component")
        .agg(count(lit(1)).as("n_members"))
      val rows = Seq(200000L, 350000L, 500000L).map { t =>
        // each threshold's CC map is a session artifact (the 0.2 one
        // is exactly q244's repair map) — a fixpoint re-run per bench
        // pass would pay the full scheduling floor each time
        val cc = SharedLsh.strongComponentsAt(s, dir, t)
        cc.groupBy(col("component")).agg(count(lit(1)).as("ssz"))
          .agg(count(lit(1)).as("n_subclusters"),
            coalesce(max(col("ssz")), lit(0L)).as("max_sub"),
            coalesce(sum(col("ssz")), lit(0L)).as("n_connected"))
          .select(lit(t).as("thr_ppm"), col("n_subclusters"),
            col("max_sub"), col("n_connected"))
      }.reduce(_.unionByName(_))
      rows.crossJoin(broadcast(members))
        .select(col("thr_ppm"), col("n_subclusters"), col("max_sub"),
          col("n_connected"),
          (col("n_members") - col("n_connected")).as("n_isolated"))
        .orderBy(col("thr_ppm"))
    },
    Some(s"""WITH RECURSIVE $megaChainSql,
      ${thresholdLegSql("a", 200000L)},
      ${thresholdLegSql("b", 350000L)},
      ${thresholdLegSql("c", 500000L)},
      mem AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_members
        FROM comps c JOIN big b ON b.component = c.component),
      allr AS (SELECT * FROM ra UNION ALL SELECT * FROM rb
        UNION ALL SELECT * FROM rc)
      SELECT thr_ppm, n_subclusters, max_sub, n_connected,
        n_members - n_connected AS n_isolated
      FROM allr CROSS JOIN mem ORDER BY thr_ppm"""))

  /** [[winnowCompSql]] with every CTE name suffixed by `tag` and the
    * document universe restricted by `pred` — q249 runs the chain
    * twice (base corpus vs full) in ONE oracle. */
  private def winnowCompSqlTagged(tag: String, pred: String): String = s"""
      ts$tag AS (SELECT doc_id, string_split(text, ' ') AS ts
        FROM documents WHERE $pred),
      g$tag AS (SELECT doc_id, CAST(len(ts) - 3 AS BIGINT) AS ng,
          CAST(i AS BIGINT) AS p,
          array_to_string(list_slice(ts, CAST(i AS INT),
            CAST(i AS INT) + 3), ' ') AS g
        FROM ts$tag, UNNEST(range(1, len(ts) - 2)) AS u(i)
        WHERE len(ts) >= 4),
      gh$tag AS (SELECT doc_id, ng, p,
          CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) AS h
        FROM g$tag WHERE ng >= 4),
      win$tag AS (SELECT doc_id, ng, h, CAST(j AS BIGINT) AS j
        FROM gh$tag, UNNEST(range(greatest(1, p - 3),
          least(p, ng - 3) + 1)) v(j)),
      sel$tag AS (SELECT doc_id, j, MIN(h) AS fp FROM win$tag GROUP BY 1, 2),
      fd$tag AS MATERIALIZED (SELECT DISTINCT doc_id, fp FROM sel$tag),
      us$tag AS (SELECT fp FROM fd$tag GROUP BY fp
        HAVING COUNT(*) BETWEEN 2 AND ${
          graft.operators.Dedup.WinnowDfCap}),
      cap$tag AS MATERIALIZED (SELECT f.doc_id, f.fp
        FROM fd$tag f JOIN us$tag u ON u.fp = f.fp),
      wp$tag AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM cap$tag a JOIN cap$tag b
          ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      edges$tag AS (
        SELECT doc_a AS src, doc_b AS dst FROM wp$tag
        UNION SELECT doc_b, doc_a FROM wp$tag),
      walk$tag(node, label) AS (
        SELECT src, src FROM edges$tag
        UNION
        SELECT e.dst, w.label
        FROM walk$tag w JOIN edges$tag e ON e.src = w.node),
      comps$tag AS MATERIALIZED (
        SELECT node AS doc_id, MIN(label) AS component
        FROM walk$tag GROUP BY 1)"""

  /** RETENTION CHURN UNDER CRAWL GROWTH — re-run q238's keep/drop
    * policy after a crawl batch lands (every 7th doc is "new") and
    * census which BASE docs flip, per source. Two flip directions
    * exist, and the census separates them: `lost_keep` (a better copy
    * arrived in the component — the expected churn) and `gained_keep`
    * — which is NONZERO only through the df-cap: new copies push a
    * fingerprint's document frequency past DfCap, the screen drops it
    * as boilerplate, edges vanish, a component SPLITS, and a
    * previously-dropped doc inherits its fragment's argmax. Retention
    * under growth is NOT monotone, and this census is the monitor a
    * production pipeline runs per crawl before re-publishing a
    * training set.
    *
    * Scale shape: the full-corpus component map rides SharedWinnow;
    * the base-world map pays one extra fenced kernel + df-cap pair
    * join + CC fixpoint on the base subset; the flip join is id-keyed
    * shuffle-hash; census rows = |sources|. */
  private val q249 = Q(
    "q249_retention_churn",
    (s, dir) => {
      import graft.operators.Retention
      val all = Tables.documents(s, dir)
      val scored = all.select(col("doc_id"), col("source"),
          Retention.packed(col("text"), col("doc_id")).as("packed"))
        .localCheckpoint() // read by both worlds' keep passes
      // the base-world component map is a session artifact (lesson
      // #8: deriving it inline re-paid the kernel + CC fixpoint per
      // bench pass — 5.8 s of which ~5.5 s was this derivation)
      val keepBase = Retention.withKeep(
          scored.filter(col("doc_id") % 7 =!= 0),
          SharedWinnow.componentsWhere(s, dir, "doc_id % 7 <> 0"))
        .select(col("doc_id"), col("source"), col("keep").as("kb"))
      val keepFull = Retention.withKeep(
          scored, SharedWinnow.components(s, dir))
        .select(col("doc_id"), col("keep").as("kf"))
      keepBase.join(keepFull.hint("shuffle_hash"), "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_base"),
          sum(when(col("kb"), 1L).otherwise(0L)).as("kept_base"),
          sum(when(col("kb") && !col("kf"), 1L).otherwise(0L))
            .as("lost_keep"),
          sum(when(!col("kb") && col("kf"), 1L).otherwise(0L))
            .as("gained_keep"))
        .select(col("source"), col("n_base"), col("kept_base"),
          col("lost_keep"), col("gained_keep"),
          when(col("kept_base") === 0, 0L)
            .otherwise(expr("""CAST(CAST(lost_keep AS DECIMAL(38,0))
              * 1000000 div kept_base AS BIGINT)""")).as("churn_ppm"))
        .orderBy(col("source"))
    },
    Some {
      val stopList = graft.operators.TextAnalysis.EnStopwords
        .map(w => s"t = '$w'").mkString(" OR ")
      s"""WITH RECURSIVE
      ${winnowCompSqlTagged("f", "TRUE")},
      ${winnowCompSqlTagged("b", "doc_id % 7 <> 0")},
      scored AS (SELECT doc_id, source,
          CAST(FLOOR((
            LEAST(1.0, len(string_split(text, ' ')) / 100.0) * 0.5 +
            (len(list_filter(string_split(text, ' '), t -> ($stopList)))
               / len(string_split(text, ' '))) * 0.3 +
            (1.0 - LEAST(1.0,
              len(regexp_extract_all(text, '[.,!?;:]')) / 20.0)) * 0.2
          ) * 1000000) AS BIGINT) * 10000000
            + (9999999 - doc_id) AS packed
        FROM documents),
      kb AS (SELECT s.doc_id, s.source,
          s.packed = MAX(s.packed) OVER (PARTITION BY
            COALESCE(c.component, s.doc_id)) AS kb
        FROM scored s LEFT JOIN compsb c ON c.doc_id = s.doc_id
        WHERE s.doc_id % 7 <> 0),
      kf AS (SELECT s.doc_id,
          s.packed = MAX(s.packed) OVER (PARTITION BY
            COALESCE(c.component, s.doc_id)) AS kf
        FROM scored s LEFT JOIN compsf c ON c.doc_id = s.doc_id)
      SELECT b.source, CAST(COUNT(*) AS BIGINT) AS n_base,
        CAST(SUM(CASE WHEN b.kb THEN 1 ELSE 0 END) AS BIGINT)
          AS kept_base,
        CAST(SUM(CASE WHEN b.kb AND NOT f.kf THEN 1 ELSE 0 END)
          AS BIGINT) AS lost_keep,
        CAST(SUM(CASE WHEN NOT b.kb AND f.kf THEN 1 ELSE 0 END)
          AS BIGINT) AS gained_keep,
        CAST(CASE WHEN SUM(CASE WHEN b.kb THEN 1 ELSE 0 END) = 0 THEN 0
          ELSE CAST(SUM(CASE WHEN b.kb AND NOT f.kf THEN 1 ELSE 0 END)
              AS HUGEINT) * 1000000
            // SUM(CASE WHEN b.kb THEN 1 ELSE 0 END) END AS BIGINT)
          AS churn_ppm
      FROM kb b JOIN kf f ON f.doc_id = b.doc_id
      GROUP BY 1 ORDER BY b.source"""
    })

  // ---------------------------------------------------------------------

  val list: Seq[Q] = Seq(q245, q246, q247, q248, q249)
}
