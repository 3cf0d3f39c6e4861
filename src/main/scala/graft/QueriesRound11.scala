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
    s"""WITH ${OracleSql.embeddingRows()},
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
      ORDER BY q.q_id""")

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
    s"""WITH RECURSIVE ${OracleSql.winnowComps()},
      cs AS (SELECT DISTINCT c.component, d.source
        FROM comps c JOIN documents d ON d.doc_id = c.doc_id)
      SELECT a.source AS src_a, b.source AS src_b,
        CAST(COUNT(*) AS BIGINT) AS n_components
      FROM cs a JOIN cs b
        ON a.component = b.component AND a.source < b.source
      GROUP BY 1, 2 ORDER BY src_a, src_b""")

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
    s"""WITH RECURSIVE ${OracleSql.winnowComps()},
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
    s"""WITH RECURSIVE ${OracleSql.megaChain},
      ${OracleSql.thresholdLeg("a", 200000L)},
      ${OracleSql.thresholdLeg("b", 350000L)},
      ${OracleSql.thresholdLeg("c", 500000L)},
      mem AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_members
        FROM comps c JOIN big b ON b.component = c.component),
      allr AS (SELECT * FROM ra UNION ALL SELECT * FROM rb
        UNION ALL SELECT * FROM rc)
      SELECT thr_ppm, n_subclusters, max_sub, n_connected,
        n_members - n_connected AS n_isolated
      FROM allr CROSS JOIN mem ORDER BY thr_ppm""")

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
    s"""WITH RECURSIVE
      ${OracleSql.winnowComps(tag = "f")},
      ${OracleSql.winnowComps(
        "(SELECT * FROM documents WHERE doc_id % 7 <> 0)", "b")},
      scored AS (SELECT doc_id, source,
          CAST(FLOOR(${OracleSql.qualityScore} * 1000000) AS BIGINT) * 10000000
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
      GROUP BY 1 ORDER BY b.source""")

  // ---------------------------------------------------------------------

  val list: Seq[Q] = Seq(q245, q246, q247, q248, q249)
}
