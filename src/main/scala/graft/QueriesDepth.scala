package graft

import org.apache.spark.sql.functions._

import graft.Queries.Q
import graft.operators.{Dedup, KmvSketch, TrainPrep}

/** Round-7 depth queries (q181+): the KMV set-algebra sketch that
  * completes the sketch family, and the true multi-field BM25F ranker.
  * Same determinism rules as [[Queries]] (total ORDER BY, integer /
  * fixed-point arithmetic on anything hashed, aliases matched to the
  * oracle SQL). */
object QueriesDepth {

  /** KMV SET-INTERSECTION NDV (operators/KmvSketch.scala): per-source
    * 5-shingle vocabularies sketched with k=64 minimum hash values,
    * then EVERY source pair estimated for union and intersection
    * cardinality — next to the EXACT intersection count as the twin
    * column, so the estimator's error is read directly off the result.
    * The cross-set overlap readout a curation pipeline uses to find
    * syndicated / mirrored sources without ever joining their full
    * vocabularies.
    *
    * Scale shape: the sketch aggregation is one pass over raw
    * (source, hash32) rows — no pre-distinct shuffle; the Aggregator's
    * bounded buffer dedups and ships ≤ 64 longs per source however
    * large the source is. The pair stage runs over |sources|² sketch
    * ROWS (bounded, broadcast), never data. The exact twin is a
    * shingle-keyed self-join whose per-key fan-out is ≤ |sources|² —
    * at true corpus scale you would drop the twin and keep the sketch,
    * which is the point of the query. All-integer: the estimate chain
    * is deterministic given md5, so DuckDB reproduces it EXACTLY via a
    * rank ≤ k window over identical 32-bit hashes. */
  private val q181 = Q(
    "q181_kmv_intersection",
    (s, dir) => {
      val k = 64
      val docs = Tables.documents(s, dir)
      // one distinct (source, shingle) relation feeds BOTH the sketch
      // aggregation and the exact-twin self-join — the explode+md5
      // pass is paid once (KMV is dedup-insensitive, so sketching the
      // distinct rows equals sketching the raw stream)
      val srcsh = docs.select(col("source"),
          explode(Dedup.charShingles(col("text"), 5)).as("sh"))
        .distinct()
        .localCheckpoint()
      val sk = srcsh
        .select(col("source"), KmvSketch.hash32(col("sh")).as("h"))
        .groupBy(col("source"))
        .agg(KmvSketch.lowestK(col("h"), k).as("kmv"))
        .localCheckpoint() // 1 row per source; read by both pair legs
      // the set-algebra stage is the shared KmvSketch.pairEstimates
      // kernel; the oracle replays the same estimator chain
      val pairs = KmvSketch.pairEstimates(sk, "source", "kmv", k,
        outA = "source_a", outB = "source_b")
      val exact = srcsh.select(col("source").as("source_a"), col("sh"))
        .join(srcsh.select(col("source").as("source_b"), col("sh")),
          Seq("sh"))
        .filter(col("source_a") < col("source_b"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("xi"))
      pairs
        .join(exact, Seq("source_a", "source_b"), "left")
        .select(col("source_a"), col("source_b"),
          col("est_union"), col("k_int"), col("est_inter"),
          coalesce(col("xi"), lit(0L)).as("exact_inter"))
        .orderBy(col("source_a"), col("source_b"))
    },
    """WITH sh AS (SELECT DISTINCT source, substr(text, i, 5) AS s
        FROM documents,
          UNNEST(range(1, greatest(length(text)-4, 1)+1)) AS t(i)),
      hh AS (SELECT DISTINCT source,
          CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT) AS h FROM sh),
      km AS (SELECT source, h FROM (
          SELECT source, h,
            ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
          FROM hh) r WHERE rn <= 64),
      srcs AS (SELECT DISTINCT source FROM documents),
      pr AS (SELECT a.source AS sa, b.source AS sb
          FROM srcs a JOIN srcs b ON a.source < b.source),
      u0 AS (
        SELECT p.sa, p.sb, k.h FROM pr p JOIN km k ON k.source = p.sa
        UNION
        SELECT p.sa, p.sb, k.h FROM pr p JOIN km k ON k.source = p.sb),
      m AS (SELECT sa, sb, h FROM (
          SELECT sa, sb, h,
            ROW_NUMBER() OVER (PARTITION BY sa, sb ORDER BY h) AS rn
          FROM u0) r WHERE rn <= 64),
      ms AS (SELECT sa, sb, CAST(COUNT(*) AS BIGINT) AS mk, MAX(h) AS kth
          FROM m GROUP BY 1, 2),
      ki AS (SELECT m.sa, m.sb, CAST(COUNT(*) AS BIGINT) AS kint
          FROM m JOIN km x ON x.source = m.sa AND x.h = m.h
                 JOIN km y ON y.source = m.sb AND y.h = m.h
          GROUP BY 1, 2),
      ex AS (SELECT x.source AS sa, y.source AS sb,
            CAST(COUNT(*) AS BIGINT) AS xi
          FROM sh x JOIN sh y ON y.s = x.s AND x.source < y.source
          GROUP BY 1, 2),
      est AS (SELECT ms.sa, ms.sb,
          CASE WHEN ms.mk < 64 THEN ms.mk
               ELSE 270582939648 // ms.kth END AS eu,
          COALESCE(ki.kint, 0) AS kint
        FROM ms LEFT JOIN ki ON ki.sa = ms.sa AND ki.sb = ms.sb)
      SELECT est.sa AS source_a, est.sb AS source_b,
        CAST(est.eu AS BIGINT) AS est_union,
        CAST(est.kint AS BIGINT) AS k_int,
        CAST(est.kint * est.eu // 64 AS BIGINT) AS est_inter,
        CAST(COALESCE(ex.xi, 0) AS BIGINT) AS exact_inter
      FROM est LEFT JOIN ex ON ex.sa = est.sa AND ex.sb = est.sb
      ORDER BY source_a, source_b""")

  /** TRUE MULTI-FIELD BM25F (TrainPrep.bm25MultiFieldRank): ranking
    * over two genuinely distinct fields — a metadata field
    * (source + lang, weight 4) and the body text (weight 1) — with
    * per-field length normalization, the property q123's early-merge
    * simplification lacks: a metadata hit in the 2-token field is
    * normalized against the metadata corpus average, not diluted by
    * the ~70-token body. Query mixes one metadata term ('src7') with
    * two body terms, so both field paths and the cross-field tf merge
    * execute. Fixed-point double recipe per the operator scaladoc;
    * the oracle spells the identical token sequence. */
  private val q183 = Q(
    "q183_bm25f_multifield",
    (s, dir) =>
      TrainPrep.bm25MultiFieldRank(
        Tables.documents(s, dir)
          .withColumn("meta", concat_ws(" ", col("source"), col("lang"))),
        "doc_id", Seq(("meta", 4L), ("text", 1L)),
        Seq("src7", "scan", "window"), topK = 20),
    """WITH d AS (SELECT doc_id, source || ' ' || lang AS f0,
          text AS f1 FROM documents),
      t0 AS (SELECT doc_id, ts[CAST(i AS INT)] AS term
        FROM (SELECT doc_id, string_split(f0, ' ') AS ts FROM d),
          UNNEST(range(1, len(ts)+1)) AS t(i)),
      t1 AS (SELECT doc_id, ts[CAST(i AS INT)] AS term
        FROM (SELECT doc_id, string_split(f1, ' ') AS ts FROM d),
          UNNEST(range(1, len(ts)+1)) AS t(i)),
      p0 AS (SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf0
        FROM t0 WHERE term IN ('src7', 'scan', 'window') GROUP BY 1, 2),
      p1 AS (SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf1
        FROM t1 WHERE term IN ('src7', 'scan', 'window') GROUP BY 1, 2),
      m AS (SELECT term, doc_id, COALESCE(tf0, 0) AS tf0,
          COALESCE(tf1, 0) AS tf1
        FROM p0 FULL JOIN p1 USING (term, doc_id)),
      l AS (SELECT doc_id,
          CAST(len(string_split(f0, ' ')) AS BIGINT) AS dl0,
          CAST(len(string_split(f1, ' ')) AS BIGINT) AS dl1 FROM d),
      st AS (SELECT COUNT(*) AS nd, CAST(SUM(dl0) AS BIGINT) AS tt0,
          CAST(SUM(dl1) AS BIGINT) AS tt1 FROM l),
      df AS (SELECT term, COUNT(*) AS df FROM m GROUP BY 1),
      sc AS (SELECT m.doc_id,
          CAST(FLOOR(
            (CAST(2*(st.nd - df.df) + 1 AS DOUBLE)
               / CAST(2*df.df + 1 AS DOUBLE))
            * ((5 * (CAST(16*m.tf0*st.tt0 AS DOUBLE)
                       / CAST(st.tt0 + 3*l.dl0*st.nd AS DOUBLE)
                     + CAST(4*m.tf1*st.tt1 AS DOUBLE)
                       / CAST(st.tt1 + 3*l.dl1*st.nd AS DOUBLE)))
               / (6 + 5 * (CAST(16*m.tf0*st.tt0 AS DOUBLE)
                       / CAST(st.tt0 + 3*l.dl0*st.nd AS DOUBLE)
                     + CAST(4*m.tf1*st.tt1 AS DOUBLE)
                       / CAST(st.tt1 + 3*l.dl1*st.nd AS DOUBLE))))
            * 1e6) AS BIGINT) AS s
        FROM m JOIN df USING (term) JOIN l USING (doc_id) CROSS JOIN st)
      SELECT doc_id, COUNT(*) AS n_terms, CAST(SUM(s) AS BIGINT) AS score_fp
      FROM sc GROUP BY 1
      ORDER BY score_fp DESC, doc_id ASC LIMIT 20""")

  /** POWER-ITERATION PRINCIPAL COMPONENT of the embedding second-moment
    * matrix — the spectral member of the analytics family (PCA top
    * direction for whitening / drift monitoring), made engine-exact on
    * the ⌊x·10⁶⌋ BIGINT grid (q126's float recipe): S = Σ xg·xgᵀ is an
    * exact 64×64 BIGINT Gram matrix (one self-join agg — the classic
    * AllReduce covariance, map-side combinable, d² state per task),
    * then two fixed power-iteration rounds v ← S·v with an integer
    * L∞ rescale after each multiply. Every division is made
    * positive-operand first (CASE on sign) because Spark `div`
    * truncates toward zero while DuckDB `//` floors — they agree only
    * on non-negatives (the recorded q169 gotcha). Output: the 64
    * fixed-point components of v₂ plus the L∞ norm of the last
    * un-rescaled multiply (the eigenvalue growth proxy), all BIGINT.
    *
    * Scale: the Gram agg is the only data-sized stage (d² products per
    * row, zero shuffles before the 4096-group agg); iterations run on
    * 4096-row/64-row broadcast frames regardless of corpus size. */
  private val q184 = Q(
    "q184_power_iteration",
    (s, dir) => {
      val g = Tables.embeddings(s, dir)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "x")))
        .select(col("vec_id"), col("i").cast("long").as("i"),
          floor(col("x").cast("double") * lit(1e6)).cast("long").as("xg"))
      val sp = g
        .join(g.select(col("vec_id"), col("i").as("j"), col("xg").as("yg")),
          "vec_id")
        .groupBy(col("i"), col("j"))
        .agg(sum(col("xg") * col("yg")).as("sraw"))
        .select(col("i"), col("j"), expr(
          "CASE WHEN sraw < 0 THEN -((-sraw) div 1000000) " +
            "ELSE sraw div 1000000 END").as("sv"))
        .localCheckpoint() // 4096 rows, read by both iterations
      val w1 = sp.filter(col("j") === 0)
        .select(col("i"), (col("sv") * lit(1000000L)).as("w"))
      val m1 = w1.agg(
        expr("greatest(max(abs(w)) div 1000000, 1L)").as("st"))
      val v1 = w1.crossJoin(broadcast(m1))
        .select(col("i").as("j"), expr(
          "CASE WHEN w < 0 THEN -((-w) div st) ELSE w div st END").as("v"))
      val w2 = sp.join(broadcast(v1), "j")
        .groupBy(col("i"))
        .agg(sum(col("sv") * col("v")).as("w"))
      val m2 = w2.agg(
        expr("greatest(max(abs(w)) div 1000000, 1L)").as("st"),
        max(abs(col("w"))).as("mx"))
      w2.crossJoin(broadcast(m2))
        .select(col("i"), expr(
          "CASE WHEN w < 0 THEN -((-w) div st) ELSE w div st END")
          .as("v2_fp"),
          col("mx").as("linf_w2"))
        .orderBy(col("i"))
    },
    """WITH g AS (SELECT vec_id, CAST(i - 1 AS BIGINT) AS i,
          CAST(FLOOR(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 1000000)
            AS BIGINT) AS xg
        FROM embeddings, UNNEST(range(1, len(embedding)+1)) AS t(i)),
      sr AS (SELECT a.i AS i, b.i AS j, CAST(SUM(a.xg * b.xg) AS BIGINT)
            AS sraw
        FROM g a JOIN g b ON a.vec_id = b.vec_id GROUP BY 1, 2),
      sp AS (SELECT i, j, CASE WHEN sraw < 0 THEN -((-sraw) // 1000000)
            ELSE sraw // 1000000 END AS sv FROM sr),
      w1 AS (SELECT i, sv * 1000000 AS w FROM sp WHERE j = 0),
      m1 AS (SELECT GREATEST(MAX(ABS(w)) // 1000000, 1) AS st FROM w1),
      v1 AS (SELECT w1.i AS j,
          CASE WHEN w < 0 THEN -((-w) // m1.st) ELSE w // m1.st END AS v
        FROM w1 CROSS JOIN m1),
      w2 AS (SELECT sp.i, CAST(SUM(sp.sv * v1.v) AS BIGINT) AS w
        FROM sp JOIN v1 USING (j) GROUP BY 1),
      m2 AS (SELECT GREATEST(MAX(ABS(w)) // 1000000, 1) AS st,
          MAX(ABS(w)) AS mx FROM w2)
      SELECT w2.i,
        CASE WHEN w < 0 THEN -((-w) // m2.st) ELSE w // m2.st END AS v2_fp,
        CAST(m2.mx AS BIGINT) AS linf_w2
      FROM w2 CROSS JOIN m2 ORDER BY i""")

  /** DUPLICATE PROPENSITY BY LENGTH — exact-duplicate membership rate
    * per 100-char document-length bucket, in ppm: the curation
    * diagnostic that says WHERE dedup is earning its keep (short
    * template-y docs duplicate far more than long organic ones, and a
    * pipeline that samples by length needs this curve, not the global
    * rate). Kernel: one narrow window over (md5(text), bucket) rows —
    * 16-byte hashes and a long shuffle, text never leaves the scan —
    * then a bounded bucket census. */
  private val q185 = Q(
    "q185_dup_length_profile",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("h"))
      Tables.documents(s, dir)
        .select(md5(col("text")).as("h"),
          expr("n_chars div 100").as("bucket"))
        .withColumn("grp", count(lit(1)).over(w))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("grp") > 1, 1L).otherwise(0L)).as("n_dup_members"))
        .withColumn("dup_ppm", expr("n_dup_members * 1000000 div n_docs"))
        .orderBy(col("bucket"))
    },
    """WITH d AS (SELECT n_chars // 100 AS bucket,
          COUNT(*) OVER (PARTITION BY md5(text)) AS grp
        FROM documents)
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(CASE WHEN grp > 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_dup_members,
        CAST(SUM(CASE WHEN grp > 1 THEN 1 ELSE 0 END) * 1000000
          // COUNT(*) AS BIGINT) AS dup_ppm
      FROM d GROUP BY 1 ORDER BY bucket""")

  private def matchesSql: String = (0 until 8)
    .map(j => s"(CASE WHEN a.h$j = b.h$j THEN 1 ELSE 0 END)")
    .mkString(" + ")

  /** LSH BAND-CONFIG RECALL TUNING: the same k=8 signature banded
    * three ways — 1×8 (strictest), 2×4 (the production q17 config),
    * 4×2 (loosest) — each measured for candidate volume and for how
    * much of the HIGH-AGREEMENT pair population (signature agreement
    * ≥ 6/8 among the loosest config's candidates) it retains. The
    * banding theory curve (P[collide] = 1−(1−s^r)^b) made an observed
    * funnel on this corpus: the readout an operator consults before
    * spending a corpus-sized pass on the wrong config. Configs are
    * nested (1×8 ⊆ 2×4 ⊆ 4×2), so capture_ppm is monotone — a broken
    * band hash shows up instantly as a violated monotonicity.
    * All stages run off the session-cached signature table; candidate
    * self-joins ship band keys only. */
  private val q187 = Q(
    "q187_band_recall",
    (s, dir) => {
      val sig = SharedLsh.signatures(s, dir)
      // The three configs are NESTED (1×8 ⊆ 2×4 ⊆ 4×2): a band key is
      // md5 over the concat of fixed-width 8-hex-char signature
      // components, so two docs collide on a band exactly when those
      // components are pairwise equal (fixed widths — no boundary
      // aliasing; md5 equality on equal-length inputs is component
      // equality on both engines). Hence ONE 4-band self-join yields
      // the superset, and the 2-band / 1-band candidate sets and the
      // ≥6/8 reference fall out of ONE join against the signature
      // table as per-pair predicates — the r12 opt replacing two more
      // band self-joins (bands=1 fresh, bands=2 via the pair cache)
      // plus three ref joins with one annotated pass (plan: 3 band
      // self-join exchanges → 1).
      val bandKeys4 = {
        val keys = (0 until 4).map { b =>
          md5(concat(lit(b.toString) +:
            (0 until 2).map(r => col(s"h${b * 2 + r}")): _*))
        }
        sig.select(col("doc_id"), explode(array(keys: _*)).as("bk"))
      }
      val cand4 = Dedup.lshCandidatePairsFrom(bandKeys4, "doc_id")
      val sa = sig.select(col("doc_id").as("doc_a") +:
        (0 until 8).map(j => col(s"h$j").as(s"a$j")): _*)
      val sb = sig.select(col("doc_id").as("doc_b") +:
        (0 until 8).map(j => col(s"h$j").as(s"b$j")): _*)
      def allEq(from: Int, until: Int) =
        (from until until).map(j => col(s"a$j") === col(s"b$j"))
          .reduce(_ && _)
      val annotated = cand4.join(sa, "doc_a").join(sb, "doc_b")
        .select(col("doc_a"), col("doc_b"),
          (0 until 8).map(j =>
            when(col(s"a$j") === col(s"b$j"), 1L).otherwise(0L))
            .reduce(_ + _).as("matches"),
          allEq(0, 4).as("b2lo"), allEq(4, 8).as("b2hi"))
      def cnt(pred: org.apache.spark.sql.Column) =
        coalesce(sum(when(pred, 1L)), lit(0L))
      val inref = col("matches") >= 6
      // ref ⊆ c4, so bands=4 captured IS n_ref; the nested configs'
      // candidate/captured counts are conditional sums over the same
      // annotated pairs. One aggregate, then 3 census rows via stack.
      annotated.agg(
          cnt(col("b2lo") && col("b2hi")).as("c1"),
          cnt(col("b2lo") && col("b2hi") && inref).as("cap1"),
          cnt(col("b2lo") || col("b2hi")).as("c2"),
          cnt((col("b2lo") || col("b2hi")) && inref).as("cap2"),
          count(lit(1)).as("c4"),
          cnt(inref).as("n_ref"))
        .select(expr("""stack(3, 1L, c1, cap1, 2L, c2, cap2,
            4L, c4, n_ref) AS (bands, n_candidates, n_captured)"""),
          col("n_ref"))
        .select(col("bands"), col("n_candidates"), col("n_ref"),
          col("n_captured"),
          // pair mass × 10⁶ — DECIMAL(38) numerator (a crawl-scale
          // candidate set passes 9.2e12 pairs)
          expr("""CAST(CAST(n_captured AS DECIMAL(38,0)) * 1000000
            div greatest(n_ref, 1) AS BIGINT)""")
            .as("capture_ppm"))
        .orderBy(col("bands"))
    },
    s"""WITH ${OracleSql.shingles()},
      ${OracleSql.minhashSig()},
      b1 AS (SELECT doc_id,
          md5('0' || h0 || h1 || h2 || h3 || h4 || h5 || h6 || h7) AS bk
        FROM sig),
      c1 AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM b1 a JOIN b1 b ON a.bk = b.bk AND a.doc_id < b.doc_id),
      b2 AS (
        SELECT doc_id, md5('0' || h0 || h1 || h2 || h3) AS bk FROM sig
        UNION ALL
        SELECT doc_id, md5('1' || h4 || h5 || h6 || h7) AS bk FROM sig),
      c2 AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM b2 a JOIN b2 b ON a.bk = b.bk AND a.doc_id < b.doc_id),
      b4 AS (
        SELECT doc_id, md5('0' || h0 || h1) AS bk FROM sig
        UNION ALL SELECT doc_id, md5('1' || h2 || h3) FROM sig
        UNION ALL SELECT doc_id, md5('2' || h4 || h5) FROM sig
        UNION ALL SELECT doc_id, md5('3' || h6 || h7) FROM sig),
      c4 AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM b4 a JOIN b4 b ON a.bk = b.bk AND a.doc_id < b.doc_id),
      est AS (SELECT c.doc_a, c.doc_b, $matchesSql AS matches
        FROM c4 c JOIN sig a ON a.doc_id = c.doc_a
                  JOIN sig b ON b.doc_id = c.doc_b),
      ref AS (SELECT doc_a, doc_b FROM est WHERE matches >= 6),
      rn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_ref FROM ref),
      rows0 AS (
        SELECT 1 AS bands,
          (SELECT COUNT(*) FROM c1) AS n_candidates,
          (SELECT COUNT(*) FROM c1 JOIN ref USING (doc_a, doc_b))
            AS n_captured
        UNION ALL
        SELECT 2,
          (SELECT COUNT(*) FROM c2),
          (SELECT COUNT(*) FROM c2 JOIN ref USING (doc_a, doc_b))
        UNION ALL
        SELECT 4,
          (SELECT COUNT(*) FROM c4),
          (SELECT COUNT(*) FROM c4 JOIN ref USING (doc_a, doc_b)))
      SELECT CAST(bands AS BIGINT) AS bands,
        CAST(n_candidates AS BIGINT) AS n_candidates, rn.n_ref,
        CAST(n_captured AS BIGINT) AS n_captured,
        CAST(CAST(n_captured AS HUGEINT) * 1000000
          // greatest(rn.n_ref, 1) AS BIGINT)
          AS capture_ppm
      FROM rows0 CROSS JOIN rn ORDER BY bands""")

  /** CONTENT-DEFINED CHUNKING vs fixed-width chunking — the storage-
    * dedup primitive (Rabin/FastCDC family): a chunk boundary falls
    * after code point i wherever the mixed rolling hash of the
    * trailing 8-code-point window lands in the bottom 1/64 of the
    * 2^31 range, so an insertion shifts boundaries only locally and
    * duplicate content still aligns — while fixed 64-char chunks lose
    * alignment at the first shifted byte. Side-by-side census of both
    * schemes: chunk count, distinct chunks, duplicate-chunk ppm, mean
    * chunk length (×100). Boundary detection is position-local (no
    * sequential min/max state, unlike full FastCDC — deliberately, so
    * the operator is embarrassingly parallel) and runs in the custom
    * codegen'd [[graft.plans.CdcCutsExpr]]: ONE O(|text|) rolling
    * Rabin pass per document emits the whole sorted cut array as a
    * map-only projection — the boundary function and its oracle
    * derivation live on that expression. The first cut of this query
    * paid 11 s at sf0.1 testing positions interpreted inside
    * `filter(sequence(...))` (the q172-class HOF trap); the second cut
    * exploded one md5+hex-conv per position (11.5 s, plus a
    * collect_list groupBy and a doc re-join). This shape has ZERO
    * shuffles before the chunk census: cuts per row, chunk assembly a
    * bounded per-row zip_with, and only 16-byte chunk hashes reach the
    * census exchange. */
  private val q188 = Q(
    "q188_cdc_chunking",
    (s, dir) => {
      val docs = Tables.documents(s, dir).filter(length(col("text")) >= 1)
      val nl = length(col("text")).cast("long")
      val withCuts = docs.withColumn("cuts",
        graft.plans.CdcCutsExpr.cdcCuts(col("text")))
      val starts = transform(concat(array(lit(0L)), col("cuts")),
        x => x + 1L)
      val ends = concat(col("cuts"), array(nl))
      val cdcChunks = zip_with(starts, ends,
        (s1, e) => col("text").substr(s1.cast("int"),
          (e - s1 + 1L).cast("int")))
      val fixedChunks = transform(
        sequence(lit(0L), expr("(length(text) - 1) div 64")),
        j => col("text").substr((j * 64 + 1).cast("int"), lit(64)))
      def census(src: org.apache.spark.sql.DataFrame, scheme: String,
                 chunks: org.apache.spark.sql.Column) =
        src.select(explode(chunks).as("c"))
          .select(md5(col("c")).as("h"), length(col("c")).cast("long")
            .as("len"))
          .agg(count(lit(1)).as("n_chunks"),
            countDistinct(col("h")).as("n_distinct"),
            sum(col("len")).as("total_len"))
          .select(lit(scheme).as("scheme"), col("n_chunks"),
            col("n_distinct"),
            // chunk mass × 10⁶ — DECIMAL(38) numerator
            expr("""CAST(CAST(n_chunks - n_distinct AS DECIMAL(38,0))
              * 1000000 div n_chunks AS BIGINT)""")
              .as("dup_ppm"),
            expr("total_len * 100 div n_chunks").as("avg_len_x100"))
      census(withCuts, "cdc", cdcChunks)
        .union(census(docs, "fixed64", fixedChunks))
        .orderBy(col("scheme"))
    },
    """WITH d AS (SELECT doc_id, text, CAST(length(text) AS BIGINT)
          AS n FROM documents WHERE length(text) >= 1),
      -- exact-HUGEINT degree-7 polynomial of the trailing 8 code
      -- points == CdcCutsExpr's per-step-mod Rabin rolling hash
      -- (powers of 257; mod 2^31 then Fibonacci mix, cut < 2^31/64)
      cuts AS (SELECT doc_id, CAST(i AS BIGINT) AS p
        FROM d, UNNEST(range(8, greatest(n, 8)+1)) AS t(i)
        WHERE i < n AND
          ((( unicode(substr(text, CAST(i-7 AS INT), 1))::HUGEINT * 74051159531521793
            + unicode(substr(text, CAST(i-6 AS INT), 1))::HUGEINT * 288136807515649
            + unicode(substr(text, CAST(i-5 AS INT), 1))::HUGEINT * 1121154893057
            + unicode(substr(text, CAST(i-4 AS INT), 1))::HUGEINT * 4362470401
            + unicode(substr(text, CAST(i-3 AS INT), 1))::HUGEINT * 16974593
            + unicode(substr(text, CAST(i-2 AS INT), 1))::HUGEINT * 66049
            + unicode(substr(text, CAST(i-1 AS INT), 1))::HUGEINT * 257
            + unicode(substr(text, CAST(i AS INT), 1))::HUGEINT
            ) % 2147483648) * 2654435761) % 2147483648 < 33554432),
      b AS (SELECT doc_id, p FROM cuts
        UNION ALL SELECT doc_id, 0 FROM d),
      seg AS (SELECT b.doc_id, b.p AS s,
          COALESCE(LEAD(b.p) OVER (PARTITION BY b.doc_id ORDER BY b.p),
            d.n) AS e
        FROM b JOIN d USING (doc_id)),
      cdc AS (SELECT substr(text, CAST(s+1 AS INT), CAST(e-s AS INT)) AS c
        FROM seg JOIN d USING (doc_id)),
      fx AS (SELECT substr(text, CAST(j*64+1 AS INT), 64) AS c
        FROM d, UNNEST(range(0, (n-1)//64 + 1)) AS t(j)),
      cc AS (SELECT 'cdc' AS scheme, CAST(COUNT(*) AS BIGINT) AS n_chunks,
          CAST(COUNT(DISTINCT md5(c)) AS BIGINT) AS n_distinct,
          CAST(SUM(length(c)) AS BIGINT) AS total_len FROM cdc
        UNION ALL
        SELECT 'fixed64', CAST(COUNT(*) AS BIGINT),
          CAST(COUNT(DISTINCT md5(c)) AS BIGINT),
          CAST(SUM(length(c)) AS BIGINT) FROM fx)
      SELECT scheme, n_chunks, n_distinct,
        CAST(CAST(n_chunks - n_distinct AS HUGEINT) * 1000000
          // n_chunks AS BIGINT)
          AS dup_ppm,
        CAST(total_len * 100 // n_chunks AS BIGINT) AS avg_len_x100
      FROM cc ORDER BY scheme""")

  /** DEDUP MIXTURE SHIFT: per-source corpus share BEFORE vs AFTER
    * exact keep-first dedup, in ppm, with the signed delta — the
    * census that shows dedup silently re-weighting the training
    * mixture (heavily-syndicated sources lose share; unique sources
    * gain). One 16-byte-hash window for the keep decision, two
    * bounded source censuses; the delta is a plain subtraction of
    * already-floored ppm shares, so no negative division anywhere. */
  private val q189 = Q(
    "q189_dedup_mixture_shift",
    (s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("source"), col("doc_id"), md5(col("text")).as("h"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("h"))
      val kept = d.withColumn("canon", min(col("doc_id")).over(w))
        .filter(col("doc_id") === col("canon"))
      val before = d.groupBy(col("source"))
        .agg(count(lit(1)).as("n_before"))
      val after = kept.groupBy(col("source"))
        .agg(count(lit(1)).as("n_after"))
      val tb = before.agg(sum(col("n_before")).as("tot_b"))
      val ta = after.agg(sum(col("n_after")).as("tot_a"))
      before.join(after, Seq("source"), "left")
        .na.fill(0L, Seq("n_after"))
        .crossJoin(broadcast(tb)).crossJoin(broadcast(ta))
        .select(col("source"), col("n_before"), col("n_after"),
          expr("n_before * 1000000 div tot_b").as("share_before_ppm"),
          expr("n_after * 1000000 div tot_a").as("share_after_ppm"))
        .withColumn("shift_ppm",
          col("share_after_ppm") - col("share_before_ppm"))
        .orderBy(col("source"))
    },
    """WITH d AS (SELECT source, doc_id, md5(text) AS h
        FROM documents),
      k AS (SELECT source, doc_id FROM (
          SELECT source, doc_id,
            MIN(doc_id) OVER (PARTITION BY h) AS canon FROM d)
        WHERE doc_id = canon),
      b AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_before
        FROM d GROUP BY 1),
      a AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_after
        FROM k GROUP BY 1),
      tb AS (SELECT CAST(SUM(n_before) AS BIGINT) AS tot_b FROM b),
      ta AS (SELECT CAST(SUM(n_after) AS BIGINT) AS tot_a FROM a),
      m AS (SELECT b.source, b.n_before, COALESCE(a.n_after, 0) AS n_after
        FROM b LEFT JOIN a USING (source))
      SELECT source, n_before, n_after,
        CAST(n_before * 1000000 // tot_b AS BIGINT) AS share_before_ppm,
        CAST(n_after * 1000000 // tot_a AS BIGINT) AS share_after_ppm,
        CAST(n_after * 1000000 // tot_a
          - n_before * 1000000 // tot_b AS BIGINT) AS shift_ppm
      FROM m CROSS JOIN tb CROSS JOIN ta ORDER BY source""")

  /** SIMHASH HAMMING-DISTANCE HISTOGRAM over the LSH candidate pairs:
    * the threshold-calibration readout for q18's SimHash dedup — how
    * the 16-bit fingerprint distance distributes over pairs the
    * MinHash bander already considers similar. A threshold chosen off
    * this histogram (the valley between the near-dup mass at 0–3 bits
    * and the background) replaces folklore constants. Candidate-
    * bounded: only the screened pairs pay the XOR, via two
    * narrow joins against the per-doc fingerprint table. */
  private val q190 = Q(
    "q190_simhash_hamming",
    (s, dir) => {
      val cand = SharedLsh.candidatePairs(s, dir)
      val simh = Dedup.simhash16(Tables.documents(s, dir),
        "doc_id", "text")
      cand
        .join(simh.select(col("doc_id").as("doc_a"),
          col("simhash").as("sa")), "doc_a")
        .join(simh.select(col("doc_id").as("doc_b"),
          col("simhash").as("sb")), "doc_b")
        .select(bit_count(col("sa").bitwiseXOR(col("sb"))).cast("long")
          .as("hamming"))
        .groupBy(col("hamming"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("hamming"))
    },
    {
      def digit(p: Int) =
        s"(ascii(substr(h4,$p,1)) - CASE WHEN ascii(substr(h4,$p,1)) >= 97 THEN 87 ELSE 48 END)"
      val tok16 =
        s"((${digit(1)}*16 + ${digit(2)})*16 + ${digit(3)})*16 + ${digit(4)}"
      val sums = (0 until 16).map { i =>
        val p = 1L << i
        s"SUM(CASE WHEN CAST(FLOOR(tok16/$p) AS BIGINT) % 2 = 1 THEN 1 ELSE -1 END) AS s$i"
      }.mkString(", ")
      val sim = (0 until 16)
        .map(i => s"(CASE WHEN s$i >= 0 THEN ${1L << i} ELSE 0 END)")
        .mkString(" + ")
      s"""WITH ${OracleSql.lshPairs("cand")},
      tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents),
      h AS (SELECT doc_id, substr(md5(tok), 1, 4) AS h4 FROM tok),
      v AS (SELECT doc_id, $tok16 AS tok16 FROM h),
      sums AS (SELECT doc_id, $sums FROM v GROUP BY doc_id),
      simh AS (SELECT doc_id, CAST($sim AS BIGINT) AS simhash FROM sums)
      SELECT CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT)
          AS hamming,
        CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM cand JOIN simh a ON a.doc_id = cand.doc_a
                JOIN simh b ON b.doc_id = cand.doc_b
      GROUP BY 1 ORDER BY hamming"""
    })

  /** INCREMENTAL KMV — the continuous-crawl contract for the sketch
    * family (q96/q173's discipline applied to cardinality): the stored
    * per-source sketch of the already-ingested corpus (doc_id % 10 ≠ 0
    * here) is MERGED with the new batch's sketch in column space —
    * k smallest of the union of the two sorted value arrays — without
    * re-reading any old text. KMV's defining property makes the merge
    * lossless (k-min of (k-min A ∪ k-min B) = k-min of A ∪ B), so
    * incremental == from-scratch for every source — and the ORACLE
    * computes from scratch, making the equivalence itself the gate
    * row, exactly like q173's incremental chunk index. Output: the
    * per-source sketch fill, k-th minimum and NDV estimate. */
  private val q191 = Q(
    "q191_incr_kmv",
    (s, dir) => {
      val k = 64
      val docs = Tables.documents(s, dir)
      // ONE corpus pass: history (doc_id % 10 ≠ 0) and delta batch are
      // disjoint, so sketching per (source, is-delta) in a single
      // explode+hash pass builds both sketch sets — the old two
      // sketchOf legs each scanned and decoded the full documents
      // table to keep its complement (2 scans → 1; identical sketches
      // because the partition flag only routes rows). The ≤2·|sources|
      // -row pivot replaces the full outer join.
      val sk = docs
        .select(col("source"), (col("doc_id") % 10 === 0).as("isd"),
          explode(Dedup.charShingles(col("text"), 5)).as("sh"))
        .select(col("source"), col("isd"),
          KmvSketch.hash32(col("sh")).as("h"))
        .groupBy(col("source"), col("isd"))
        .agg(KmvSketch.lowestK(col("h"), k).as("kmv"))
      sk.groupBy(col("source"))
        .agg(first(when(!col("isd"), col("kmv")), ignoreNulls = true)
            .as("ka"),
          first(when(col("isd"), col("kmv")), ignoreNulls = true)
            .as("kb"))
        .withColumn("m", slice(array_sort(array_union(
          coalesce(col("ka"), array().cast("array<bigint>")),
          coalesce(col("kb"), array().cast("array<bigint>")))), 1, k))
        .select(col("source"), size(col("m")).cast("long").as("fill"),
          // try_element_at, not element_at: under ANSI a sub-filled
          // sketch (fill < k — any small/skewed source) must yield the
          // oracle's NULL kth, not INVALID_ARRAY_INDEX
          try_element_at(col("m"), lit(k)).as("kth"),
          KmvSketch.estimateNdv("m", k).as("est_ndv"))
        .orderBy(col("source"))
    },
    """WITH sh AS (SELECT DISTINCT source, substr(text, i, 5) AS s
        FROM documents,
          UNNEST(range(1, greatest(length(text)-4, 1)+1)) AS t(i)),
      hh AS (SELECT DISTINCT source,
          CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT) AS h FROM sh),
      km AS (SELECT source, h, rn FROM (
          SELECT source, h,
            ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
          FROM hh) r WHERE rn <= 64),
      agg AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS fill,
          MAX(h) AS kth FROM km GROUP BY 1)
      SELECT source, fill,
        CASE WHEN fill < 64 THEN NULL ELSE kth END AS kth,
        CASE WHEN fill < 64 THEN fill
             ELSE 270582939648 // kth END AS est_ndv
      FROM agg ORDER BY source""")

  /** LARGEST-REMAINDER MIXTURE QUOTAS: allocate an exact sample budget
    * of 1000 documents across sources proportionally to their corpus
    * share using the largest-remainder (Hamilton) method — floor each
    * source's exact share, then hand the leftover units to the largest
    * remainders (ties to the lexicographically smaller source). The
    * mixture-planning step before any stratified sample: quotas sum to
    * EXACTLY the budget (floats/rounding never do), all-integer, and
    * the allocation is a deterministic function of the counts. The
    * census is |sources| rows — window work bounded however large the
    * corpus. */
  private val q192 = Q(
    "q192_quota_allocation",
    (s, dir) => {
      val budget = 1000L
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("rem").desc, col("source").asc)
      val counts = Tables.documents(s, dir)
        .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      val tot = counts.agg(sum(col("n_docs")).as("total"))
      val base = counts.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"),
          expr(s"n_docs * $budget div total").as("floor_q"),
          expr(s"n_docs * $budget % total").as("rem"))
        .localCheckpoint() // |sources| rows, read twice below
      val extra = base.agg((lit(budget) - sum(col("floor_q")))
        .as("extra_total"))
      base.withColumn("rk", row_number().over(w))
        .crossJoin(broadcast(extra))
        .select(col("source"), col("n_docs"),
          (col("floor_q") +
            when(col("rk") <= col("extra_total"), 1L).otherwise(0L))
            .as("quota"))
        .orderBy(col("source"))
    },
    """WITH c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY 1),
      t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total FROM c),
      q AS (SELECT source, n_docs,
          n_docs * 1000 // t.total AS floor_q,
          n_docs * 1000 % t.total AS rem
        FROM c CROSS JOIN t),
      r AS (SELECT source, n_docs, floor_q,
          ROW_NUMBER() OVER (ORDER BY rem DESC, source ASC) AS rk,
          1000 - SUM(floor_q) OVER () AS extra_total
        FROM q)
      SELECT source, n_docs,
        CAST(floor_q + CASE WHEN rk <= extra_total THEN 1 ELSE 0 END
          AS BIGINT) AS quota
      FROM r ORDER BY source""")

  /** CROSS-SPLIT SUBSTRING LEAKAGE CENSUS: how many exact 20-char
    * grams a NAIVE per-doc-id split (TrainPrep.splitOf on the doc's
    * own id) leaks from train into each eval split, and how many docs
    * on each side carry a leaked gram. This is the measurement that
    * justifies the leakage-guarded split (q41/q106 decide the split on
    * the duplicate group's canonical id): the naive split's leaked-
    * gram count is exactly what that guard drives to the organic-
    * overlap floor. Substring-level (q164's gram table, session-
    * cached), so it catches the excerpt/quotation leakage that
    * whole-document hashing misses. Shuffles carry 16-byte gram
    * hashes and ids only. */
  private val q193 = Q(
    "q193_split_leakage",
    (s, dir) => {
      // RAW gram occurrences, no distinct: every consumer below is a
      // MAX/flag aggregate, so duplicate (h, doc_id) rows change
      // nothing — the r12 shape's (h, doc_id) DISTINCT was a full
      // corpus-sized shuffle + localCheckpoint materialization that
      // bought zero semantic value (the r13 fix for the r12-verdict
      // q193 regression; the artifact's repartition("h") dies at its
      // checkpoint anyway — UnknownPartitioning — so the distinct
      // never even saved the downstream h-exchange it hoped to)
      val gd = SharedGrams.grams(s, dir).select(col("h"), col("doc_id"))
        .withColumn("sp", TrainPrep.splitOf(col("doc_id")))
      // leaked grams only (train ∩ {test|val}) — the small frame: one
      // h-keyed aggregate straight off the artifact (map-side partial
      // agg compresses per-partition repeats), checkpointed so the
      // gram census and the doc join read one lineage
      val byH = gd.groupBy(col("h")).agg(
        max(when(col("sp") === "train", 1L).otherwise(0L)).as("tr"),
        max(when(col("sp") === "test", 1L).otherwise(0L)).as("te"),
        max(when(col("sp") === "val", 1L).otherwise(0L)).as("va"))
        .filter(col("tr") === 1L && (col("te") === 1L || col("va") === 1L))
        .localCheckpoint()
      def z(c: org.apache.spark.sql.Column) = coalesce(c, lit(0L))
      val gramCen = byH.agg(
        z(sum(when(col("te") === 1L, 1L))).as("lg_te"),
        z(sum(when(col("va") === 1L, 1L))).as("lg_va"))
      // no join-strategy hint: the leaked-gram frame is the small side
      // and the planner broadcasts it (exactly what the old semi-join
      // legs got). `sp` is a per-doc function, so it is re-derived
      // AFTER the per-doc aggregate — one md5 per doc instead of one
      // per leaked-gram occurrence, and a narrower shuffle key.
      val docFlags = gd.drop("sp")
        .join(byH.select(col("h"), col("te"), col("va")), "h")
        .groupBy(col("doc_id"))
        .agg(max(col("te")).as("te"), max(col("va")).as("va"))
        .withColumn("sp", TrainPrep.splitOf(col("doc_id")))
      val docCen = docFlags.agg(
        z(sum(when(col("sp") === "test" && col("te") === 1L, 1L)))
          .as("ed_te"),
        z(sum(when(col("sp") === "train" && col("te") === 1L, 1L)))
          .as("td_te"),
        z(sum(when(col("sp") === "val" && col("va") === 1L, 1L)))
          .as("ed_va"),
        z(sum(when(col("sp") === "train" && col("va") === 1L, 1L)))
          .as("td_va"))
      gramCen.crossJoin(docCen)
        .select(expr("""stack(2, 'test', lg_te, ed_te, td_te,
            'val', lg_va, ed_va, td_va)
          AS (eval_split, n_leaking_grams, n_eval_docs, n_train_docs)"""))
        .orderBy(col("eval_split"))
    },
    """WITH g AS (
        SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 20) AS gram
        FROM documents,
          LATERAL (SELECT UNNEST(range(1, len(text) - 18)) AS i) t
        WHERE len(text) >= 20),
      sp AS (SELECT doc_id, gram,
          CASE WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 1)
              = 'd' THEN 'val'
            WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 1)
              IN ('e', 'f') THEN 'test'
            ELSE 'train' END AS sp
        FROM g),
      byh AS (SELECT gram,
          MAX(CASE WHEN sp = 'train' THEN 1 ELSE 0 END) AS tr,
          MAX(CASE WHEN sp = 'test' THEN 1 ELSE 0 END) AS te,
          MAX(CASE WHEN sp = 'val' THEN 1 ELSE 0 END) AS va
        FROM sp GROUP BY 1),
      rows0 AS (
        SELECT 'test' AS eval_split,
          (SELECT COUNT(*) FROM byh WHERE tr = 1 AND te = 1)
            AS n_leaking_grams,
          (SELECT COUNT(DISTINCT s.doc_id) FROM sp s
            JOIN byh ON byh.gram = s.gram
            WHERE s.sp = 'test' AND byh.tr = 1 AND byh.te = 1)
            AS n_eval_docs,
          (SELECT COUNT(DISTINCT s.doc_id) FROM sp s
            JOIN byh ON byh.gram = s.gram
            WHERE s.sp = 'train' AND byh.tr = 1 AND byh.te = 1)
            AS n_train_docs
        UNION ALL
        SELECT 'val',
          (SELECT COUNT(*) FROM byh WHERE tr = 1 AND va = 1),
          (SELECT COUNT(DISTINCT s.doc_id) FROM sp s
            JOIN byh ON byh.gram = s.gram
            WHERE s.sp = 'val' AND byh.tr = 1 AND byh.va = 1),
          (SELECT COUNT(DISTINCT s.doc_id) FROM sp s
            JOIN byh ON byh.gram = s.gram
            WHERE s.sp = 'train' AND byh.tr = 1 AND byh.va = 1))
      SELECT eval_split, CAST(n_leaking_grams AS BIGINT) AS n_leaking_grams,
        CAST(n_eval_docs AS BIGINT) AS n_eval_docs,
        CAST(n_train_docs AS BIGINT) AS n_train_docs
      FROM rows0 ORDER BY eval_split""")

  /** ROBUST LENGTH-OUTLIER CENSUS (median/MAD per source): exact
    * discrete median token count and median absolute deviation per
    * source (q39's rank-filter kernel, lower-median convention, twice)
    * and the count of documents beyond 3 MADs — the outlier filter a
    * curation pipeline runs where mean/stddev would be dragged by the
    * very outliers it hunts. All-integer; both rank passes ride
    * GroupedRank's two-phase range-partitioned scan (bucket-bounded
    * sorts — the q39 cost class, fixed rather than documented). */
  private val q194 = Q(
    "q194_length_outliers",
    (s, dir) => {
      import graft.operators.GroupedRank
      // both rank kernels SAMPLE their input (repartitionByRange), so
      // un-checkpointed lineage under them evaluates twice; lens is
      // additionally read by the dev join and dev by the final census
      // — pin both (each is one narrow row per doc)
      val lens = Tables.documents(s, dir)
        .select(col("source"), col("doc_id"),
          graft.operators.TextAnalysis.tokenCount(col("text"))
            .cast("long").as("len"))
        .localCheckpoint()
      val med = GroupedRank.withRank(lens, "source",
          Seq("len", "doc_id"))
        .filter(col("rn") === floor((col("cnt") + 1) / 2).cast("int"))
        .select(col("source"), col("len").as("med"))
      val dev = lens.join(med, "source")
        .withColumn("dev", abs(col("len") - col("med")))
        .localCheckpoint()
      val mad = GroupedRank.withRank(dev
          .select(col("source"), col("doc_id"), col("dev")), "source",
          Seq("dev", "doc_id"))
        .filter(col("rn") === floor((col("cnt") + 1) / 2).cast("int"))
        .select(col("source"), col("dev").as("mad"))
      dev.join(mad, "source")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          max(col("med")).as("median_len"),
          max(col("mad")).as("mad"),
          sum(when(col("dev") > lit(3L) * col("mad"), 1L).otherwise(0L))
            .as("n_outliers"))
        .orderBy(col("source"))
    },
    """WITH lens AS (SELECT source, doc_id,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS len
        FROM documents),
      med AS (SELECT source, len AS med FROM (
          SELECT source, len,
            ROW_NUMBER() OVER (PARTITION BY source
              ORDER BY len, doc_id) AS rn,
            COUNT(*) OVER (PARTITION BY source) AS cnt
          FROM lens) t
        WHERE rn = CAST(FLOOR((cnt + 1) / 2) AS INT)),
      dev AS (SELECT l.source, l.doc_id, l.len, m.med,
          ABS(l.len - m.med) AS dev
        FROM lens l JOIN med m ON l.source = m.source),
      mad AS (SELECT source, dev AS mad FROM (
          SELECT source, dev,
            ROW_NUMBER() OVER (PARTITION BY source
              ORDER BY dev, doc_id) AS rn,
            COUNT(*) OVER (PARTITION BY source) AS cnt
          FROM dev) t
        WHERE rn = CAST(FLOOR((cnt + 1) / 2) AS INT))
      SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(MAX(d.med) AS BIGINT) AS median_len,
        CAST(MAX(a.mad) AS BIGINT) AS mad,
        CAST(SUM(CASE WHEN d.dev > 3 * a.mad THEN 1 ELSE 0 END)
          AS BIGINT) AS n_outliers
      FROM dev d JOIN mad a ON d.source = a.source
      GROUP BY d.source ORDER BY d.source""")

  /** LABEL-CENTROID COSINE MATRIX — embedding-space separability of
    * the labeled clusters: per-label mean direction (cosine is scale-
    * invariant, so the UNNORMALIZED per-dimension fixed-point sums ARE
    * the centroid) and every label pair's centroid cosine ×10⁶. The
    * diagnostic read before trusting labels for stratified sampling or
    * kNN propagation (q130): high off-diagonal cosine = the labels
    * don't separate in embedding space. Exactness: sums are exact
    * BIGINTs on the ⌊x·10⁶⌋ grid, scaled down by 10³ with the
    * positive-operand CASE (sums can be negative; Spark div truncates,
    * DuckDB // floors), dot/norms are exact BIGINT products, and the
    * final cosine is the shared-verbatim double recipe (CorrExpr's
    * SQRT precedent) floored at ×10⁶. Aggregation state is
    * |labels|·dims rows; the pair stage is bounded by |labels|². */
  private val q195 = Q(
    "q195_centroid_cosine",
    (s, dir) => {
      val g = Tables.embeddings(s, dir)
        .select(col("label").cast("long").as("label"),
          posexplode(col("embedding")).as(Seq("i", "x")))
        .select(col("label"), col("i").cast("long").as("i"),
          floor(col("x").cast("double") * lit(1e6)).cast("long").as("xg"))
      val sums = g.groupBy(col("label"), col("i"))
        .agg(sum(col("xg")).as("s0"))
        .select(col("label"), col("i"), expr(
          "CASE WHEN s0 < 0 THEN -((-s0) div 1000) ELSE s0 div 1000 END")
          .as("sd"))
        .localCheckpoint() // |labels|·dims rows, both pair legs
      val pairs = sums.select(col("label").as("label_a"), col("i"),
          col("sd").as("sa"))
        .join(sums.select(col("label").as("label_b"), col("i"),
          col("sd").as("sb")), "i")
        .filter(col("label_a") < col("label_b"))
        .groupBy(col("label_a"), col("label_b"))
        .agg(sum(col("sa") * col("sb")).as("dot"),
          sum(col("sa") * col("sa")).as("naa"),
          sum(col("sb") * col("sb")).as("nbb"))
      pairs.select(col("label_a"), col("label_b"),
          expr("""CASE WHEN naa = 0 OR nbb = 0 THEN 0
            ELSE CAST(FLOOR(1000000 * CAST(dot AS DOUBLE)
              / (SQRT(naa) * SQRT(nbb))) AS BIGINT) END""").as("cos_fp"))
        .orderBy(col("label_a"), col("label_b"))
    },
    """WITH g AS (SELECT CAST(label AS BIGINT) AS label,
          CAST(i - 1 AS BIGINT) AS i,
          CAST(FLOOR(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 1000000)
            AS BIGINT) AS xg
        FROM embeddings, UNNEST(range(1, len(embedding)+1)) AS t(i)),
      s0 AS (SELECT label, i, CAST(SUM(xg) AS BIGINT) AS s0
        FROM g GROUP BY 1, 2),
      sd AS (SELECT label, i,
          CASE WHEN s0 < 0 THEN -((-s0) // 1000) ELSE s0 // 1000 END AS sd
        FROM s0),
      p AS (SELECT a.label AS label_a, b.label AS label_b,
          CAST(SUM(a.sd * b.sd) AS BIGINT) AS dot,
          CAST(SUM(a.sd * a.sd) AS BIGINT) AS naa,
          CAST(SUM(b.sd * b.sd) AS BIGINT) AS nbb
        FROM sd a JOIN sd b ON a.i = b.i AND a.label < b.label
        GROUP BY 1, 2)
      SELECT label_a, label_b,
        CASE WHEN naa = 0 OR nbb = 0 THEN 0
          ELSE CAST(FLOOR(1000000 * CAST(dot AS DOUBLE)
            / (SQRT(naa) * SQRT(nbb))) AS BIGINT) END AS cos_fp
      FROM p ORDER BY label_a, label_b""")

  /** BOILERPLATE REMOVAL REWRITE — the cleanup counterpart of q55's
    * detector, completing the detect→rewrite pairing the span family
    * already has (q86→q164): token positions covered by ANY word
    * 8-gram occurring in ≥ 3 distinct documents are spliced out, and
    * affected documents report their rebuilt text as an md5 pin
    * (q164's discipline — rebuilt text itself never shuffles and the
    * oracle must reproduce it byte-exactly to match the hash). The
    * q55 sentinel (appended to every 7th doc) guarantees the path
    * executes on this corpus. Kernel: gram hashing is an exploded
    * codegen projection; covered positions shuffle as (doc, int)
    * pairs; the splice is a per-row SET COMPLEMENT (position range ∖
    * covered, hash-set membership) followed by an indexed gather —
    * O(tokens + covered) per document, never tokens × covered. */
  private val q196 = Q(
    "q196_boilerplate_removal",
    (s, dir) => {
      val docs = SharedGrams.sentinelDocs(s, dir)
        .select(col("doc_id"), col("txt"))
      // ONE gram pass, shared with the q55 detector via the session
      // cache (SharedGrams.sentinel8): the df-agg side and the
      // covered-position probe side both read the same (doc, pos,
      // 16-byte gh) artifact — the r7 plan had two Generate legs
      // re-running the scan + tokenize + slice-join + md5 explosion,
      // which the stage-split audit measured as the dominant cost
      // (the rebuild was not).
      val grams = SharedGrams.sentinel8(s, dir)
      val boiler = grams.groupBy(col("gh"))
        .agg(countDistinct(col("doc_id")).as("ndocs"))
        .filter(col("ndocs") >= 3).select(col("gh"))
      // covered positions stay per-doc: shipping one (doc, pos) row per
      // boilerplate gram occurrence and expanding the 8-position window
      // in a per-row array expr is an 8× smaller exchange than exploding
      // the windows first and paying a corpus-wide distinct
      val cov = grams.join(boiler, Seq("gh"), "left_semi")
        .groupBy(col("doc_id"))
        .agg(collect_list(col("p")).as("ps"))
        .select(col("doc_id"),
          array_sort(array_distinct(flatten(transform(col("ps"),
            p => sequence(p, p + 7))))).as("covered"))
      // O(n+m) splice, not O(n·m): the kept positions are the set
      // complement sequence(1..n) ∖ covered — array_except hashes the
      // right side once per row, so a boilerplate-saturated 30k-token
      // doc pays ~60k ops, not the ~10⁹ the per-token
      // array_contains(covered) scan cost (the r7 suite-max hazard);
      // kept order is the left array's, i.e. ascending position.
      // The token array is materialized as its OWN projection first:
      // element_at(toks, p) sits inside the transform lambda, where
      // subexpression elimination cannot reach — an inline toks would
      // re-run split(txt) once per KEPT TOKEN (the wordBigrams
      // hot-path rule, round 9)
      docs.join(cov, Seq("doc_id"))
        .select(col("doc_id"),
          graft.operators.TextAnalysis.tokens(col("txt")).as("_t"),
          col("covered"))
        .select(col("doc_id"),
          size(col("_t")).cast("long").as("n_tokens"),
          size(col("covered")).cast("long").as("n_removed"),
          md5(concat_ws(" ", transform(
            array_except(sequence(lit(1), size(col("_t"))),
              col("covered")),
            p => element_at(col("_t"), p)))).as("new_hash"))
        .orderBy(col("doc_id"))
    },
    """WITH d AS (SELECT doc_id,
          CASE WHEN doc_id % 7 = 0 THEN text ||
            ' all rights reserved contact site admin for removal'
          ELSE text END AS txt
        FROM documents),
      ts AS (SELECT doc_id, string_split(txt, ' ') AS ts FROM d),
      t AS (SELECT doc_id, ts[CAST(i AS INT)] AS tok,
          CAST(i AS BIGINT) AS pos
        FROM ts, UNNEST(range(1, len(ts)+1)) AS u(i)),
      g AS (SELECT doc_id, CAST(i AS BIGINT) AS p,
          array_to_string(list_slice(ts, CAST(i AS INT),
            CAST(i AS INT)+7), ' ') AS g
        FROM ts, UNNEST(range(1, len(ts)-6)) AS u(i)
        WHERE len(ts) >= 8),
      b AS (SELECT g FROM g GROUP BY g
        HAVING COUNT(DISTINCT doc_id) >= 3),
      cov AS (SELECT DISTINCT g.doc_id, CAST(u.cp AS BIGINT) AS cp
        FROM g JOIN b USING (g),
          LATERAL (SELECT UNNEST(range(g.p, g.p + 8)) AS cp) u),
      k AS (SELECT t.doc_id, t.tok, t.pos
        FROM t LEFT JOIN cov ON cov.doc_id = t.doc_id AND cov.cp = t.pos
        WHERE cov.cp IS NULL),
      aff AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_removed
        FROM cov GROUP BY 1),
      nt AS (SELECT doc_id, CAST(len(string_split(txt, ' ')) AS BIGINT)
          AS n_tokens FROM d),
      rb AS (SELECT doc_id,
          md5(COALESCE(string_agg(tok, ' ' ORDER BY pos), ''))
            AS new_hash
        FROM k GROUP BY doc_id)
      SELECT a.doc_id, nt.n_tokens, a.n_removed,
        COALESCE(rb.new_hash, md5('')) AS new_hash
      FROM aff a JOIN nt USING (doc_id) LEFT JOIN rb USING (doc_id)
      ORDER BY doc_id""")

  /** HAPAX-RICHNESS CENSUS per source: distinct terms, hapax legomena
    * (terms occurring exactly once within the source), hapax share
    * and type-token ratio in ppm — the lexical-richness readout that
    * separates organic text (high hapax mass, Zipf tail) from
    * template/boilerplate sources (low hapax, head-heavy) before
    * mixture weighting. One (source, term) aggregation, then a
    * bounded per-source census. */
  private val q198 = Q(
    "q198_hapax_richness",
    (s, dir) => {
      val tf = Tables.documents(s, dir)
        .select(col("source"),
          explode(graft.operators.TextAnalysis.tokens(col("text")))
            .as("tok"))
        .where(length(col("tok")) > 0)
        .groupBy(col("source"), col("tok"))
        .agg(count(lit(1)).as("tf"))
      tf.groupBy(col("source"))
        .agg(count(lit(1)).as("n_distinct"),
          sum(col("tf")).as("n_tokens"),
          sum(when(col("tf") === 1L, 1L).otherwise(0L)).as("n_hapax"))
        .select(col("source"), col("n_distinct"), col("n_tokens"),
          col("n_hapax"),
          // vocab/token masses × 10⁶ — DECIMAL(38) numerators (the
          // q210 discipline; Long overflows past ~9.2e12 units)
          expr("""CAST(CAST(n_hapax AS DECIMAL(38,0)) * 1000000
            div n_distinct AS BIGINT)""").as("hapax_ppm"),
          expr("""CAST(CAST(n_distinct AS DECIMAL(38,0)) * 1000000
            div n_tokens AS BIGINT)""").as("ttr_ppm"))
        .orderBy(col("source"))
    },
    """WITH t AS (SELECT source, ts[CAST(i AS INT)] AS tok
        FROM (SELECT source, string_split(text, ' ') AS ts
          FROM documents), UNNEST(range(1, len(ts)+1)) AS u(i)),
      tf AS (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS tf
        FROM t WHERE length(tok) > 0 GROUP BY 1, 2),
      c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_distinct,
          CAST(SUM(tf) AS BIGINT) AS n_tokens,
          CAST(SUM(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_hapax
        FROM tf GROUP BY 1)
      SELECT source, n_distinct, n_tokens, n_hapax,
        CAST(CAST(n_hapax AS HUGEINT) * 1000000 // n_distinct AS BIGINT)
          AS hapax_ppm,
        CAST(CAST(n_distinct AS HUGEINT) * 1000000 // n_tokens AS BIGINT)
          AS ttr_ppm
      FROM c ORDER BY source""")

  /** NEAR-DUP CLUSTER COHESION CENSUS — how much of each connected
    * component's merge is backed by PAIRWISE evidence. CC-based dedup
    * (q40/q44) merges transitively: A~B and B~C put A and C in one
    * cluster with no direct A~C collision, so a low-density component
    * is a chain (transitive overreach — risky to collapse to one
    * keeper) while a clique is unanimous pairwise agreement. Census:
    * per multi-node component, edge count over C(n,2) as an integer
    * density decile, then (cluster_size, density_decile) →
    * n_clusters. Reuses the session-cached SharedLsh pair and
    * component artifacts — zero new corpus passes; every candidate
    * pair lies inside one component by construction (its ends share a
    * band key), so the edge census is one hash join on component id.
    * Scale: output ≤ |size buckets| × 11 rows; all-integer decile
    * (e·2·10 div n(n−1), n ≥ 2 so the denominator is ≥ 2). */
  private val q197 = Q(
    "q197_cluster_cohesion",
    (s, dir) => {
      val comp = SharedLsh.components(s, dir)
      val pairs = SharedLsh.candidatePairs(s, dir)
      val ce = pairs
        .join(comp.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .groupBy(col("component")).agg(count(lit(1)).as("e"))
      val cn = comp.groupBy(col("component"))
        .agg(count(lit(1)).as("n"))
      cn.join(ce, Seq("component"), "left")
        .select(col("n"), coalesce(col("e"), lit(0L)).as("e"))
        .select(col("n").as("cluster_size"),
          expr("e * 2 * 10 div (n * (n - 1))").as("density_decile"))
        .groupBy(col("cluster_size"), col("density_decile"))
        .agg(count(lit(1)).as("n_clusters"))
        .orderBy(col("cluster_size"), col("density_decile"))
    },
    s"""WITH RECURSIVE
      ${OracleSql.lshPairs(mat = true)},
      ${OracleSql.componentWalk("pairs", matEdges = true, matComp = true)},
      ce AS (SELECT c.component, CAST(COUNT(*) AS BIGINT) AS e
        FROM pairs p JOIN comp c ON c.doc_id = p.doc_a GROUP BY 1),
      cn AS (SELECT component, CAST(COUNT(*) AS BIGINT) AS n
        FROM comp GROUP BY 1),
      per AS (SELECT cn.n, COALESCE(ce.e, 0) AS e
        FROM cn LEFT JOIN ce USING (component))
      SELECT n AS cluster_size,
        CAST(e * 2 * 10 // (n * (n - 1)) AS BIGINT) AS density_decile,
        CAST(COUNT(*) AS BIGINT) AS n_clusters
      FROM per GROUP BY 1, 2 ORDER BY cluster_size, density_decile""")

  /** SIMPLIFIED SILHOUETTE census (centroid-based, on the fixed-point
    * SQUARED distances — a monotone transform of the classic
    * simplified-silhouette distances, kept squared so the whole
    * statistic stays in exact BIGINTs): after one Lloyd update of the
    * q108 clustering, every vector scores
    * s‰ = (b − a)·1000 div max(b, 1), where a = distance to its own
    * (argmin) centroid and b = the runner-up centroid distance — so
    * b ≥ a always and s ∈ [0, 1000]; s near 0 flags vectors sitting on
    * a cluster boundary. Per-cluster census: size, mean/min silhouette
    * and mean within-cluster distance — the cluster-validity readout
    * that says whether k was right BEFORE SemDeDup/IVF trust the
    * partition at corpus scale.
    *
    * Scale shape: centroids are k·dims driver literals (bounded by the
    * same updateCentroids contract q108 proved); the per-vector work
    * is ONE broadcast-argmin scan emitting a k-element struct array,
    * and only (cluster, 4×BIGINT) partials reach the census exchange.
    * No data-sized window, no join. */
  private val q200 = Q(
    "q200_silhouette",
    (s, dir) => {
      import graft.operators.{KMeansCluster, Similarity}
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"),
          Similarity.asDouble(col("embedding")).as("v"))
      // one assignment round under the seeds, then the mean update —
      // the c1 centroids of q108's replayed second round
      val c1 = KMeansCluster.updateCentroids(
        KMeansCluster.lloyd(emb, k = 4, iters = 1))
      val dists = c1.map { case (cid, cv) =>
        struct(KMeansCluster.sqDistFixed(col("v"), cv).as("d"),
          lit(cid.toLong).as("cid"))
      }
      emb
        .select(col("id"), array_sort(array(dists: _*)).as("ds"))
        .select(col("id"),
          col("ds").getItem(0).getField("cid").as("cluster"),
          col("ds").getItem(0).getField("d").as("a"),
          col("ds").getItem(1).getField("d").as("b"))
        .select(col("cluster"),
          col("a"), col("b"),
          expr("(b - a) * 1000 div greatest(b, 1)").as("s"))
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("n"),
          sum(col("s")).as("s_sum"),
          min(col("s")).as("min_sil_permille"),
          sum(col("a")).as("a_sum"))
        .select(col("cluster"), col("n"),
          expr("s_sum div n").as("mean_sil_permille"),
          col("min_sil_permille"),
          expr("a_sum div n").as("mean_own_dist"))
        .orderBy(col("cluster"))
    },
    s"""WITH ${OracleSql.kmeansReplay},
      ab AS (
        SELECT o.vec_id, o.cid AS cluster, o.d AS a, r.d AS b,
          (r.d - o.d) * 1000 // greatest(r.d, 1) AS s
        FROM ranked o JOIN ranked r
          ON r.vec_id = o.vec_id AND o.rn = 1 AND r.rn = 2)
      SELECT CAST(cluster AS BIGINT) AS cluster,
        COUNT(*) AS n,
        CAST(SUM(s) // COUNT(*) AS BIGINT) AS mean_sil_permille,
        CAST(MIN(s) AS BIGINT) AS min_sil_permille,
        CAST(SUM(a) // COUNT(*) AS BIGINT) AS mean_own_dist
      FROM ab GROUP BY 1 ORDER BY cluster""")

  /** PROTOTYPICALITY PRUNING census (the k-means-distance data-pruning
    * rule of Sorscher et al., "Beyond neural scaling laws", NeurIPS
    * 2022: with abundant data, drop the most PROTOTYPICAL examples —
    * the ones closest to their cluster centroid — and keep the
    * informative outliers): rank every vector within its q108 cluster
    * by distance DESC (lowest id breaks ties), keep the top 70%
    * (⌊7n/10⌋ per cluster), and report the per-LABEL mixture before vs
    * after in ppm with the signed drift — the companion readout to
    * q189's dedup mixture shift, because distance pruning silently
    * re-weights labels exactly the way dedup re-weights sources.
    *
    * Scale shape: the rank is a window PARTITIONED by cluster over
    * (cluster, dist, id) triples — no text, no vectors in the shuffle;
    * label re-attach is an id equi-join; the census is k·|labels|
    * bounded. */
  private val q201 = Q(
    "q201_prototype_pruning",
    (s, dir) => {
      import graft.operators.{KMeansCluster, Similarity}
      val embT = Tables.embeddings(s, dir)
      val emb = embT.select(col("vec_id").as("id"),
        Similarity.asDouble(col("embedding")).as("v"))
      val assigned = KMeansCluster.lloyd(emb, k = 4, iters = 2)
        .select(col("id"), col("cluster"), col("dist"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cluster"))
      val kept = assigned
        .withColumn("rn", row_number().over(
          w.orderBy(col("dist").desc, col("id").asc)))
        .withColumn("n_c", count(lit(1)).over(w))
        .withColumn("kept", col("rn") <= expr("n_c * 7 div 10"))
        .join(embT.select(col("vec_id").as("id"), col("label")), "id")
        .localCheckpoint() // read by the label census AND the totals
      kept
        .groupBy(col("label").cast("long").as("label"))
        .agg(count(lit(1)).as("n_before"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_after"))
        .crossJoin(broadcast(kept.agg(
          count(lit(1)).as("t_before"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("t_after"))))
        .select(col("label"), col("n_before"), col("n_after"),
          expr("n_before * 1000000 div t_before").as("before_ppm"),
          expr("n_after * 1000000 div t_after").as("after_ppm"),
          expr("n_after * 1000000 div t_after - n_before * 1000000 div t_before")
            .as("drift_ppm"))
        .orderBy(col("label"))
    },
    s"""WITH ${OracleSql.kmeansReplay},
      a2 AS (SELECT vec_id, cid, d FROM ranked WHERE rn = 1),
      pr AS (
        SELECT vec_id, cid, d,
          ROW_NUMBER() OVER (PARTITION BY cid ORDER BY d DESC, vec_id)
            AS prn,
          COUNT(*) OVER (PARTITION BY cid) AS n_c
        FROM a2),
      k AS (
        SELECT p.vec_id, e.label, (p.prn <= p.n_c * 7 // 10) AS kept
        FROM pr p JOIN embeddings e ON e.vec_id = p.vec_id),
      t AS (SELECT CAST(COUNT(*) AS BIGINT) AS t_before,
          CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS t_after
        FROM k)
      SELECT CAST(label AS BIGINT) AS label,
        CAST(COUNT(*) AS BIGINT) AS n_before,
        CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_after,
        CAST(COUNT(*) * 1000000 // t.t_before AS BIGINT) AS before_ppm,
        CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) * 1000000 // t.t_after
          AS BIGINT) AS after_ppm,
        CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) * 1000000 // t.t_after
          - COUNT(*) * 1000000 // t.t_before AS BIGINT) AS drift_ppm
      FROM k CROSS JOIN t GROUP BY label, t.t_before, t.t_after
      ORDER BY label""")

  /** T5-STYLE SPAN CORRUPTION census: tokens partition into
    * consecutive 3-token groups; a group is masked iff
    * hash32(doc_id:group) ≡ 0 (mod 20) — a deterministic ≈5%-of-spans
    * (≈15%-of-tokens) denoising objective the two engines reproduce
    * bit-for-bit. Per-language census of group/token/masked-token
    * counts with the masked ppm, plus a corpus fingerprint: the sum of
    * 32-bit hashes over every (doc, group, group-text, m|k verdict)
    * tuple — ANY divergence in tokenization, group assembly, or mask
    * selection anywhere in the corpus moves the fingerprint, so the
    * (input, target) pair content is pinned without shipping rebuilt
    * text anywhere (q164's hash-pinning discipline, aggregated).
    *
    * Scale shape: pure narrow explode (one row per 3-token group), the
    * mask hash is a codegen'd projection — NOT inside a HOF lambda
    * (the q172/q188 trap) — and only per-language BIGINT partials
    * reach the exchange. */
  private val q202 = Q(
    "q202_span_corruption",
    (s, dir) => {
      // FENCED (r10 audit): keeps the split out of the pushed predicate
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          graft.plans.FenceExpr.fence(split(col("text"), " ")).as("toks"))
        .filter(size(col("toks")) >= 1)
      docs
        .select(col("doc_id"), col("lang"), col("toks"),
          explode(sequence(lit(0L),
            expr("(size(toks) + 2) div 3 - 1"))).as("g"))
        .select(col("doc_id"), col("lang"), col("g"),
          array_join(slice(col("toks"),
            (col("g") * 3 + 1).cast("int"), lit(3)), " ").as("gtext"),
          size(slice(col("toks"),
            (col("g") * 3 + 1).cast("int"), lit(3))).cast("long").as("gtok"))
        .withColumn("masked",
          conv(substring(md5(concat_ws(":", col("doc_id"), col("g"))),
            1, 8), 16, 10).cast("long") % 20 === 0)
        .withColumn("fp",
          conv(substring(md5(concat_ws("|", col("doc_id"), col("g"),
            col("gtext"), when(col("masked"), lit("m")).otherwise(lit("k")))),
            1, 8), 16, 10).cast("long"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_groups"),
          sum(when(col("masked"), 1L).otherwise(0L)).as("n_masked_groups"),
          sum(col("gtok")).as("n_tokens"),
          sum(when(col("masked"), col("gtok")).otherwise(0L))
            .as("n_masked_tokens"),
          sum(col("fp")).as("fingerprint"))
        .select(col("lang"), col("n_groups"), col("n_masked_groups"),
          col("n_tokens"), col("n_masked_tokens"),
          expr("n_masked_tokens * 1000000 div n_tokens").as("masked_ppm"),
          col("fingerprint"))
        .orderBy(col("lang"))
    },
    """WITH d AS (
        SELECT doc_id, lang, string_split(text, ' ') AS toks
        FROM documents WHERE len(string_split(text, ' ')) >= 1),
      g AS (
        SELECT doc_id, lang, CAST(gi AS BIGINT) AS g,
          array_to_string(list_slice(toks,
            CAST(gi*3+1 AS INT), CAST(gi*3+3 AS INT)), ' ') AS gtext,
          CAST(len(list_slice(toks,
            CAST(gi*3+1 AS INT), CAST(gi*3+3 AS INT))) AS BIGINT) AS gtok
        FROM d, UNNEST(range(0, (len(toks) + 2) // 3)) AS t(gi)),
      m AS (
        SELECT *,
          CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
            CAST(g AS VARCHAR)), 1, 8)) AS BIGINT) % 20 = 0 AS masked
        FROM g),
      f AS (
        SELECT lang, gtok, masked,
          CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|' ||
            CAST(g AS VARCHAR) || '|' || gtext || '|' ||
            CASE WHEN masked THEN 'm' ELSE 'k' END), 1, 8)) AS BIGINT)
            AS fp
        FROM m)
      SELECT lang, COUNT(*) AS n_groups,
        CAST(SUM(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT)
          AS n_masked_groups,
        CAST(SUM(gtok) AS BIGINT) AS n_tokens,
        CAST(SUM(CASE WHEN masked THEN gtok ELSE 0 END) AS BIGINT)
          AS n_masked_tokens,
        CAST(SUM(CASE WHEN masked THEN gtok ELSE 0 END) * 1000000
          // SUM(gtok) AS BIGINT) AS masked_ppm,
        CAST(SUM(fp) AS BIGINT) AS fingerprint
      FROM f GROUP BY 1 ORDER BY lang""")

  /** BUCKETED JOIN-SIZE ESTIMATION (the AGMS/sketch family readout an
    * optimizer needs before picking a join strategy): |A ⋈ B| on
    * orders.o_orderkey × lineitem.l_orderkey estimated from per-bucket
    * key-count products at 64/256/1024 hash buckets, next to the exact
    * join cardinality as the twin column. The bucket estimate
    * Σ_b cntA(b)·cntB(b) equals the true Σ_k a_k·b_k plus the
    * cross-key collision mass inside each bucket, so it always
    * OVER-estimates; the census shows the overestimate collapsing as
    * buckets grow — the skew diagnostic that says how much resolution
    * a runtime re-planner (AQE-style) needs before trusting the
    * estimate.
    *
    * Scale shape: each granularity is two map-side partial hash aggs
    * to ≤buckets rows, broadcast-joined (bucket tables are bounded by
    * construction, never data-sized); the exact twin is a key-count
    * equi-join — hash-only shuffle of (key, count) pairs, the same
    * 16-byte economics as exact dedup. All integer. */
  private val q203 = Q(
    "q203_join_size_estimate",
    (s, dir) => {
      // KEPT the r12 shape after measurement (r13 audit): two rewrites
      // were tried — (a) per-key count frames checkpointed and reused
      // by all granularities (+16% within-JVM: the |keys|-sized
      // checkpoint writes beat the saved scans), (b) one ≤1024-row
      // md5-bucket table per side (h%64 = (h%1024)%64) serving all
      // three granularities (−19% within a warm JVM, but +12..14%
      // drift-adjusted on two cold full benches and 4 alternating
      // cold ONLY-mode runs — the per-pass checkpoint jobs cost more
      // cold than the page-cache-hot extra scans they remove). The
      // 4-scan shape's scans are cheap at any scale the bench reaches;
      // at true scale the bucket tables would be persisted once
      // (SCALE.md storage seam), not checkpointed per query.
      val a = Tables.lineitem(s, dir)
        .select(col("l_orderkey").cast("long").as("k"))
      val b = Tables.orders(s, dir)
        .select(col("o_orderkey").cast("long").as("k"))
      def bkt(n: Int) =
        conv(substring(md5(col("k").cast("string")), 1, 8), 16, 10)
          .cast("long") % n
      def est(n: Int) = {
        val ca = a.groupBy(bkt(n).as("b")).agg(count(lit(1)).as("ca"))
        val cb = b.groupBy(bkt(n).as("b")).agg(count(lit(1)).as("cb"))
        ca.join(broadcast(cb), "b")
          .agg(sum(col("ca") * col("cb")).as("est_rows"))
          .select(lit(n.toLong).as("buckets"), col("est_rows"))
      }
      val exact = a.groupBy(col("k")).agg(count(lit(1)).as("ca"))
        .join(b.groupBy(col("k")).agg(count(lit(1)).as("cb")), "k")
        .agg(sum(col("ca") * col("cb")).as("exact_rows"))
      est(64).union(est(256)).union(est(1024))
        .crossJoin(broadcast(exact))
        .select(col("buckets"), col("est_rows"), col("exact_rows"),
          expr("(est_rows - exact_rows) * 1000000 div exact_rows")
            .as("overest_ppm"))
        .orderBy(col("buckets"))
    },
    """WITH a AS (SELECT CAST(l_orderkey AS BIGINT) AS k FROM lineitem),
      b AS (SELECT CAST(o_orderkey AS BIGINT) AS k FROM orders),
      ha AS (SELECT k, CAST(('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 8))
          AS BIGINT) AS h FROM a),
      hb AS (SELECT k, CAST(('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 8))
          AS BIGINT) AS h FROM b),
      ex AS (SELECT CAST(SUM(ca.n * cb.n) AS BIGINT) AS exact_rows FROM
        (SELECT k, COUNT(*) AS n FROM a GROUP BY 1) ca JOIN
        (SELECT k, COUNT(*) AS n FROM b GROUP BY 1) cb USING (k)),
      est AS (
        SELECT CAST(64 AS BIGINT) AS buckets,
          CAST(SUM(ca.n * cb.n) AS BIGINT) AS est_rows
        FROM (SELECT h % 64 AS bkt, COUNT(*) AS n FROM ha GROUP BY 1) ca
        JOIN (SELECT h % 64 AS bkt, COUNT(*) AS n FROM hb GROUP BY 1) cb
          USING (bkt)
        UNION ALL
        SELECT 256, CAST(SUM(ca.n * cb.n) AS BIGINT)
        FROM (SELECT h % 256 AS bkt, COUNT(*) AS n FROM ha GROUP BY 1) ca
        JOIN (SELECT h % 256 AS bkt, COUNT(*) AS n FROM hb GROUP BY 1) cb
          USING (bkt)
        UNION ALL
        SELECT 1024, CAST(SUM(ca.n * cb.n) AS BIGINT)
        FROM (SELECT h % 1024 AS bkt, COUNT(*) AS n FROM ha GROUP BY 1) ca
        JOIN (SELECT h % 1024 AS bkt, COUNT(*) AS n FROM hb GROUP BY 1) cb
          USING (bkt))
      SELECT e.buckets, e.est_rows, ex.exact_rows,
        (e.est_rows - ex.exact_rows) * 1000000 // ex.exact_rows
          AS overest_ppm
      FROM est e CROSS JOIN ex ORDER BY buckets""")

  /** B-BIT MINWISE HASHING agreement census (Li & König, "b-bit
    * minwise hashing", WWW 2010: store only the lowest b bits of each
    * minhash component and pay a known collision inflation instead of
    * 4 bytes/component): over the LSH candidate pairs, the full
    * 32-bit 8-component signature agreement crossed with the 8-BIT
    * (last hex byte) agreement — matches_b8 ≥ matches_full always,
    * and the (full, b8) census reads off exactly how much agreement is
    * collision inflation at this corpus's similarity profile. The
    * storage side of the q172 calibration: together they answer "how
    * wide and how deep must signatures be at 100 TB".
    *
    * Scale shape: signatures and pairs come from the session cache;
    * the projection compares 16 bounded string fields per pair; the
    * census is ≤ 81 rows. No shingle work, no text. */
  private val q204 = Q(
    "q204_bbit_minwise",
    (s, dir) => {
      val cand = SharedLsh.candidatePairs(s, dir)
      val sig = SharedLsh.signatures(s, dir)
      val sa = sig.select(col("doc_id").as("doc_a") +:
        (0 until 8).map(j => col(s"h$j").as(s"a$j")): _*)
      val sb = sig.select(col("doc_id").as("doc_b") +:
        (0 until 8).map(j => col(s"h$j").as(s"b$j")): _*)
      // cand (pair-proportional) broadcasts; sb is the full signature
      // table — corpus-proportional, never broadcast (q172's rule)
      sa.join(broadcast(cand), "doc_a")
        .join(sb.hint("shuffle_hash"), "doc_b")
        .select(
          (0 until 8).map(j =>
            when(col(s"a$j") === col(s"b$j"), 1L).otherwise(0L))
            .reduce(_ + _).as("matches_full"),
          (0 until 8).map(j =>
            when(substring(col(s"a$j"), 7, 2) ===
              substring(col(s"b$j"), 7, 2), 1L).otherwise(0L))
            .reduce(_ + _).as("matches_b8"))
        .groupBy(col("matches_full"), col("matches_b8"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("matches_full"), col("matches_b8"))
    },
    {
      val b8 = (0 until 8)
        .map(j => s"(CASE WHEN substr(a.h$j, 7, 2) = substr(b.h$j, 7, 2) THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH ${OracleSql.lshPairs("cand")},
      m AS (SELECT $matchesSql AS matches_full, $b8 AS matches_b8
        FROM cand c JOIN sig a ON a.doc_id = c.doc_a
                    JOIN sig b ON b.doc_id = c.doc_b)
      SELECT CAST(matches_full AS BIGINT) AS matches_full,
        CAST(matches_b8 AS BIGINT) AS matches_b8,
        COUNT(*) AS n_pairs
      FROM m GROUP BY 1, 2 ORDER BY matches_full, matches_b8"""
    })

  /** NAIVE-BAYES QUALITY-CLASSIFIER DISTILLATION — the fastText-style
    * reference-corpus filter (GPT-3 / CCNet / DCLM lineage: train a
    * cheap linear classifier to reproduce an expensive quality gate,
    * then run the classifier at corpus scale): documents are labeled
    * by the q62 composite quality rule (score ≥ 0.5), per-token class
    * counts are learned over the token stream (min-df 5), and every
    * document is scored by the CONFIDENCE-THRESHOLDED log-odds vote —
    * a distinct token votes +1/−1 only where its class odds exceed
    * 2:1, decided by the exact integer cross-multiplications
    * cH·NL > 2·cL·NH / cL·NH > 2·cH·NL (q143's recipe: no log, no
    * float, engine-exact); balanced tokens ABSTAIN, which is what
    * makes the vote a calibrated abstaining classifier rather than a
    * noise sum. Because the synthetic corpus draws every document
    * from one shared vocabulary, a class-correlated marker phrase is
    * appended to every 3rd document (the q55/q63 sentinel discipline —
    * guarantees the learnable-signal path executes); the census then
    * reads the canonical abstention story: marker docs land at ±3
    * with pure labels, unmarked docs abstain at 0.
    *
    * Output: score bucket × true label with per-cell doc counts and
    * score extremes — bucket purity IS the classifier's in-sample
    * precision readout, and the 0-bucket mass is its coverage gap.
    *
    * Scale shape: training is one hash agg over the exploded token
    * stream (map-side combine; vocabulary-sized result, sublinear in
    * the corpus); class totals are ONE broadcast row; scoring joins
    * the doc-distinct token relation to the vocab on the md5 token
    * key (hash-only shuffle) and sums integers per doc; the census is
    * ≤ 22 rows. Nothing corpus-sized ever sits on the driver. */
  private val q205 = Q(
    "q205_quality_classifier",
    (s, dir) => {
      import graft.operators.TextAnalysis
      val lab = Tables.documents(s, dir)
        .select(col("doc_id"),
          (TextAnalysis.qualityScore(col("text")) >= 0.5).as("hi"),
          col("text"))
        .select(col("doc_id"), col("hi"),
          when(col("hi") && col("doc_id") % 3 === 0,
            concat(col("text"), lit(" editorial citation verified")))
            .when(!col("hi") && col("doc_id") % 3 === 0,
              concat(col("text"), lit(" clickbait spam unsubscribe")))
            .otherwise(col("text")).as("txt"))
      // ONE corpus pass (guide §1.2/§2.3): the r12 shape ran the
      // qualityScore labeling + tokenize + explode FOUR times (vocab,
      // totals, doc-distinct scoring relation, final label join). Now
      // the (doc_id, hi, md5-token) occurrence frame materializes once
      // — explode_outer keeps token-less docs as a null-th row, so the
      // final census needs no separate label pass or left join — and:
      //  * class totals come from the UNFILTERED vocab aggregate
      //    (Σ per-token counts ≡ the token-stream totals), not a
      //    second corpus scan;
      //  * the vote expression's null semantics (unmatched tokens
      //    vote 0) replace the old coalesce(score, 0) left join —
      //    every doc survives the per-doc aggregate via its occurrence
      //    rows, so absent-doc handling never arises.
      val occ = lab.select(col("doc_id"), col("hi"),
        explode_outer(filter(split(col("txt"), " "),
          t => length(t) > 0)).as("tok"))
        .select(col("doc_id"), col("hi"), md5(col("tok")).as("th"))
        .localCheckpoint()
      val vocab0 = occ.filter(col("th").isNotNull)
        .groupBy(col("th"))
        .agg(sum(when(col("hi"), 1L).otherwise(0L)).as("ch"),
          sum(when(col("hi"), 0L).otherwise(1L)).as("cl"))
        .localCheckpoint() // read by the min-df filter AND the totals
      val vocab = vocab0.filter(col("ch") + col("cl") >= 5L)
      val tot = vocab0.agg(
        sum(col("ch")).as("nh"), sum(col("cl")).as("nl"))
      val scored = occ.distinct()
        .join(vocab, Seq("th"), "left")
        .crossJoin(broadcast(tot))
        .select(col("doc_id"), col("hi"),
          when(col("ch") * col("nl") > lit(2L) * col("cl") * col("nh"), 1L)
            .when(col("cl") * col("nh") > lit(2L) * col("ch") * col("nl"),
              -1L)
            .otherwise(0L).as("v"))
        .groupBy(col("doc_id"), col("hi"))
        .agg(sum(col("v")).as("score"))
      scored
        .select(col("hi").cast("long").as("label_hi"), col("score"))
        .select(col("label_hi"),
          greatest(lit(-5L), least(lit(5L), col("score"))).as("bucket"),
          col("score"))
        .groupBy(col("bucket"), col("label_hi"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("score")).as("min_score"),
          max(col("score")).as("max_score"))
        .orderBy(col("bucket"), col("label_hi"))
    },
    {
      val stopList = graft.operators.TextAnalysis.EnStopwords
        .map(w => s"t = '$w'").mkString(" OR ")
      s"""WITH d0 AS (SELECT doc_id, string_split(text, ' ') AS t,
          len(regexp_extract_all(text, '[.,!?;:]')) AS np
        FROM documents),
      lab AS (SELECT doc_id,
          (LEAST(1.0, len(t) / 100.0) * 0.5 +
           (len(list_filter(t, t -> ($stopList))) / len(t)) * 0.3 +
           (1.0 - LEAST(1.0, np / 20.0)) * 0.2) >= 0.5 AS hi
        FROM d0),
      d AS (SELECT doc.doc_id, lab.hi,
          CASE WHEN lab.hi AND doc.doc_id % 3 = 0
               THEN doc.text || ' editorial citation verified'
               WHEN (NOT lab.hi) AND doc.doc_id % 3 = 0
               THEN doc.text || ' clickbait spam unsubscribe'
               ELSE doc.text END AS txt
        FROM documents doc JOIN lab USING (doc_id)),
      tok AS (SELECT doc_id, hi, u.tok
        FROM d, UNNEST(string_split(txt, ' ')) AS u(tok)
        WHERE len(u.tok) > 0),
      voc AS (SELECT tok,
          CAST(SUM(CASE WHEN hi THEN 1 ELSE 0 END) AS BIGINT) AS ch,
          CAST(SUM(CASE WHEN hi THEN 0 ELSE 1 END) AS BIGINT) AS cl
        FROM tok GROUP BY 1 HAVING COUNT(*) >= 5),
      tt AS (SELECT
          CAST(SUM(CASE WHEN hi THEN 1 ELSE 0 END) AS BIGINT) AS nh,
          CAST(SUM(CASE WHEN hi THEN 0 ELSE 1 END) AS BIGINT) AS nl
        FROM tok),
      dt AS (SELECT DISTINCT doc_id, tok FROM tok),
      sc AS (SELECT dt.doc_id, CAST(SUM(
            CASE WHEN v.ch * tt.nl > 2 * v.cl * tt.nh THEN 1
                 WHEN v.cl * tt.nh > 2 * v.ch * tt.nl THEN -1
                 ELSE 0 END) AS BIGINT) AS score
        FROM dt JOIN voc v USING (tok) CROSS JOIN tt
        GROUP BY 1),
      fin AS (SELECT CAST(lab.hi AS BIGINT) AS label_hi,
          COALESCE(sc.score, 0) AS score
        FROM lab LEFT JOIN sc USING (doc_id))
      SELECT GREATEST(-5, LEAST(5, score)) AS bucket,
        label_hi, COUNT(*) AS n_docs,
        CAST(MIN(score) AS BIGINT) AS min_score,
        CAST(MAX(score) AS BIGINT) AS max_score
      FROM fin GROUP BY 1, 2 ORDER BY bucket, label_hi"""
    })

  /** TEMPERATURE-SCALED LANGUAGE MIXTURE (the multilingual α-sampling
    * rule of mC4 / XLM-R: sample language i ∝ p_i^α so low-resource
    * languages are upweighted; α = 0.5 here, i.e. √p): per-language
    * token mass, its raw corpus share, the α-scaled sampling weight,
    * and the resulting upsampling boost. Engine-exact float recipe:
    * the ONLY float op is one sqrt per LANGUAGE over an exact integer
    * token count, immediately quantized to the ⌊x·10⁶⌋ grid (q126's
    * recipe) — all shares and boosts are integer ppm arithmetic over
    * the quantized values, so the sum order can't perturb anything.
    *
    * Scale shape: one partial-agg census to |langs| rows, two bounded
    * broadcast scalars; the corpus is read once. */
  private val q207 = Q(
    "q207_alpha_mixture",
    (s, dir) => {
      import graft.operators.TextAnalysis
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
          // token mass and Σ⌊√mass·10⁶⌋ × 10⁶ — DECIMAL(38)
          // numerators; the boost replicates the two widened inner
          // expressions token-identically (outer operands are ≤ 10⁶
          // ppm values, Long-safe)
          expr("""CAST(CAST(n_tokens AS DECIMAL(38,0)) * 1000000
            div tot AS BIGINT)""").as("p_ppm"),
          expr("""CAST(CAST(sqrt_fp AS DECIMAL(38,0)) * 1000000
            div ssum AS BIGINT)""").as("w_ppm"),
          expr("""CAST(CAST(sqrt_fp AS DECIMAL(38,0)) * 1000000
            div ssum AS BIGINT) * 1000000
            div CAST(CAST(n_tokens AS DECIMAL(38,0)) * 1000000
            div tot AS BIGINT)""").as("boost_ppm"))
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
        CAST(CAST(sqrt_fp AS HUGEINT) * 1000000 // ssum AS BIGINT)
          * 1000000 //
          CAST(CAST(n_tokens AS HUGEINT) * 1000000 // tot AS BIGINT)
          AS boost_ppm
      FROM sq CROSS JOIN tot ORDER BY lang""")

  /** MEMORIZATION-MASS CENSUS (Lee et al., "Deduplicating Training
    * Data Makes Language Models Better": the fraction of a document's
    * positions covered by substrings that also occur elsewhere is the
    * per-document memorization-risk readout): per document, the share
    * of its char-20-gram positions whose gram occurs in ≥ 2 distinct
    * documents, bucketed into deciles per source — the distributional
    * companion to q86's span detector (which says WHERE the dup spans
    * are, this says HOW MUCH of each source is duplicated mass).
    *
    * Scale shape: rides the session-shared pre-partitioned
    * [[SharedGrams]] gram table (one explode per session+input, the
    * q75/q86 artifact); the dup-gram set is a hash-only distinct-count
    * agg on 16-byte keys; the per-doc count is a semi join on the
    * pre-partitioned hash column (no re-shuffle of the gram table);
    * the census is ≤ |sources|·10 rows. */
  private val q208 = Q(
    "q208_memorization_census",
    (s, dir) => {
      // ONE h-keyed pass (guide §2.4): "gram occurs in ≥2 distinct
      // docs" ⟺ min(doc_id) ≠ max(doc_id) over the gram's rows, so a
      // single h-partitioned window replaces the r12 shape's
      // countDistinct aggregate PLUS the semi join — which re-shuffled
      // the corpus-sized gram table on h a second time (the artifact's
      // pre-partitioning dies at its localCheckpoint: Unknown-
      // Partitioning, so the scaladoc's "no re-shuffle" never held).
      // The window's per-group state is two longs; groups stream.
      val wh = org.apache.spark.sql.expressions.Window
        .partitionBy(col("h"))
      val per = SharedGrams.grams(s, dir).select(col("h"), col("doc_id"))
        .withColumn("mn", min(col("doc_id")).over(wh))
        .withColumn("mx", max(col("doc_id")).over(wh))
        .filter(col("mn") =!= col("mx"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup"))
      Tables.documents(s, dir)
        .where(length(col("text")) >= SharedGrams.N)
        .select(col("doc_id"), col("source"),
          (length(col("text")) - (SharedGrams.N - 1)).cast("long")
            .as("n_pos"))
        .join(per, Seq("doc_id"), "left")
        .select(col("source"),
          coalesce(col("n_dup"), lit(0L)).as("n_dup"), col("n_pos"))
        .select(col("source"),
          least(lit(9L), expr("n_dup * 10 div n_pos")).as("decile"),
          col("n_dup"), col("n_pos"))
        .groupBy(col("source"), col("decile"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_dup")).as("dup_positions"),
          sum(col("n_pos")).as("total_positions"))
        .orderBy(col("source"), col("decile"))
    },
    """WITH g AS (SELECT doc_id, substr(text, CAST(i AS INT), 20) AS gr
        FROM documents, UNNEST(range(1, length(text) - 18)) AS t(i)
        WHERE length(text) >= 20),
      dup AS (SELECT gr FROM (
          SELECT gr, COUNT(DISTINCT doc_id) AS nd FROM g GROUP BY 1)
        WHERE nd >= 2),
      per AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup
        FROM g JOIN dup USING (gr) GROUP BY 1),
      d AS (SELECT doc_id, source,
          CAST(length(text) - 19 AS BIGINT) AS n_pos
        FROM documents WHERE length(text) >= 20),
      f AS (SELECT source,
          LEAST(9, COALESCE(per.n_dup, 0) * 10 // n_pos) AS decile,
          COALESCE(per.n_dup, 0) AS n_dup, n_pos
        FROM d LEFT JOIN per USING (doc_id))
      SELECT source, CAST(decile AS BIGINT) AS decile,
        COUNT(*) AS n_docs,
        CAST(SUM(n_dup) AS BIGINT) AS dup_positions,
        CAST(SUM(n_pos) AS BIGINT) AS total_positions
      FROM f GROUP BY 1, 2 ORDER BY source, decile""")

  /** SPEARMAN RANK CORRELATION between the quality score and the
    * repetition ratio, per language — the filter-redundancy audit a
    * curation pipeline runs before stacking rules: if two filters
    * rank documents near-identically (|ρ| → 1) the second adds no
    * selection power, and the quality score's repetition term (via
    * its stopword interplay) makes the answer non-obvious. ALL-INTEGER
    * Spearman: both scores quantize to the ⌊x·10⁶⌋ grid, ranks are
    * row_number with the doc_id tiebreak (deterministic, no tie
    * midpoints), and ρ = 1 − 6Σd²/(n(n²−1)) is exact rational
    * arithmetic — Σd² is an exact BIGINT, the ×10⁶ ratio runs on
    * DECIMAL(38) (Σd² can reach n³/3, so the widened multiply is the
    * overflow guard; both engines' integer-division semantics agree
    * because the operand is non-negative).
    *
    * Scale shape: two map-only score projections, one rank pass per
    * variable through [[graft.operators.GroupedRank.withRank]]'s
    * two-phase range-partitioned kernel (a real crawl is ~50% one
    * language — a `Window.partitionBy(lang)` sort would put half the
    * corpus in ONE task; the kernel's sorts are bucket-bounded), one
    * |langs|-row census. */
  private val q210 = Q(
    "q210_rank_correlation",
    (s, dir) => {
      import graft.operators.{GroupedRank, TextAnalysis}
      val scored = Tables.documents(s, dir)
        .select(col("lang"), col("doc_id"),
          floor(TextAnalysis.qualityScore(col("text")) * 1e6)
            .cast("long").as("s1"),
          floor(TextAnalysis.repetitionRatio(col("text")) * 1e6)
            .cast("long").as("s2"))
        // the kernel's range sampler + exchange would otherwise
        // re-evaluate the scoring expressions 2-3×
        .localCheckpoint()
      val ranked1 = GroupedRank.withRank(scored, "lang",
          Seq("s1", "doc_id"))
        .withColumnRenamed("rn", "r1").drop("cnt", "s1")
        // the second kernel's sampler would otherwise re-run kernel 1's
        // window + offset join (narrow per-doc rows — cheap pin)
        .localCheckpoint()
      GroupedRank.withRank(ranked1, "lang", Seq("s2", "doc_id"))
        .withColumnRenamed("rn", "r2").drop("cnt", "s2", "doc_id")
        .select(col("lang"),
          ((col("r1") - col("r2")) * (col("r1") - col("r2"))).as("d2"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("d2")).as("sum_d2"))
        .select(col("lang"), col("n"), col("sum_d2"),
          // the DENOMINATOR is widened too (not just Σd²): n(n²−1) in
          // Long overflows past n ≈ 2.1M docs per language and ANSI
          // would throw, while the oracle's HUGEINT keeps working —
          // DECIMAL(38,0) mirrors that headroom exactly
          expr("""1000000 - CAST(CAST(sum_d2 AS DECIMAL(38,0)) * 6000000
            div (CAST(n AS DECIMAL(38,0)) * (n * n - 1)) AS BIGINT)""")
            .as("rho_ppm"))
        .orderBy(col("lang"))
    },
    {
      val stopList = graft.operators.TextAnalysis.EnStopwords
        .map(w => s"t = '$w'").mkString(" OR ")
      s"""WITH d AS (SELECT lang, doc_id, string_split(text, ' ') AS t,
          len(regexp_extract_all(text, '[.,!?;:]')) AS np
        FROM documents),
      scored AS (SELECT lang, doc_id,
          CAST(FLOOR((LEAST(1.0, len(t) / 100.0) * 0.5 +
            (len(list_filter(t, t -> ($stopList))) / len(t)) * 0.3 +
            (1.0 - LEAST(1.0, np / 20.0)) * 0.2) * 1000000) AS BIGINT)
            AS s1,
          CAST(FLOOR((CASE WHEN len(t) < 2 THEN 0.0
            ELSE 1.0 - CAST(len(list_distinct(
                list_transform(range(1, len(t)),
                  i -> t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1])))
              AS DOUBLE) / CAST(len(t) - 1 AS DOUBLE)
          END) * 1000000) AS BIGINT) AS s2
        FROM d),
      rk AS (SELECT lang,
          CAST(ROW_NUMBER() OVER (PARTITION BY lang
            ORDER BY s1, doc_id) AS BIGINT) AS r1,
          CAST(ROW_NUMBER() OVER (PARTITION BY lang
            ORDER BY s2, doc_id) AS BIGINT) AS r2
        FROM scored),
      ag AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM((r1 - r2) * (r1 - r2)) AS BIGINT) AS sum_d2
        FROM rk GROUP BY 1)
      SELECT lang, n, sum_d2,
        1000000 - CAST(CAST(sum_d2 AS HUGEINT) * 6000000 //
          (CAST(n AS HUGEINT) * (n * n - 1)) AS BIGINT) AS rho_ppm
      FROM ag ORDER BY lang"""
    })

  /** JSONL TRAINING-EXPORT FINGERPRINT — the serialization gate for
    * the interchange format every training stack actually ingests
    * (one JSON object per line): documents serialize to compact JSON
    * ({"doc_id":…,"lang":…,"text":…}, both engines' canonical struct
    * rendering), shard by doc_id % 8, and each shard reports line
    * count, byte mass, and an order-insensitive content fingerprint
    * (Σ of each line's leading-32-bit md5, the q202 convention) —
    * pinning the exact serialized BYTES corpus-wide without ever
    * moving a serialized line through a shuffle. A wrong escape, a
    * float-format drift, or a dropped field anywhere in the export
    * path flips the fingerprint.
    *
    * Scale shape: serialization and hashing are map-only codegen'd
    * projections; only (shard, 3 BIGINTs) census rows shuffle. */
  private val q211 = Q(
    "q211_jsonl_export",
    (s, dir) => {
      val line = to_json(struct(col("doc_id"), col("lang"), col("text")))
      Tables.documents(s, dir)
        .select((col("doc_id") % 8).as("shard"), line.as("line"))
        .select(col("shard"),
          length(col("line")).cast("long").as("nb"),
          conv(substring(md5(col("line")), 1, 8), 16, 10)
            .cast("long").as("fp32"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_lines"), sum(col("nb")).as("n_bytes"),
          sum(col("fp32")).as("fingerprint"))
        .orderBy(col("shard"))
    },
    """WITH j AS (SELECT doc_id % 8 AS shard,
          to_json(struct_pack(doc_id := doc_id, lang := lang,
            text := text))::VARCHAR AS line
        FROM documents)
      SELECT shard, COUNT(*) AS n_lines,
        CAST(SUM(length(line)) AS BIGINT) AS n_bytes,
        CAST(SUM(CAST(('0x' || substr(md5(line), 1, 8)) AS BIGINT))
          AS BIGINT) AS fingerprint
      FROM j GROUP BY 1 ORDER BY shard""")

  /** INCREMENTAL CONNECTED COMPONENTS — the clustering-stage
    * completion of the incremental family (q96 maintains the PAIR set
    * incrementally, q173/q191 the chunk/KMV indexes; this maintains
    * the COMPONENT MAP): the stored artifact is the history docs'
    * (doc, component) map (built once from history-only star edges);
    * a delta batch contributes only q96's incremental candidate pairs
    * (new-vs-index + new-vs-new — no history signature is ever
    * recomputed), and the merge runs CC over stored-map STAR EDGES ∪
    * delta pairs. Star edges preserve history reachability exactly
    * and stored labels are component minima (real member ids), so
    * incremental == from-scratch as a SET EQUALITY — which is
    * precisely what the oracle certifies: it replays full-corpus CC
    * from scratch (q40's recursive walk) and the hash must match.
    *
    * Scale shape: the merge graph is |history map| + |delta pairs|
    * edges — independent of history PAIR volume (the point: a mature
    * corpus's pair set dwarfs its component map); CC is the
    * large/small-star loop (hash-only integer edges, O(log² n)
    * rounds). */
  private val q212 = Q(
    "q212_incremental_cc",
    // kernel in SharedLsh.incrementalComponents, cached per
    // session+input like the from-scratch map (both CC loops are
    // deterministic exact fixpoints — the merged map is the artifact
    // an incremental pipeline persists between batches)
    (s, dir) => SharedLsh.incrementalComponents(s, dir)
      .orderBy(col("doc_id")),
    s"""WITH RECURSIVE
      ${OracleSql.lshPairs(mat = true)},
      ${OracleSql.componentWalk("pairs")}
      SELECT doc_id, component FROM comp ORDER BY 1""")

  /** SIMPSON DIVERSITY / EFFECTIVE VOCABULARY per source — the
    * second-moment companion to q198's hapax census (first moment:
    * type counts; this: concentration): Simpson's index 1 − Σp_i²
    * over the per-source token distribution, plus the effective
    * vocabulary 1/Σp_i² (the "how many equally-common tokens would
    * look like this" number a mixture planner compares across
    * sources before weighting). ALL-INTEGER: Σtf² is an exact BIGINT,
    * the two ratios run on DECIMAL(38) against n_tokens² (the
    * overflow guard at corpus scale — Σtf² reaches n² when one token
    * dominates), non-negative operands so div/// agree.
    *
    * Scale shape: one (source, token-hash) hash agg with map-side
    * combine, then a |sources|-row census. Nothing else shuffles. */
  private val q213 = Q(
    "q213_simpson_diversity",
    (s, dir) => {
      import graft.operators.TextAnalysis
      val tf = Tables.documents(s, dir)
        .select(col("source"),
          explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .where(length(col("tok")) > 0)
        .groupBy(col("source"), md5(col("tok")).as("th"))
        .agg(count(lit(1)).as("tf"))
      tf.groupBy(col("source"))
        .agg(count(lit(1)).as("n_distinct"),
          sum(col("tf")).as("n_tokens"),
          sum(col("tf") * col("tf")).as("sum_tf2"))
        .select(col("source"), col("n_distinct"), col("n_tokens"),
          col("sum_tf2"),
          expr("""1000000 - CAST(CAST(sum_tf2 AS DECIMAL(38,0)) * 1000000
            div (n_tokens * n_tokens) AS BIGINT)""").as("simpson_ppm"),
          expr("""CAST(CAST(n_tokens AS DECIMAL(38,0)) * n_tokens
            div sum_tf2 AS BIGINT)""").as("eff_vocab"))
        .orderBy(col("source"))
    },
    """WITH tf AS (SELECT source, tok, COUNT(*) AS tf FROM (
          SELECT source, unnest(string_split(text, ' ')) AS tok
          FROM documents)
        WHERE len(tok) > 0 GROUP BY 1, 2),
      ag AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_distinct,
          CAST(SUM(tf) AS BIGINT) AS n_tokens,
          CAST(SUM(tf * tf) AS BIGINT) AS sum_tf2
        FROM tf GROUP BY 1)
      SELECT source, n_distinct, n_tokens, sum_tf2,
        1000000 - CAST(CAST(sum_tf2 AS HUGEINT) * 1000000 //
          (CAST(n_tokens AS HUGEINT) * n_tokens) AS BIGINT) AS simpson_ppm,
        CAST(CAST(n_tokens AS HUGEINT) * n_tokens // sum_tf2 AS BIGINT)
          AS eff_vocab
      FROM ag ORDER BY source""")

  /** NEAR-DUP COMPONENT-SIZE HISTOGRAM — the cluster-mass census a
    * dedup run reports before applying keep-one: how many components
    * of size 2, 3, 4, 5, 6–10, 11+ exist, how many documents they
    * hold, and the dedup yield (docs − components = removals if one
    * keeper per cluster). The distribution is the transitive-merge
    * health readout next to q197's edge-density view: mass
    * accumulating in the open 11+ bucket is the first sign CC is
    * chaining unrelated families (q168's LPA contrast exists for
    * exactly that case).
    *
    * Scale shape: rides the session-cached component map; one
    * component-keyed count, one ≤6-row census. */
  private val q215 = Q(
    "q215_component_sizes",
    (s, dir) => {
      val sizes = SharedLsh.components(s, dir)
        .groupBy(col("component")).agg(count(lit(1)).as("sz"))
      sizes.select(
          when(col("sz") <= 5L, col("sz").cast("string"))
            .when(col("sz") <= 10L, lit("6-10"))
            .otherwise(lit("11+")).as("size_bucket"),
          col("sz"))
        .groupBy(col("size_bucket"))
        .agg(count(lit(1)).as("n_components"),
          sum(col("sz")).as("n_docs"),
          sum(col("sz") - 1L).as("n_removals"))
        .orderBy(col("size_bucket"))
    },
    s"""WITH RECURSIVE
      ${OracleSql.lshPairs(mat = true)},
      ${OracleSql.componentWalk("pairs", matEdges = true, matComp = true)},
      sz AS (SELECT component, CAST(COUNT(*) AS BIGINT) AS sz
        FROM comp GROUP BY 1)
      SELECT CASE WHEN sz <= 5 THEN CAST(sz AS VARCHAR)
          WHEN sz <= 10 THEN '6-10' ELSE '11+' END AS size_bucket,
        COUNT(*) AS n_components,
        CAST(SUM(sz) AS BIGINT) AS n_docs,
        CAST(SUM(sz - 1) AS BIGINT) AS n_removals
      FROM sz GROUP BY 1 ORDER BY size_bucket""")

  /** DUPLICATE-PAIR SPACING IN THE TRAINING ORDER — the memorization
    * readout that joins the dedup family to the loader-order family
    * (q218/q221/q224): for every LSH-screened near-dup pair, how far
    * apart do the two copies land in the md5-shuffled epoch order?
    * Decile census over |rank_a − rank_b| (decile of the corpus span)
    * with per-decile mean gap ppm. A uniform shuffle puts pair
    * distances on the triangular law (P(d) ∝ n−d, so decile counts
    * fall ~19%→1%); copies CLUMPED in early deciles mean gradient
    * updates hit the duplicate twice within a short horizon — the
    * spacing regime where verbatim memorization is strongest. The
    * check a curriculum/shuffle design runs before trusting "dups are
    * rare enough".
    *
    * Scale shape: ranks come from the global two-phase prefix-rank
    * kernel (no global window); the pair joins ship (doc_id, rank)
    * ints keyed by doc_id; census rows: 10. Mean gaps in DECIMAL(38)
    * (Σdist ≤ |pairs|·n). */
  private val q225 = Q(
    "q225_dup_spacing",
    (s, dir) => {
      val cand = SharedLsh.candidatePairs(s, dir)
      val ranks = graft.operators.WeightedSample.withCumWeight(
          Tables.documents(s, dir).select(col("doc_id"),
            md5(col("doc_id").cast("string")).as("ke"),
            lit(1L).as("one")), "ke", "one")
        .select(col("doc_id"), col("cum").as("rk"))
      val tot = Tables.documents(s, dir).agg(count(lit(1)).as("n"))
      cand
        .join(ranks.select(col("doc_id").as("doc_a"), col("rk").as("ra")),
          "doc_a")
        .join(ranks.select(col("doc_id").as("doc_b"), col("rk").as("rb")),
          "doc_b")
        .select(abs(col("ra") - col("rb")).as("dist"))
        .crossJoin(broadcast(tot))
        .select(expr("dist * 10 div n").as("decile"), col("dist"),
          col("n"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_pairs"), sum(col("dist")).as("sd"),
          max(col("n")).as("nn"))
        .select(col("decile"), col("n_pairs"),
          // denominator widened too: nn·n_pairs (corpus size ×
          // per-decile pair count) overflows Long past ~9.2e18 well
          // before the widened numerator matters
          expr("""CAST(CAST(sd AS DECIMAL(38,0)) * 1000000
            div (CAST(nn AS DECIMAL(38,0)) * n_pairs) AS BIGINT)""")
            .as("avg_gap_ppm"))
        .orderBy(col("decile"))
    },
    s"""WITH ${OracleSql.lshPairs("cand")},
      r AS (SELECT doc_id, ROW_NUMBER() OVER (
          ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rk FROM documents),
      t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
      p AS (SELECT ABS(ra.rk - rb.rk) AS dist
        FROM cand JOIN r ra ON ra.doc_id = cand.doc_a
                  JOIN r rb ON rb.doc_id = cand.doc_b),
      d AS (SELECT dist * 10 // n AS decile, dist, n
        FROM p CROSS JOIN t)
      SELECT CAST(decile AS BIGINT) AS decile,
        CAST(COUNT(*) AS BIGINT) AS n_pairs,
        CAST(CAST(SUM(dist) AS HUGEINT) * 1000000
          // (CAST(MAX(n) AS HUGEINT) * COUNT(*)) AS BIGINT) AS avg_gap_ppm
      FROM d GROUP BY 1 ORDER BY decile""")

  /** WINNOWING vs MINHASH-LSH AS A DEDUP SCREEN — the calibration
    * query for q223's fingerprints (the q172/q187/q160 family): pairs
    * sharing ≥2 winnowed fingerprints (df-capped 2..16, the
    * SharedGrams discipline — a boilerplate fingerprint must never
    * drive pair generation) vs the production 2-band LSH candidate
    * set. One-row census: each screen's volume, the agreement core,
    * each side's exclusive pairs, and how much of the LSH screen
    * winnowing captures (ppm). The two screens see DIFFERENT
    * granularities by design — winnowing guarantees shared ≥7-token
    * SPANS, banding estimates whole-document Jaccard — so the
    * exclusive counts are the readout: winnow-only pairs are local
    * syndication LSH's global signature dilutes away; LSH-only pairs
    * are diffuse similarity with no verbatim span.
    *
    * Scale shape: both pair generators are hash-keyed self-joins over
    * df-capped buckets (winnow side capped here, LSH side by the
    * triangle-split kernel); the comparison is a full outer join of
    * two pair SETS, int-keyed. */
  private val q226 = Q(
    "q226_winnow_screen",
    (s, dir) => {
      // the df-capped ≥2-shared pair derivation rides the shared
      // artifact (SharedWinnow.cappedPairs — also q238's input; the
      // screen and its df-cap are Winnow.cappedPairs and Winnow.DfCap)
      val wpairs = SharedWinnow.cappedPairs(s, dir)
        .select(col("doc_a"), col("doc_b"), lit(1L).as("in_w"))
      val lpairs = SharedLsh.candidatePairs(s, dir)
        .select(col("doc_a"), col("doc_b"), lit(1L).as("in_l"))
      wpairs.join(lpairs, Seq("doc_a", "doc_b"), "full")
        .agg(
          sum(coalesce(col("in_w"), lit(0L))).as("n_winnow_pairs"),
          sum(coalesce(col("in_l"), lit(0L))).as("n_lsh_pairs"),
          sum(when(col("in_w").isNotNull && col("in_l").isNotNull, 1L)
            .otherwise(0L)).as("n_both"),
          sum(when(col("in_l").isNull, 1L).otherwise(0L))
            .as("winnow_only"),
          sum(when(col("in_w").isNull, 1L).otherwise(0L)).as("lsh_only"))
        .select(col("n_winnow_pairs"), col("n_lsh_pairs"), col("n_both"),
          col("winnow_only"), col("lsh_only"),
          // pair masses × 10⁶ — DECIMAL(38) numerator (a crawl-scale
          // candidate set passes 9.2e12 pairs; the q210 discipline)
          expr("""CAST(CAST(n_both AS DECIMAL(38,0)) * 1000000
            div greatest(n_lsh_pairs, 1L) AS BIGINT)""")
            .as("lsh_capture_ppm"))
    },
    s"""WITH ${OracleSql.lshPairs("lp")},
      ${OracleSql.winnowFd()},
      ${OracleSql.winnowPairs()},
      j AS (SELECT COALESCE(wp.doc_a, lp.doc_a) AS doc_a,
          CASE WHEN wp.doc_a IS NOT NULL THEN 1 ELSE 0 END AS in_w,
          CASE WHEN lp.doc_a IS NOT NULL THEN 1 ELSE 0 END AS in_l
        FROM wp FULL OUTER JOIN lp
          ON wp.doc_a = lp.doc_a AND wp.doc_b = lp.doc_b)
      SELECT CAST(SUM(in_w) AS BIGINT) AS n_winnow_pairs,
        CAST(SUM(in_l) AS BIGINT) AS n_lsh_pairs,
        CAST(SUM(in_w * in_l) AS BIGINT) AS n_both,
        CAST(SUM(CASE WHEN in_l = 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS winnow_only,
        CAST(SUM(CASE WHEN in_w = 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS lsh_only,
        CAST(CAST(SUM(in_w * in_l) AS HUGEINT) * 1000000
          // greatest(CAST(SUM(in_l) AS BIGINT), 1) AS BIGINT)
          AS lsh_capture_ppm
      FROM j""")

  /** INCREMENTAL WINNOWED-FINGERPRINT SCREEN — the continuous-crawl
    * contract applied to q226's screen (the q96/q173/q191/q212
    * incremental family): the stored (doc_id, fp) fingerprint INDEX
    * of the already-ingested corpus (doc_id % 10 ≠ 0) is merged with
    * the delta batch's fingerprints in index space — pair generation
    * touches only fp buckets the delta lands in (probe cost scales
    * with the delta, never the history) and NO history text is
    * rescanned. The df-cap (2..16) is computed over the merged index,
    * so incremental == from-scratch by construction — and the ORACLE
    * replays the whole screen from scratch, making the equivalence
    * itself the gate row (q212's framing). Census: delta docs in the
    * index, new delta-touching pairs, delta×history vs delta×delta
    * split, and how many delta docs found a partner.
    *
    * The ndelta ≥ 1 bucket prefilter is a pure optimization: a
    * delta-touching pair shares every fp through a bucket that
    * contains its delta endpoint, so dropping delta-free buckets
    * changes nothing (set-equality argued in the oracle's
    * from-scratch replay). */
  private val q227 = Q(
    "q227_incr_winnow",
    (s, dir) => {
      val idx = SharedWinnow.selected(s, dir)
        .select(col("doc_id"), col("fp")).distinct()
        .withColumn("is_delta", (col("doc_id") % 10 === 0).cast("long"))
        .localCheckpoint() // df-cap + both join legs + the doc census
      val usable = idx.groupBy(col("fp"))
        .agg(count(lit(1)).as("nd"), sum(col("is_delta")).as("ndelta"))
        // same shared df-cap as q226 (Winnow.DfCap)
        .filter(col("nd").between(2,
          graft.operators.Winnow.DfCap) &&
          col("ndelta") >= 1)
        .select(col("fp"))
      val capped = idx.join(usable, "fp")
      val dp = capped
        .select(col("fp"), col("doc_id").as("doc_a"),
          col("is_delta").as("da"))
        .join(capped.select(col("fp"), col("doc_id").as("doc_b"),
          col("is_delta").as("db")), Seq("fp"))
        .filter(col("doc_a") < col("doc_b"))
        .filter(col("da") + col("db") >= 1)
        .groupBy(col("doc_a"), col("doc_b"), col("da"), col("db"))
        .agg(count(lit(1)).as("nshared"))
        .filter(col("nshared") >= 2)
        .localCheckpoint() // census + endpoint distinct read it twice
      val ag = dp.agg(count(lit(1)).as("n_new_pairs"),
        sum(col("da") * col("db")).as("n_dd_pairs"),
        sum(when(col("da") + col("db") === 1, 1L).otherwise(0L))
          .as("n_dh_pairs"))
      val nd = idx.filter(col("is_delta") === 1)
        .select(col("doc_id")).distinct()
        .agg(count(lit(1)).as("n_delta_docs"))
      val pd = dp.select(col("doc_a").as("d"), col("da").as("f"))
        .unionAll(dp.select(col("doc_b").as("d"), col("db").as("f")))
        .filter(col("f") === 1)
        .select(col("d")).distinct()
        .agg(count(lit(1)).as("n_delta_docs_paired"))
      ag.crossJoin(broadcast(nd)).crossJoin(broadcast(pd))
        .select(col("n_delta_docs"), col("n_new_pairs"),
          col("n_dh_pairs"), col("n_dd_pairs"),
          col("n_delta_docs_paired"))
    },
    s"""WITH ${OracleSql.winnowFd()},
      ${OracleSql.winnowPairs()},
      dp AS (SELECT doc_a, doc_b,
          CASE WHEN doc_a % 10 = 0 THEN 1 ELSE 0 END AS da,
          CASE WHEN doc_b % 10 = 0 THEN 1 ELSE 0 END AS db
        FROM wp),
      dt AS (SELECT * FROM dp WHERE da + db >= 1),
      ag AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_new_pairs,
          CAST(COALESCE(SUM(da * db), 0) AS BIGINT) AS n_dd_pairs,
          CAST(COALESCE(SUM(CASE WHEN da + db = 1 THEN 1 ELSE 0 END),
            0) AS BIGINT) AS n_dh_pairs
        FROM dt),
      nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT)
          AS n_delta_docs FROM fd WHERE doc_id % 10 = 0),
      pd AS (SELECT CAST(COUNT(DISTINCT d) AS BIGINT)
          AS n_delta_docs_paired FROM (
        SELECT doc_a AS d FROM dt WHERE da = 1
        UNION SELECT doc_b AS d FROM dt WHERE db = 1))
      SELECT n_delta_docs, n_new_pairs, n_dh_pairs, n_dd_pairs,
        n_delta_docs_paired
      FROM ag CROSS JOIN nd CROSS JOIN pd""")

  val list: Seq[Q] = Seq(q181, q183, q184, q185, q187, q188, q189, q190,
    q191, q192, q193, q194, q195, q196, q197, q198, q200, q201, q202,
    q203, q204, q205, q207, q208, q210, q211, q212, q213, q215, q225,
    q226, q227)
}
