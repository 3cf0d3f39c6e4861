package graft

import graft.operators.Winnow

/** DuckDB oracle fragments: the CTE text of each recipe that more than
  * one query's oracle runs, written once.
  *
  * Each def returns comma-separated CTE definitions for a caller's
  * `WITH` (`WITH RECURSIVE` when a component walk is included). The
  * parameters are what the callers vary: CTE names, the input relation,
  * literals, and `MATERIALIZED` hints (a hint changes how DuckDB
  * evaluates the chain, never its result). The MinHash scheme comes
  * from [[SharedLsh.Default]] and the winnow df-cap from
  * [[Winnow.DfCap]], the values the Spark kernels run with. All
  * are `def`s: a `val` fragment interpolated into a `val Q(...)` of an
  * object that initialises first would read as "null".
  */
object OracleSql {

  private def hint(mat: Boolean): String = if (mat) "MATERIALIZED " else ""

  /** `name`(doc_id, sh): the distinct char-n-gram shingles of `rel`. */
  def shingles(name: String = "sh", rel: String = "documents",
               mat: Boolean = false): String = {
    val n = SharedLsh.Default.n
    s"""$name AS ${hint(mat)}(SELECT DISTINCT doc_id, substr(text, i, $n) AS sh
        FROM $rel, UNNEST(range(1, greatest(length(text)-${n - 1}, 1)+1)) AS t(i))"""
  }

  /** sig(doc_id, h0…h{k-1}): the MinHash signature over the shingle CTE
    * `sh` — the mirror of Dedup.minhashSignatures' slice scheme:
    * component j is the MIN of hex slice j%4 of md5('m{j/4}' || sh). */
  def minhashSig(sh: String = "sh", mat: Boolean = false): String = {
    val mins = (0 until SharedLsh.Default.k)
      .map(j => s"MIN(substr(md5('m${j / 4}' || sh), ${(j % 4) * 8 + 1}, 8)) AS h$j")
      .mkString(", ")
    s"sig AS ${hint(mat)}(SELECT doc_id, $mins FROM $sh GROUP BY doc_id)"
  }

  /** [[minhashSig]] and its band keys bands(doc_id, bk): band b hashes
    * its r = k/bands signature components as md5('b' || h…). */
  def lshBands(sh: String = "sh", mat: Boolean = false): String = {
    val p = SharedLsh.Default
    val r = p.k / p.bands
    val legs = (0 until p.bands).map { b =>
      val hs = (b * r until (b + 1) * r).map(j => s"h$j").mkString(" || ")
      s"SELECT doc_id, md5('$b' || $hs) AS bk FROM sig"
    }
    s"""${minhashSig(sh, mat)},
      bands AS ${hint(mat)}(
        ${legs.mkString("\n        UNION ALL\n        ")})"""
  }

  /** `pairs`(doc_a < doc_b): the distinct pairs that share a band key. */
  def bandPairs(pairs: String = "pairs", mat: Boolean = false): String =
    s"""$pairs AS ${hint(mat)}(
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b ON a.bk = b.bk AND a.doc_id < b.doc_id)"""

  /** The whole LSH screen: [[shingles]] → [[lshBands]] → [[bandPairs]]. */
  def lshPairs(pairs: String = "pairs", sh: String = "sh",
               mat: Boolean = false): String =
    s"""${shingles(sh, mat = mat)},
      ${lshBands(sh, mat)},
      ${bandPairs(pairs, mat)}"""

  /** Min-label connected components of the undirected graph `pairs`
    * (doc_a, doc_b): `${tag}edges`, the recursive `${tag}walk(node,
    * label)` and `comp`(doc_id, component) with component = the least
    * doc_id reachable. The caller's `WITH` must be `WITH RECURSIVE`. */
  def componentWalk(pairs: String, comp: String = "comp", tag: String = "",
                    matEdges: Boolean = false,
                    matComp: Boolean = false): String =
    s"""${tag}edges AS ${hint(matEdges)}(
        SELECT doc_a AS src, doc_b AS dst FROM $pairs
        UNION SELECT doc_b, doc_a FROM $pairs),
      ${tag}walk(node, label) AS (
        SELECT src, src FROM ${tag}edges
        UNION
        SELECT e.dst, w.label FROM ${tag}walk w JOIN ${tag}edges e ON e.src = w.node),
      $comp AS ${hint(matComp)}(SELECT node AS doc_id, MIN(label) AS component
        FROM ${tag}walk GROUP BY 1)"""

  /** Winnowing (w = 4 over word-4-gram hash32) of `rel`(doc_id, text,
    * `keep`…), every CTE name suffixed by `tag`: ts, g (the grams), gh
    * (their hashes), win(doc_id, keep…, ng, p, h, j) — each hash once
    * per window j it falls in — and sel(doc_id, keep…, ng, j, fp), the
    * per-window minimum. An explode/group-by derivation independent of
    * Spark's per-row [[Winnow.windows]]: the two meet only in the
    * checked results. */
  def winnowSel(rel: String = "documents", tag: String = "",
                keep: String = ""): String = {
    val k = if (keep.isEmpty) "" else s"$keep, "
    s"""ts$tag AS (SELECT doc_id, ${k}string_split(text, ' ') AS ts FROM $rel),
      g$tag AS (SELECT doc_id, ${k}CAST(len(ts) - 3 AS BIGINT) AS ng,
          CAST(i AS BIGINT) AS p,
          array_to_string(list_slice(ts, CAST(i AS INT),
            CAST(i AS INT) + 3), ' ') AS g
        FROM ts$tag, UNNEST(range(1, len(ts) - 2)) AS u(i)
        WHERE len(ts) >= 4),
      gh$tag AS (SELECT doc_id, ${k}ng, p,
          CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) AS h
        FROM g$tag WHERE ng >= 4),
      win$tag AS (SELECT doc_id, ${k}ng, p, h, CAST(j AS BIGINT) AS j
        FROM gh$tag, UNNEST(range(greatest(1, p - 3),
          least(p, ng - 3) + 1)) v(j)),
      sel$tag AS (SELECT doc_id, ${k}ng, j, MIN(h) AS fp
        FROM win$tag GROUP BY doc_id, ${k}ng, j)"""
  }

  /** [[winnowSel]] plus fd`tag`: the distinct (doc_id, fp) fingerprints. */
  def winnowFd(rel: String = "documents", tag: String = "",
               mat: Boolean = false): String =
    s"""${winnowSel(rel, tag)},
      fd$tag AS ${hint(mat)}(SELECT DISTINCT doc_id, fp FROM sel$tag)"""

  /** [[winnowFd]] (fd materialized) plus the measured multiplicity:
    * meta(n_docs, n_distinct_text) — corpus rows and distinct text
    * hashes — and acap(cap), the adaptive df-cap ceil(DfCap·n/m) as an
    * integer ceil-division, SharedWinnow.adaptiveCap's formula. */
  def winnowFdAdaptiveCap: String =
    s"""${winnowFd(mat = true)},
      meta AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_distinct_text
        FROM documents),
      acap AS (SELECT (${Winnow.DfCap} * n_docs + n_distinct_text - 1)
          // n_distinct_text AS cap FROM meta)"""

  /** The winnow screen over fd`tag`: us (the fingerprints held by 2 to
    * `dfCap` docs), cap (their (doc_id, fp) rows) and `wp`(doc_a <
    * doc_b), the pairs sharing at least 2 of them. */
  def winnowPairs(tag: String = "", wp: String = "wp",
                  dfCap: String = Winnow.DfCap.toString,
                  mat: Boolean = false, matPairs: Boolean = false): String =
    s"""us$tag AS (SELECT fp FROM fd$tag GROUP BY fp
        HAVING COUNT(*) BETWEEN 2 AND $dfCap),
      cap$tag AS ${hint(mat)}(SELECT f.doc_id, f.fp
        FROM fd$tag f JOIN us$tag u ON u.fp = f.fp),
      $wp AS ${hint(matPairs)}(SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM cap$tag a JOIN cap$tag b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING COUNT(*) >= 2)"""

  /** The winnow screen's components: [[winnowFd]] → [[winnowPairs]] →
    * [[componentWalk]] into comps`tag`, over the docs of `rel`. */
  def winnowComps(rel: String = "documents", tag: String = ""): String =
    s"""${winnowFd(rel, tag, mat = true)},
      ${winnowPairs(tag, s"wp$tag", mat = true)},
      ${componentWalk(s"wp$tag", s"comps$tag", tag, matComp = true)}"""

  /** Both winnow selection rules over each document's word-4-gram
    * hashes, as 1-based position lists: ts, d, w(doc_id, source, nw,
    * hs) — nw windows of w = 4 over the hashes hs — and sel(doc_id,
    * source, nw, hs, stdsel, robsel). stdsel takes each window's
    * rightmost minimum; robsel is the robust rule, which keeps the
    * previous pick while it is still the window minimum. Its keep
    * branch returns the copy acc[1:len(acc)]: DuckDB 1.0's list_reduce
    * corrupts the fold when a branch returns the accumulator unchanged
    * (QueriesRound9's q231). */
  def winnowRules: String =
    """ts AS (SELECT doc_id, source, string_split(text, ' ') AS ts
        FROM documents),
      d AS (SELECT doc_id, source, CAST(len(ts) - 3 AS BIGINT) AS ng,
          list_transform(range(1, len(ts) - 2), i ->
            CAST(('0x' || substr(md5(array_to_string(
              list_slice(ts, CAST(i AS INT), CAST(i AS INT) + 3), ' ')),
              1, 8)) AS BIGINT)) AS hs
        FROM ts WHERE len(ts) >= 7),
      w AS (SELECT doc_id, source, ng - 3 AS nw, hs
        FROM d WHERE ng >= 4),
      sel AS (SELECT doc_id, source, nw, hs,
          list_distinct(list_transform(range(1, nw + 1), j ->
            CASE WHEN hs[j+3] = least(hs[j],hs[j+1],hs[j+2],hs[j+3])
                THEN j + 3
              WHEN hs[j+2] = least(hs[j],hs[j+1],hs[j+2],hs[j+3])
                THEN j + 2
              WHEN hs[j+1] = least(hs[j],hs[j+1],hs[j+2],hs[j+3])
                THEN j + 1
              ELSE j END)) AS stdsel,
          list_distinct(list_reduce(
            list_concat([[CAST(
              CASE WHEN hs[4] = least(hs[1],hs[2],hs[3],hs[4]) THEN 4
                WHEN hs[3] = least(hs[1],hs[2],hs[3],hs[4]) THEN 3
                WHEN hs[2] = least(hs[1],hs[2],hs[3],hs[4]) THEN 2
                ELSE 1 END AS BIGINT)]],
              list_transform(range(2, nw + 1), j -> [j])),
            (acc, e) -> CASE WHEN acc[len(acc)] >= e[1]
                AND hs[acc[len(acc)]] =
                  least(hs[e[1]],hs[e[1]+1],hs[e[1]+2],hs[e[1]+3])
              THEN acc[1:len(acc)]
              ELSE list_append(acc, CASE
                WHEN hs[e[1]+3] =
                  least(hs[e[1]],hs[e[1]+1],hs[e[1]+2],hs[e[1]+3])
                  THEN e[1] + 3
                WHEN hs[e[1]+2] =
                  least(hs[e[1]],hs[e[1]+1],hs[e[1]+2],hs[e[1]+3])
                  THEN e[1] + 2
                WHEN hs[e[1]+1] =
                  least(hs[e[1]],hs[e[1]+1],hs[e[1]+2],hs[e[1]+3])
                  THEN e[1] + 1
                ELSE e[1] END) END)) AS robsel
        FROM w)"""

  /** TextAnalysis.qualityScore of `text` as a DOUBLE expression: length,
    * stop-word ratio and punctuation density weighted 0.5/0.3/0.2. */
  def qualityScore: String = {
    val stop = graft.operators.TextAnalysis.EnStopwords
      .map(w => s"t = '$w'").mkString(" OR ")
    s"""(
            LEAST(1.0, len(string_split(text, ' ')) / 100.0) * 0.5 +
            (len(list_filter(string_split(text, ' '), t -> ($stop)))
               / len(string_split(text, ' '))) * 0.3 +
            (1.0 - LEAST(1.0,
              len(regexp_extract_all(text, '[.,!?;:]')) / 20.0)) * 0.2
          )"""
  }

  /** ev(vec_id, i, `x`): one row per embedding dimension (1-based i),
    * the element as DOUBLE. */
  def embeddingRows(x: String = "a"): String =
    s"""ev AS (
        SELECT vec_id, i, CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS $x
        FROM embeddings, UNNEST(range(1, len(embedding)+1)) AS t(i))"""

  /** norms(vec_id, nrm): each vector's L2 norm over ev's `x`, the
    * squares summed as DECIMAL(18,16) so the sum is order-free. */
  def l2Norms(x: String = "a"): String =
    s"""norms AS (SELECT vec_id,
          SQRT(CAST(SUM(CAST($x*$x AS DECIMAL(18,16))) AS DOUBLE)) AS nrm
        FROM ev GROUP BY 1)"""

  /** [[embeddingRows]] ev and its [[l2Norms]]. */
  def embeddingNorms: String =
    s"""${embeddingRows()},
      ${l2Norms()}"""

  /** The 8-bit sign-LSH bucket of embedding column `col`: bit i is set
    * when element i+1 is ≥ 0. */
  def signBucket(col: String): String =
    (0 until 8).map { i =>
      s"(CASE WHEN $col[${i + 1}] >= 0 THEN ${1 << i} ELSE 0 END)"
    }.mkString(" + ")

  /** Cosine near-duplicate vectors, Similarity.cosineNearDupPairs at
    * bits = 8 and threshold 0.3: [[embeddingRows]] ev(…, x), sign
    * buckets meta(vec_id, b), [[l2Norms]], same-bucket candidates
    * cand(va < vb), their decimal dot products dots, and pairs(doc_a,
    * doc_b) with cosine ≥ 0.3. */
  def cosineNearPairs: String =
    s"""${embeddingRows("x")},
      meta AS (SELECT vec_id, ${signBucket("embedding")} AS b
        FROM embeddings),
      ${l2Norms("x")},
      cand AS (
        SELECT ma.vec_id AS va, mb.vec_id AS vb
        FROM meta ma JOIN meta mb ON ma.b = mb.b AND ma.vec_id < mb.vec_id),
      dots AS (
        SELECT c.va, c.vb,
          CAST(SUM(CAST(ea.x * eb.x AS DECIMAL(18,16))) AS DOUBLE) AS dot
        FROM cand c
        JOIN ev ea ON ea.vec_id = c.va
        JOIN ev eb ON eb.vec_id = c.vb AND eb.i = ea.i
        GROUP BY 1, 2),
      pairs AS (
        SELECT va AS doc_a, vb AS doc_b FROM dots
        JOIN norms na ON na.vec_id = va
        JOIN norms nb ON nb.vec_id = vb
        WHERE dot / (na.nrm * nb.nrm) >= 0.3)"""

  /** Two Lloyd rounds of q108's k-means (k = 4) over [[embeddingRows]]:
    * c0 (the seeds, vectors 0..3), d1/a1 (round-1 fixed-point argmin),
    * c1 (the updated means), dall (every vector's fixed-point distance to
    * each c1 centroid) and ranked (those ranked per vector, rn = 1 the
    * assignment). KMeansCluster.lloyd's fixed-point scheme. */
  def kmeansReplay: String =
    s"""${embeddingRows()},
      c0 AS (SELECT vec_id AS cid, i, a AS m FROM ev WHERE vec_id < 4),
      d1 AS (
        SELECT e.vec_id, c.cid,
          SUM(CAST(FLOOR(((e.a - c.m)*(e.a - c.m)) * 1e10) AS BIGINT)) AS d
        FROM ev e JOIN c0 c ON e.i = c.i GROUP BY 1, 2),
      a1 AS (
        SELECT vec_id, cid FROM (
          SELECT vec_id, cid,
            ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
          FROM d1) r WHERE rn = 1),
      c1 AS (
        SELECT a1.cid, e.i,
          CAST(SUM(CAST(FLOOR(e.a * 1e12) AS BIGINT)) AS DOUBLE)
            / 1e12 / COUNT(*) AS m
        FROM ev e JOIN a1 ON e.vec_id = a1.vec_id GROUP BY 1, 2),
      dall AS (
        SELECT e.vec_id, c.cid,
          SUM(CAST(FLOOR(((e.a - c.m)*(e.a - c.m)) * 1e10) AS BIGINT)) AS d
        FROM ev e JOIN c1 c ON e.i = c.i GROUP BY 1, 2),
      ranked AS (
        SELECT vec_id, cid, d,
          ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        FROM dall)"""

  /** k-center seeding and assignment over [[embeddingRows]] (q115's
    * derandomized farthest-first traversal, k = 4): seeds c0…c3 — c0 is
    * the lowest id, each next seed maximizes its min fixed-point squared
    * distance m1…m3 to the seeds so far (ties to the lowest id) — then
    * aa(vec_id, cid, d), each vector's nearest seed.
    * KMeansCluster.farthestFirstInit + one lloydFrom assignment. */
  def farthestFirstAssign: String = {
    def dist(cte: String) =
      s"""SELECT e.vec_id, CAST(SUM(CAST(FLOOR(((e.a - c.m)*(e.a - c.m)) * 1e10)
           AS BIGINT)) AS BIGINT) AS d
           FROM ev e JOIN $cte c ON e.i = c.i GROUP BY 1"""
    s"""${embeddingRows()},
      s0 AS (SELECT MIN(vec_id) AS vid FROM embeddings),
      c0 AS (SELECT 0 AS cid, e.i, e.a AS m FROM ev e JOIN s0 ON e.vec_id = s0.vid),
      m1 AS (${dist("c0")}),
      s1 AS (SELECT vec_id FROM m1 ORDER BY d DESC, vec_id LIMIT 1),
      c1 AS (SELECT 1 AS cid, e.i, e.a AS m FROM ev e JOIN s1 ON e.vec_id = s1.vec_id),
      m2r AS (${dist("c1")}),
      m2 AS (SELECT m1.vec_id, LEAST(m1.d, m2r.d) AS d
        FROM m1 JOIN m2r ON m1.vec_id = m2r.vec_id),
      s2 AS (SELECT vec_id FROM m2 ORDER BY d DESC, vec_id LIMIT 1),
      c2 AS (SELECT 2 AS cid, e.i, e.a AS m FROM ev e JOIN s2 ON e.vec_id = s2.vec_id),
      m3r AS (${dist("c2")}),
      m3 AS (SELECT m2.vec_id, LEAST(m2.d, m3r.d) AS d
        FROM m2 JOIN m3r ON m2.vec_id = m3r.vec_id),
      s3 AS (SELECT vec_id FROM m3 ORDER BY d DESC, vec_id LIMIT 1),
      c3 AS (SELECT 3 AS cid, e.i, e.a AS m FROM ev e JOIN s3 ON e.vec_id = s3.vec_id),
      cc AS (SELECT * FROM c0 UNION ALL SELECT * FROM c1
        UNION ALL SELECT * FROM c2 UNION ALL SELECT * FROM c3),
      dd AS (
        SELECT e.vec_id, c.cid, CAST(SUM(CAST(FLOOR(((e.a - c.m)*(e.a - c.m)) * 1e10)
          AS BIGINT)) AS BIGINT) AS d
        FROM ev e JOIN cc c ON e.i = c.i GROUP BY 1, 2),
      aa AS (
        SELECT vec_id, cid, d FROM (
          SELECT vec_id, cid, d,
            ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
          FROM dd) r WHERE rn = 1)"""
  }

  /** BM25 corpus statistics: lens(doc_id, dl), st(nd, tt) and
    * toks(doc_id, term), one row per token occurrence. */
  def bm25Stats: String =
    """lens AS (
        SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
      st AS (SELECT COUNT(*) AS nd, CAST(SUM(dl) AS BIGINT) AS tt FROM lens),
      toks AS (
        SELECT doc_id, UNNEST(string_split(text, ' ')) AS term
        FROM documents)"""

  /** `out`(doc_id, n_terms, score_fp): fixed-point BM25 (k1 = 1.2,
    * b = 0.75, RSJ idf as a rational ratio) over the postings `p`(term,
    * doc_id, tf) and their document frequencies d_`p`(term, df). */
  def bm25Kernel(p: String, out: String): String =
    s"""$out AS (SELECT $p.doc_id,
        CAST(COUNT(*) AS BIGINT) AS n_terms,
        CAST(SUM(CAST(FLOOR(
          (CAST(2*(st.nd - d_$p.df) + 1 AS DOUBLE)
             / CAST(2*d_$p.df + 1 AS DOUBLE))
          * (CAST(22*$p.tf*st.tt AS DOUBLE)
             / CAST(10*$p.tf*st.tt + 3*st.tt + 9*l.dl*st.nd AS DOUBLE))
          * 1e6) AS BIGINT)) AS BIGINT) AS score_fp
      FROM $p JOIN d_$p ON $p.term = d_$p.term
        JOIN lens l ON $p.doc_id = l.doc_id CROSS JOIN st
      GROUP BY 1)"""

  /** The BM25 scoring of `terms` over the documents: [[bm25Stats]], the
    * postings `p` and d_`p`, and [[bm25Kernel]] into `out`. */
  def bm25(terms: Seq[String], p: String = "p1",
           out: String = "b1"): String =
    s"""$bm25Stats,
      $p AS (SELECT term, doc_id, COUNT(*) AS tf FROM toks
        WHERE term IN (${terms.map(t => s"'$t'").mkString(", ")}) GROUP BY 1, 2),
      d_$p AS (SELECT term, COUNT(*) AS df FROM $p GROUP BY 1),
      ${bm25Kernel(p, out)}"""

  /** The megacluster edge-Jaccard chain (q243/q244/q248/q252): LSH pairs
    * over sh0 → components → ≥11-doc megaclusters `big`(component,
    * csize) → their candidate edges `be`, member shingles `msh`, shingle
    * counts `szs` and per-edge exact 5-gram intersections `inter`. The
    * caller's `WITH` must be `WITH RECURSIVE`. */
  def megaChain: String =
    s"""${lshPairs(sh = "sh0", mat = true)},
      ${componentWalk("pairs", "comps", matEdges = true, matComp = true)},
      big AS MATERIALIZED (SELECT component, COUNT(*) AS csize
        FROM comps GROUP BY 1 HAVING COUNT(*) >= 11),
      be AS MATERIALIZED (SELECT p.doc_a, p.doc_b, c.component, b.csize
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

  /** `name`(component, doc_a, doc_b): the [[megaChain]] edges whose exact
    * Jaccard is at least `t` ppm. */
  def strongEdges(name: String, t: Long): String =
    s"""$name AS MATERIALIZED (SELECT e.component, e.doc_a, e.doc_b
        FROM be e
        LEFT JOIN inter i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
        JOIN szs sa ON sa.doc_id = e.doc_a
        JOIN szs sb ON sb.doc_id = e.doc_b
        WHERE CAST(COALESCE(i.i, 0) AS HUGEINT) * 1000000
          // (sa.sz + sb.sz - COALESCE(i.i, 0)) >= $t)"""

  /** One strong-edge threshold leg over [[megaChain]]: r`tag`(thr_ppm,
    * n_subclusters, max_sub, n_connected) for the components of the
    * edges with exact Jaccard ≥ `t` ppm. */
  def thresholdLeg(tag: String, t: Long): String =
    s"""${strongEdges(s"st$tag", t)},
      ${componentWalk(s"st$tag", s"sz$tag", s"s$tag")},
      zz$tag AS (SELECT component, COUNT(*) AS c FROM sz$tag GROUP BY 1),
      r$tag AS (SELECT CAST($t AS BIGINT) AS thr_ppm,
        CAST(COUNT(*) AS BIGINT) AS n_subclusters,
        CAST(COALESCE(MAX(c), 0) AS BIGINT) AS max_sub,
        CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n_connected FROM zz$tag)"""
}
