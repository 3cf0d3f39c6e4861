package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (array<float>).
  *
  * Two dot-product kernels:
  *
  *  - [[dotDouble]]: plain double fold — the fast path (narrow, codegen'd,
  *    no shuffle). Result depends on accumulation order only in the last
  *    ulp; use it to prefilter candidates the decimal kernel confirms.
  *  - [[dotDecimal]]: products cast to DECIMAL(18,16) before the fold.
  *    Decimal addition is exact and associative, so the result is
  *    bit-identical regardless of partitioning/order and across engines —
  *    this is what makes cosine top-k oracle-checkable. ~3-4x the cost of
  *    the double fold; the similarity queries rank and confirm by it.
  *
  * Brute-force top-k: probe × broadcast(queries) cross join, per-query
  * row_number window. The probe side never shuffles until the final
  * (tiny) top-k exchange, so the shape scales linearly with the corpus.
  * The LSH-bucketed variant ([[signBucket]]) cuts the candidate set by
  * bucketing on projection signs; brute-force within bucket.
  */
object Similarity {

  /** Cast array<float> → array<double> (element casts are exact). */
  def asDouble(v: Column): Column = transform(v, _.cast("double"))

  /** Native codegen'd fused loop (plans/DotDoubleExpr) — Spark's
    * zip_with/aggregate HOFs are CodegenFallback, which made this hot
    * kernel interpreted AND broke the surrounding codegen span. */
  def dotDouble(a: Column, b: Column): Column =
    graft.plans.DotDoubleExpr.dotDouble(a, b)

  /** The higher-order-function formulation dotDouble replaced; kept as
    * the agreement reference (DotDoubleExprSpec asserts bit-identical
    * results — both are strict left-to-right double folds). */
  private[graft] def dotDoubleHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** decimal(18,16), not (38,18): precision ≤ 18 keeps Spark's Decimal
    * on the Long-backed fast path (~an order of magnitude cheaper than
    * the BigDecimal path) and DuckDB's on int64. Safe for unit-ish
    * embeddings: |x*y| ≤ 1 and |Σ| ≤ dims·max|x·y| < 100 for dims ≤ 64 —
    * the per-step cast only normalizes precision, never rounds scale-16
    * sums, so exactness/associativity are preserved. */
  def dotDecimal(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => (x * y).cast("decimal(18,16)")),
      lit(0).cast("decimal(18,16)"),
      (acc, x) => (acc + x).cast("decimal(18,16)"))

  def normDecimal(v: Column): Column =
    sqrt(dotDecimal(v, v).cast("double"))

  /** The decimal-kernel corpus×broadcast(queries) cosine scores with
    * optional pass-through columns — the ONE body behind
    * [[cosineTopK]] and [[minePairs]], so the self-pair filter,
    * broadcast shape, and kernel can never drift between them. Both
    * inputs need (id, v [, extras…]); query-side extras are returned
    * prefixed `q_`. Output: (q_id, vec_id, cosim, extras…). */
  private def cosineScores(corpus: DataFrame, queries: DataFrame,
                           corpusExtras: Seq[String] = Nil,
                           queryExtras: Seq[String] = Nil): DataFrame = {
    val c = corpus.select(Seq(col("id").as("vec_id"), col("v"),
      normDecimal(col("v")).as("nrm")) ++ corpusExtras.map(col): _*)
    val q = queries.select(Seq(col("id").as("q_id"), col("v").as("qv"),
      normDecimal(col("v")).as("qnrm")) ++
      queryExtras.map(n => col(n).as(s"q_$n")): _*)
    c.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(Seq(col("q_id"), col("vec_id"),
        (dotDecimal(col("v"), col("qv")).cast("double") /
          (col("nrm") * col("qnrm"))).as("cosim")) ++
        corpusExtras.map(col) ++ queryExtras.map(n => col(s"q_$n")): _*)
  }

  /** Exact cosine top-k of `corpus` rows for each row of `queries`
    * (both need columns id, v:array<double>; queries must be small —
    * it is broadcast). Deterministic (decimal kernel + id tiebreak). */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosim").desc, col("vec_id").asc)
    cosineScores(corpus, queries)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
  }

  /** [[cosineTopK]] with the two-kernel split (the q34 economics applied
    * to exact top-k): score every candidate with the cheap codegen'd
    * DOUBLE kernel, find each query's k-th double score, and run the
    * expensive order-invariant decimal kernel only on candidates within
    * a slack band of that boundary. Exactness: per-row |double − exact|
    * ≤ ~dims·2⁻⁵² ≈ 1e-14, so every true top-k member sits within
    * 2·1e-14 ≪ slack (1e-6) of the k-th double score and survives the
    * prefilter; the decimal re-ranking of survivors is then the exact
    * global ranking. Same output contract as [[cosineTopK]] — results
    * are bit-identical (spec-asserted). The boundary window runs over
    * skinny (q_id, vec_id, dcos) rows only; vectors rejoin for the
    * handful of survivors. */
  def cosineTopKFast(corpus: DataFrame, queries: DataFrame,
                     k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val slack = 1e-6
    val c = corpus.select(col("id").as("vec_id"), col("v"),
      sqrt(dotDouble(col("v"), col("v"))).as("ndc"))
    val q = queries.select(col("id").as("q_id"), col("v").as("qv"),
      sqrt(dotDouble(col("v"), col("v"))).as("ndq"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        (dotDouble(col("v"), col("qv")) /
          (col("ndc") * col("ndq"))).as("dcos"))
    val wd = Window.partitionBy(col("q_id")).orderBy(col("dcos").desc)
    // the k-th double score: with ties its VALUE is stable no matter
    // which tied row row_number picks, so no tiebreak is needed.
    // kth (one row per QUERY — always tiny) is localCheckpoint'd so the
    // boundary aggregate runs once and the plan below it isn't repeated
    // per consumer. `scored` itself is NOT materialized: it has
    // corpus×queries rows, and re-running the narrow codegen'd kernel
    // for the survivor pass is strictly cheaper at scale than writing
    // that frame to executor disk.
    val kth = scored.withColumn("rd", row_number().over(wd))
      .filter(col("rd") <= k)
      .groupBy(col("q_id")).agg(min(col("dcos")).as("kth_d"))
      .localCheckpoint()
    val surv = scored.join(broadcast(kth), Seq("q_id"))
      .filter(col("dcos") >= col("kth_d") - slack)
      .select(col("q_id"), col("vec_id"))
    // decimal norms: the query side's is computed ONCE per query inside
    // the broadcast build (not per surviving row); the corpus side's runs
    // per survivor — survivors number ~queries×(k+band), not corpus-sized.
    val exact = surv
      .join(corpus.select(col("id").as("vec_id"), col("v")), Seq("vec_id"))
      .join(broadcast(queries.select(col("id").as("q_id"),
        col("v").as("qv"), normDecimal(col("v")).as("qnrm"))), Seq("q_id"))
      .select(col("q_id"), col("vec_id"),
        (dotDecimal(col("v"), col("qv")).cast("double") /
          (normDecimal(col("v")) * col("qnrm"))).as("cosim"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosim").desc, col("vec_id").asc)
    exact.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
  }

  /** Contrastive pair mining — per anchor, the top-k SAME-label rows
    * (positives) and the top-k DIFFERENT-label rows (HARD negatives:
    * the most similar things that should be far apart — what a metric
    * -learning batch wants) by exact cosine. `corpus` and `queries`
    * need (id, v, label); anchors are broadcast, so the shape is
    * [[cosineTopK]]'s linear probe-side scan with the window
    * partitioned by (anchor, same_label) instead of anchor alone.
    * Decimal kernel + id tiebreak keep it deterministic; at scale the
    * candidate set comes from the LSH/IVF paths first and this ranks
    * within it. */
  def minePairs(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = cosineScores(corpus, queries,
        corpusExtras = Seq("label"), queryExtras = Seq("label"))
      .select(col("q_id"), col("vec_id"),
        (col("label") === col("q_label")).as("same_label"), col("cosim"))
    val w = Window.partitionBy(col("q_id"), col("same_label"))
      .orderBy(col("cosim").desc, col("vec_id").asc)
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
  }

  /** Sign-LSH bucket id from the first `bits` dimensions (1-based array
    * access): bit i set iff v[i] >= 0. The scale path: equi-join on the
    * bucket replaces the cross join; recall is traded via multiple
    * probe buckets. */
  def signBucket(v: Column, bits: Int): Column =
    (1 to bits).map { i =>
      when(element_at(v, i) >= 0, lit(1L << (i - 1))).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Bucket width that keeps within-bucket candidate growth linear:
    * with b sign bits there are 2^b buckets and ~n²/2^b candidate
    * pairs, so b must track ⌈log₂ n⌉ as the corpus grows (fixed bits
    * ⇒ quadratic pair growth — the 100× trap). Floor of 8 keeps small
    * corpora out of the 1-bucket degenerate case; the cap is the
    * embedding dimensionality (signBucket reads one dim per bit). */
  def bucketBitsFor(n: Long, dims: Int): Int = {
    val ceilLog2 = 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n - 1))
    math.min(dims, math.max(8, ceilLog2))
  }

  /** Embedding-cosine near-duplicate pairs: sign-LSH bucket equi-join
    * (never a cross join), double-kernel PREFILTER with a slack band,
    * exact decimal confirm only on survivors.
    *
    * The two-kernel split is the whole cost story: candidates number
    * ~n²/2^bits, so the per-candidate kernel must be the cheap codegen'd
    * double fold. Its accumulation error over `dims` terms is
    * ~dims·2⁻⁵² ≈ 1e-14 relative — far below `slack` (1e-6) — so
    * `cos_double ≥ threshold − slack` can never reject a pair the exact
    * kernel would keep; the expensive order-invariant decimal kernel
    * (what makes the result oracle-hashable, see [[dotDecimal]]) then
    * runs only on the handful of near-threshold survivors. Double norms
    * are computed once per vector BEFORE the join (narrow), not per
    * candidate pair.
    *
    * `emb` needs (vec_id, embedding:array<float>). For production use
    * pass bits = [[bucketBitsFor]](corpusSize, dims); oracle queries pin
    * a fixed bits so the SQL twin can spell the same buckets. */
  def cosineNearDupPairs(emb: DataFrame, bits: Int,
                         threshold: Double): DataFrame = {
    val slack = 1e-6
    // FENCED (r10 audit): InferFiltersFromConstraints derives
    // `nd IS NOT NULL` from the cosine division and PushDownPredicates
    // re-expanded the whole sqrt(dot(v,v)) + asDouble kernel into a
    // pre-join Filter — doubling the narrow prep per VECTOR. The fence
    // keeps "once per vector BEFORE the join" literally true.
    val e = emb.select(
      col("vec_id"),
      graft.plans.FenceExpr.fence(asDouble(col("embedding"))).as("v"),
      signBucket(col("embedding"), bits).as("b"))
      .withColumn("nd",
        graft.plans.FenceExpr.fence(sqrt(dotDouble(col("v"), col("v")))))
    val a = e.select(col("vec_id").as("va"), col("v").as("xa"),
      col("nd").as("nda"), col("b"))
    val bb = e.select(col("vec_id").as("vb"), col("v").as("xb"),
      col("nd").as("ndb"), col("b").as("b2"))
    a.join(bb, col("b") === col("b2") && col("va") < col("vb"))
      .filter(dotDouble(col("xa"), col("xb")) /
        (col("nda") * col("ndb")) >= threshold - slack)
      .filter(dotDecimal(col("xa"), col("xb")).cast("double") /
        (normDecimal(col("xa")) * normDecimal(col("xb"))) >= threshold)
      .select(col("va"), col("vb"))
  }

  /** Multi-probe sign-LSH candidates: each query probes its OWN bucket
    * plus every Hamming-distance-1 neighbor (flip one of `bits` sign
    * bits) — the standard recall-recovery move for sign LSH, where a
    * near-duplicate lands in a different bucket exactly when ONE
    * borderline dimension crosses zero. The probe set explodes the
    * QUERY side only (× bits+1, queries are the small side); candidate
    * generation stays an equi-join on the bucket id, never a cross
    * join. Returns (q_id, vec_id) with self-pairs removed; duplicates
    * impossible (distinct probe buckets). */
  def multiProbeCandidates(corpus: DataFrame, queries: DataFrame,
                           bits: Int): DataFrame = {
    val flips = array((0 +: (0 until bits).map(1L << _).map(_.toInt))
      .map(lit): _*)
    val probes = queries
      .select(col("id").as("q_id"), signBucket(col("v"), bits).as("qb"))
      .withColumn("flip", explode(flips))
      .select(col("q_id"), col("qb").bitwiseXOR(col("flip")).as("pb"))
    val c = corpus.select(col("id").as("vec_id"),
      signBucket(col("v"), bits).as("bucket"))
    c.join(probes, col("bucket") === col("pb"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"))
  }

  /** Cross-set near-duplicate pairs — the contamination-screen shape:
    * find corpus vectors whose cosine against ANY benchmark vector
    * clears `threshold`. Same two-kernel economics as
    * [[cosineNearDupPairs]] (cheap codegen'd double prefilter with a
    * slack band, exact decimal confirm on survivors) but ASYMMETRIC:
    * candidates come from [[multiProbeCandidates]], so the benchmark —
    * the small side — probes its own sign bucket plus every Hamming-1
    * neighbor, recovering the recall a single-bucket equi-join loses
    * at set boundaries. Candidate generation stays an equi-join on the
    * bucket id; the corpus side never explodes and never cross-joins.
    *
    * `corpus`/`bench` need (id, v: array<double>). Emits one row per
    * surviving (vec_id, bench_id) pair. Production: pass
    * bits = [[bucketBitsFor]](corpusSize, dims); oracle queries pin a
    * fixed bits so the SQL twin can spell the same probe set. */
  def crossSetNearPairs(corpus: DataFrame, bench: DataFrame, bits: Int,
                        threshold: Double): DataFrame = {
    val slack = 1e-6
    val cand = multiProbeCandidates(corpus, bench, bits)
    // FENCED (r10 audit): the cosine division's inferred not-null
    // constraint otherwise re-expands the norm kernel into pre-join
    // Filters — 2× the per-vector prep on both sides
    val cv = corpus.select(col("id").as("vec_id"), col("v").as("xc"),
      graft.plans.FenceExpr.fence(
        sqrt(dotDouble(col("v"), col("v")))).as("ndc"))
    val qv = bench.select(col("id").as("bench_id"), col("v").as("xq"),
      graft.plans.FenceExpr.fence(
        sqrt(dotDouble(col("v"), col("v")))).as("ndq"))
    cand.select(col("vec_id"), col("q_id").as("bench_id"))
      .join(cv, Seq("vec_id"))
      .join(broadcast(qv), Seq("bench_id"))
      .filter(dotDouble(col("xc"), col("xq")) /
        (col("ndc") * col("ndq")) >= threshold - slack)
      .filter(dotDecimal(col("xc"), col("xq")).cast("double") /
        (normDecimal(col("xc")) * normDecimal(col("xq"))) >= threshold)
      .select(col("vec_id"), col("bench_id"))
  }

  // ------------------------------------------------------------------
  // IVF (inverted-file) ANN: coarse quantizer + probed cell search
  // ------------------------------------------------------------------

  /** Recall@k of an ANN candidate set against the exact answer — the
    * index-quality gauge every approximate variant (sign-LSH,
    * multi-probe, IVF, IVF-PQ) gets judged by before it replaces brute
    * force in a pipeline. `exact` carries the ground-truth top-k
    * (q_id, vec_id) [rows per query ≤ k]; `cand` the candidates the
    * index would score. Both are (q_id, vec_id) — the join is on the
    * pair key, the aggregation per query; output counts are integers
    * and recall is integer permille, so the readout is hash-exact.
    * Queries with NO candidates still appear (left join), recall 0. */
  def annRecall(exact: DataFrame, cand: DataFrame, k: Int): DataFrame =
    exact.select(col("q_id"), col("vec_id"))
      .join(cand.select(col("q_id"), col("vec_id"), lit(1L).as("hit"))
          .dropDuplicates("q_id", "vec_id"),
        Seq("q_id", "vec_id"), "left")
      .groupBy(col("q_id"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("hits"))
      .withColumn("recall_permille", expr(s"(1000 * hits) div $k"))

  /** IVF coarse-quantizer cell assignment: each vector's nearest
    * centroid by L2 against the broadcast (cid, cv) table — a narrow
    * pass; the vectors land in an inverted file keyed by cell. d² is
    * expanded as |x|² − 2·x·c + |c|² with every dot product in the
    * exact decimal kernel. Each product multiplies two float-origin
    * doubles (exact in 48 mantissa bits), so the per-term decimal casts
    * agree across engines and decimal addition is associative — the
    * resulting argmin (ties by cid) is bit-identical to any other
    * engine computing the same expansion, making IVF assignment
    * DuckDB-checkable (q47). Requires centroids that are themselves
    * data vectors (e.g. SharedIvf's stride pick); trained means are
    * arbitrary doubles and fall outside the float-exactness argument.
    * Emits (id, cid). */
  def assignL2Decimal(vectors: DataFrame, centroids: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = broadcast(centroids.select(col("cid"), col("cv"),
      dotDecimal(col("cv"), col("cv")).as("_cc")))
    val v = vectors.select(col("id"), col("v"),
      dotDecimal(col("v"), col("v")).as("_xx"))
    val w = Window.partitionBy(col("id")).orderBy(col("_d2").asc, col("cid"))
    v.crossJoin(c)
      .withColumn("_d2",
        col("_xx") + col("_cc") - lit(2) * dotDecimal(col("v"), col("cv")))
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") === 1)
      .select(col("id"), col("cid"))
  }

  /** IVF probed-cell search: for each query, rank the centroids, keep
    * the `nprobe` nearest cells, then exact top-k only within those
    * cells (equi-join on cid — the corpus is never cross-joined).
    * Centroid ranking and candidate ranking both use the exact-decimal
    * L2 expansion of [[assignL2Decimal]], ties by cid / vec_id.
    * `index` must carry (id, v, cid); emits (q_id, vec_id, rnk) — ranks
    * only, since raw distances would cross the double→decimal
    * divergence noted on q20. */
  def ivfSearchDecimal(index: DataFrame, centroids: DataFrame,
                       queries: DataFrame, nprobe: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = broadcast(centroids.select(col("cid"), col("cv"),
      dotDecimal(col("cv"), col("cv")).as("_cc")))
    val q = queries.select(col("id").as("q_id"), col("v").as("qv"),
      dotDecimal(col("v"), col("v")).as("_qq"))
    val probed = q.crossJoin(c)
      .withColumn("_d2",
        col("_qq") + col("_cc") - lit(2) * dotDecimal(col("qv"), col("cv")))
      .withColumn("_rk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("_d2").asc, col("cid"))))
      .filter(col("_rk") <= nprobe)
      .select(col("q_id"), col("qv"), col("_qq"), col("cid"))
    val cand = index.join(broadcast(probed), Seq("cid"))
      .filter(col("id") =!= col("q_id"))
    val scored = cand.select(col("q_id"), col("id").as("vec_id"),
      (col("_qq") + dotDecimal(col("v"), col("v")) -
        lit(2) * dotDecimal(col("v"), col("qv"))).as("_d2"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("_d2").asc, col("vec_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("vec_id"), col("rnk"))
  }
}
