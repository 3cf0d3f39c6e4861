package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (PQ) — the vector-compression member of the
  * ANN family (Jégou/Douze/Schmid, "Product Quantization for Nearest
  * Neighbor Search", TPAMI 2011; public FAISS docs describe the same
  * scheme). The embedding is split into `m` contiguous subvectors;
  * each subvector is quantized independently against a per-subspace
  * codebook of `ksub` centroids, so a d-dim float vector compresses to
  * `m` small codes (m bytes when ksub ≤ 256) — at 100 TB of raw
  * embeddings this is the difference between an index that fits in
  * cluster memory and one that does not. Search uses asymmetric
  * distance computation (ADC): per query, a tiny m×ksub table of
  * exact subspace distances is built against the codebook; each
  * database vector's approximate distance is then m table lookups —
  * never a touch of the original floats.
  *
  * Scale shape:
  *  - [[encodeDecimal]]: broadcast the codebook (m·ksub·dsub doubles —
  *    KBs), explode each vector into its m subvectors (narrow), argmin
  *    per (id, subspace) by a window over the subspace's ksub
  *    candidates.
  *  - [[adcSearchDecimal]]: distance tables are built query-side
  *    (queries × codebook, both tiny) and broadcast; the long-form code
  *    table joins them on (j, code) and sums per candidate, feeding a
  *    per-query top-k — the IVF composition ([[ivfPqSearchDecimal]]:
  *    restrict to probed cells first, q47/q48) multiplies on top.
  *
  * Cross-engine determinism (the oracle story, mirrored from
  * [[Similarity]]): the kernels expand subspace L2 as exact
  * DECIMAL(18,16) sums of float-origin products — (x−c) is exact in
  * double when both are float-valued (≤ 25 mantissa bits), its square
  * rounds identically under IEEE in any engine, and decimal addition
  * is associative — so code assignments and ADC totals are
  * bit-identical to DuckDB computing the same expansion (q92/q93).
  * Bound: components ≤ 1 (unit-norm embeddings), so a subspace d² ≤
  * 4·dsub ≤ 64 < 100 stays on the Long-backed decimal fast path.
  *
  * Reference analog: none — the reference has no vector surface; this
  * extends SURVEY §2's beyond-reference ANN family (q20/q21/q47/q48).
  */
object ProductQuant {

  /** Exact subspace squared-L2: Σ ((a_i − b_i)²) as DECIMAL(18,16). */
  private[operators] def d2Decimal(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => ((x - y) * (x - y)).cast("decimal(18,16)")),
      lit(0).cast("decimal(18,16)"),
      (acc, x) => (acc + x).cast("decimal(18,16)"))

  /** (j, code, cv) codebook from stride-picked data vectors: subspace
    * j's centroid `code` is the j-th slice of vector id = code·stride.
    * Deterministic init: trained codebooks would be arbitrary doubles
    * and fall outside the float-exactness oracle argument (same caveat
    * as IVF's stride centroids). */
  def codebookByStride(vectors: DataFrame, m: Int, dsub: Int,
                       stride: Int): DataFrame =
    vectors.filter(col("id") % stride === 0)
      .select((col("id") / stride).cast("long").as("code"), col("v"))
      .select(explode(sequence(lit(0), lit(m - 1))).as("j"), col("code"),
        col("v"))
      .select(col("j"), col("code"),
        slice(col("v"), col("j") * dsub + 1, lit(dsub)).as("cv"))

  /** Explode (id, v) into its m subvectors (id, j, sv) — narrow. */
  private def subvectors(vectors: DataFrame, m: Int, dsub: Int): DataFrame =
    vectors
      .select(col("id"), explode(sequence(lit(0), lit(m - 1))).as("j"),
        col("v"))
      .select(col("id"), col("j"),
        slice(col("v"), col("j") * dsub + 1, lit(dsub)).as("sv"))

  /** PQ encode: (id, j, code) per subspace — exact-decimal subspace
    * distances, ROW_NUMBER argmin (ties by code) — bit-identical to a
    * DuckDB mirror of the same expansion (q92). */
  def encodeDecimal(vectors: DataFrame, codebook: DataFrame, m: Int,
                    dsub: Int): DataFrame = {
    val cb = broadcast(codebook)
    val w = Window.partitionBy(col("id"), col("j"))
      .orderBy(col("_d2").asc, col("code").asc)
    subvectors(vectors, m, dsub)
      .join(cb, Seq("j"))
      .withColumn("_d2", d2Decimal(col("sv"), col("cv")))
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") === 1)
      .select(col("id"), col("j"), col("code"))
  }

  /** ADC search (q93): decimal distance tables joined to long-form
    * codes on (j, code), per-pair ADC as an exact decimal SUM
    * (associative ⇒ partitioning-invariant). Candidates are RANKED
    * ON THE DECIMAL — the double cast of a 16-digit decimal rounds
    * differently across engines (the q20/q48 divergence), so ranks are
    * the cross-engine-comparable output; `adc` (the double) is exposed
    * for callers but q93 excludes it from the hashed columns. */
  def adcSearchDecimal(encoded: DataFrame, codebook: DataFrame,
                       queries: DataFrame, k: Int, m: Int,
                       dsub: Int): DataFrame = {
    val dtable = subvectors(queries, m, dsub)
      .join(broadcast(codebook), Seq("j"))
      .select(col("id").as("q_id"), col("j"), col("code"),
        d2Decimal(col("sv"), col("cv")).as("_d2"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("_adcd").asc, col("vec_id").asc)
    encoded.select(col("id").as("vec_id"), col("j"), col("code"))
      .join(broadcast(dtable), Seq("j", "code"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("_d2")).as("_adcd"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("vec_id"),
        col("_adcd").cast("double").as("adc"), col("rnk"))
  }

  /** IVF-PQ search (oracle-deterministic): the composition that makes
    * PQ a 100 TB index — [[Similarity.ivfSearchDecimal]]'s probed-cell
    * restriction picks WHICH vectors are candidates (equi-join on the
    * cell id, never a corpus cross join), then ADC ranks them from
    * their CODES alone. `assignment` is the inverted file (id, cid);
    * `encoded` the code table (id, j, code). At scale both live in ONE
    * table partitioned by cid (codes co-located with their cell), so
    * the `vec_id` join below disappears into the storage layout; here
    * they are separate frames because q47/q48 and q92/q93 share them.
    * The output is a pure function of the codes: no exact re-rank over
    * the floats follows. */
  def ivfPqSearchDecimal(encoded: DataFrame, assignment: DataFrame,
                         centroids: DataFrame, queries: DataFrame,
                         codebook: DataFrame, nprobe: Int, k: Int,
                         m: Int, dsub: Int): DataFrame = {
    val c = broadcast(centroids.select(col("cid"), col("cv"),
      Similarity.dotDecimal(col("cv"), col("cv")).as("_cc")))
    val probed = queries
      .select(col("id").as("q_id"), col("v").as("qv"),
        Similarity.dotDecimal(col("v"), col("v")).as("_qq"))
      .crossJoin(c)
      .withColumn("_d2", col("_qq") + col("_cc") -
        lit(2) * Similarity.dotDecimal(col("qv"), col("cv")))
      .withColumn("_rk", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("_d2").asc, col("cid"))))
      .filter(col("_rk") <= nprobe)
      .select(col("q_id"), col("cid"))
    val cand = assignment.join(broadcast(probed), Seq("cid"))
      .filter(col("id") =!= col("q_id"))
      .select(col("q_id"), col("id").as("vec_id"))
    val dtable = subvectors(queries, m, dsub)
      .join(broadcast(codebook), Seq("j"))
      .select(col("id").as("q_id"), col("j"), col("code"),
        d2Decimal(col("sv"), col("cv")).as("_d2"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("_adcd").asc, col("vec_id").asc)
    cand
      .join(encoded.select(col("id").as("vec_id"), col("j"), col("code")),
        Seq("vec_id"))
      .join(broadcast(dtable), Seq("q_id", "j", "code"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("_d2")).as("_adcd"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("vec_id"), col("rnk"))
  }
}
