package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Cluster-bucketed semantic deduplication — the SemDeDup recipe
  * (Abbas et al. 2023, arXiv:2303.09540): k-means the embeddings, then
  * look for near-duplicates ONLY inside each cluster, so pair
  * generation is an equi-join on the cluster id and never an all-pairs
  * cross join. Retention is the paper's keep-one rule, made
  * deterministic: a row survives iff NO lower-id member of its own
  * cluster lies within the distance threshold ("keep first"), which is
  * an anti-join — no connected components, no recursion, exact SQL
  * twin.
  *
  * Scale: k grows with the corpus (SemDeDup uses k ≈ N/10⁴..10⁵), so
  * per-cluster pair counts stay bounded; the join shuffles rows by
  * cluster id once. At such k, produce the assignment with
  * [[KMeansCluster.assignFrom]] (broadcast centroid TABLE — the
  * literal-inlining path tops out near k = 64). The distance kernel
  * is the same fixed-point Σ⌊(xᵢ−yᵢ)²·10¹⁰⌋ BIGINT as
  * [[KMeansCluster.sqDistFixed]] — order-invariant integer sums,
  * engine-portable.
  *
  * Complements the LSH-based semantic dedup (SharedLsh/q91): LSH
  * buckets by hash collision and needs component-closure; k-means
  * buckets by trained geometry and the keep-first rule closes in one
  * anti-join.
  */
object SemDedup {

  /** Fixed-point squared L2 distance between two vector COLUMNS:
    * Σ ⌊(xᵢ − yᵢ)²·10¹⁰⌋, a BIGINT ([[KMeansCluster.sqDistFixed]]'s
    * column-column sibling). Native codegen'd kernel
    * (plans/SqDistFixedExpr) — this sits in the keepFirst self-join
    * filter, the hottest pair loop SemDeDup runs. */
  def sqDistFixedCols(a: Column, b: Column): Column =
    graft.plans.SqDistFixedExpr.sqDistFixed(a, b)

  /** Keep-first semantic dedup over a (id, v, cluster, …) assignment
    * frame (e.g. [[KMeansCluster.lloyd]]'s output): marks each row
    * kept=false iff some SAME-cluster member with a LOWER id is within
    * `maxDistFp` ([[sqDistFixedCols]] units). Returns
    * (id, cluster, kept). One cluster-keyed self-join + one anti-join
    * — never leaves the cluster. */
  def keepFirst(assigned: DataFrame, maxDistFp: Long): DataFrame = {
    // the frame feeds three consumers (both self-join sides + the
    // final left join); without a checkpoint each re-executes the
    // upstream assignment lineage (distance-kernel scan per consumer)
    val a = assigned.select(col("id"), col("cluster"), col("v"))
      .localCheckpoint()
    val shadowed = a.as("x").join(a.as("y"),
        col("x.cluster") === col("y.cluster") &&
          col("y.id") < col("x.id"))
      .where(sqDistFixedCols(col("x.v"), col("y.v")) <= maxDistFp)
      .select(col("x.id").as("id")).distinct()
    a.join(shadowed.withColumn("dup", lit(true)), Seq("id"), "left")
      .select(col("id"), col("cluster"),
        not(coalesce(col("dup"), lit(false))).as("kept"))
  }

  /** Incremental keep-first — the semantic-dedup analog of
    * KeyPairs.delta: decide `kept` for a DELTA of
    * newly crawled rows against a STORED assignment without
    * re-deciding (or even re-reading the verdicts of) the stored
    * rows. A delta row is shadowed by ANY same-cluster stored member
    * within τ, or by a lower-id same-cluster delta member within τ.
    *
    * When every delta id exceeds every stored id (crawl order),
    * keepFirst(stored ∪ delta) == stored's verdicts ∪ this —
    * keep-first's shadow relation only looks DOWNWARD in id, so
    * arrivals can never flip a stored verdict (spec-asserted).
    * Per-batch cost: delta×(stored + delta) cluster-keyed joins —
    * the stored side is probed, never rescanned quadratically. */
  def keepFirstIncremental(stored: DataFrame, delta: DataFrame,
                           maxDistFp: Long): DataFrame = {
    val s = stored.select(col("id"), col("cluster"), col("v"))
    val d = delta.select(col("id"), col("cluster"), col("v"))
      // consumed four times: byStored's x side, BOTH byDelta sides,
      // and the verdict join
      .localCheckpoint()
    // the crawl-order precondition is what makes incremental == from
    // -scratch; out-of-order ids would let a higher-id stored row
    // shadow a lower-id arrival (a verdict from-scratch would never
    // produce) — fail loudly instead of silently diverging. Two 1-row
    // aggregates; this function is an action-context batch step.
    val hi = s.agg(max(col("id").cast("long"))).collect()(0)
    val lo = d.agg(min(col("id").cast("long"))).collect()(0)
    require(hi.isNullAt(0) || lo.isNullAt(0) ||
      hi.getLong(0) < lo.getLong(0),
      s"crawl-order precondition violated: max stored id ${hi.get(0)} >= min delta id ${lo.get(0)}")
    val byStored = d.as("x").join(s.as("y"),
        col("x.cluster") === col("y.cluster"))
      .where(sqDistFixedCols(col("x.v"), col("y.v")) <= maxDistFp)
      .select(col("x.id").as("id"))
    val byDelta = d.as("x").join(d.as("y"),
        col("x.cluster") === col("y.cluster") &&
          col("y.id") < col("x.id"))
      .where(sqDistFixedCols(col("x.v"), col("y.v")) <= maxDistFp)
      .select(col("x.id").as("id"))
    d.join(byStored.union(byDelta).distinct().withColumn("dup", lit(true)),
        Seq("id"), "left")
      .select(col("id"), col("cluster"),
        not(coalesce(col("dup"), lit(false))).as("kept"))
  }
}
