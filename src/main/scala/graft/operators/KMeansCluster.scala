package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed Lloyd's k-means over an embedding column — the one
  * centroid trainer (the IVF/PQ oracle queries pick data vectors by
  * stride instead, see SharedIvf). Shape per iteration:
  *   1. ASSIGN — broadcast the k×dims centroid table as literal arrays
  *      into a codegen'd expression; each row computes k squared
  *      distances and takes the argmin. Narrow, no shuffle.
  *   2. UPDATE — per-dimension sums via posexplode + hash aggregation
  *      (ONE shuffle of k·dims partial sums), then a k·dims-row collect
  *      to the driver (bounded model state, like NgramLm's vocab —
  *      never data-sized).
  * At 100 TB that is the canonical k-means plan: iterations scans are
  * embarrassingly parallel, the only shuffle carries k·dims rows.
  *
  * Determinism (the oracle contract): the distance METRIC is fixed
  * -point — Σ ⌊(vᵢ−mᵢ)²·10¹⁰⌋ as a BIGINT. Each term is two IEEE
  * multiplies and a floor on bit-identical double inputs (float widens
  * exactly; m is a shared double), so every engine computes the same
  * integer — unlike a double→decimal cast, whose rounding at midpoints
  * differs between engines (Spark rounds the shortest string repr
  * HALF_UP, DuckDB rounds the exact binary value). Integer sums are
  * order-invariant; argmin ties break to the LOWEST centroid id.
  * Centroid means use the same quantization (Σ⌊xᵢ·10¹²⌋ BIGINT, then
  * mean = (sum/10¹²)/n in two IEEE divisions) — so assignments, means,
  * and inertia all hash-match a SQL twin with no double→decimal cast
  * anywhere in the operator.
  */
object KMeansCluster {

  /** Fixed-point squared L2 distance between a vector column and a
    * literal centroid: Σ ⌊(vᵢ − mᵢ)²·10¹⁰⌋, a BIGINT. Native codegen'd
    * kernel (plans/SqDistFixedExpr) — the HOF formulation it replaced
    * is CodegenFallback and this sits in every assignment scan; the
    * twin below exists for the bit-parity spec. */
  def sqDistFixed(v: Column, centroid: Seq[Double]): Column =
    graft.plans.SqDistFixedExpr.sqDistFixed(v, array(centroid.map(lit): _*))

  /** The zip_with/aggregate formulation [[sqDistFixed]] replaced; kept
    * as the agreement reference (SqDistFixedExprSpec asserts
    * bit-identical results). */
  private[graft] def sqDistFixedHof(v: Column, centroid: Seq[Double]): Column = {
    val m = array(centroid.map(lit): _*)
    aggregate(
      zip_with(v, m,
        (x, c) => floor(((x - c) * (x - c)) * lit(1e10)).cast("long")),
      lit(0L),
      (acc, d) => acc + d)
  }

  /** Assignment frame: (id, v, cluster, dist) — argmin of
    * [[sqDistFixed]] over `centroids`, ties to the lowest cluster id.
    * `emb` needs (id, v: array<double>). */
  def assign(emb: DataFrame,
             centroids: Seq[(Int, Seq[Double])]): DataFrame = {
    val dists = centroids.map { case (cid, c) =>
      struct(sqDistFixed(col("v"), c).as("d"), lit(cid).as("cid"))
    }
    // array_min over (dist, cid) structs: struct ordering compares dist
    // first, then cid — exactly "argmin with lowest-id tiebreak"
    val best = array_min(array(dists: _*))
    emb.select(col("id"), col("v"),
      best.getField("cid").as("cluster"),
      best.getField("d").as("dist"))
  }

  /** [[assign]] with centroids as a DATAFRAME (cid: int, cv:
    * array<double>) instead of inlined literals — the LARGE-k path:
    * literal centroids codegen fine to k ≈ 64, but past that the
    * argmin expression bloats (and SemDeDup-scale k ≈ N/10⁴ is far
    * past it). Broadcast the centroid table, fan out k rows per
    * vector, take the argmin as a min over packed (dist, cid) structs
    * — partial aggregation collapses the fan-out to one row per
    * (partition, id) before any exchange. Same fixed-point metric,
    * same lowest-cid tiebreak; parity with [[assign]] is
    * spec-asserted. A large-k Lloyd round composes as
    * assignFrom → updateCentroids → (toDF) → assignFrom. */
  def assignFrom(emb: DataFrame, centroids: DataFrame): DataFrame = {
    val e = normalized(emb)
    e.crossJoin(broadcast(
        centroids.select(col("cid").cast("int").as("cid"),
          col("cv").cast("array<double>").as("cv"))))
      .select(col("id"), col("v"),
        struct(SemDedup.sqDistFixedCols(col("v"), col("cv")).as("d"),
          col("cid")).as("dc"))
      .groupBy(col("id"), col("v"))
      .agg(min(col("dc")).as("best"))
      .select(col("id"), col("v"),
        col("best.cid").as("cluster"), col("best.d").as("dist"))
  }

  /** [[lloyd]] on the BROADCAST-TABLE assignment path ([[assignFrom]])
    * — identical math to the literal path (assignFrom parity is
    * spec'd; q120 oracles the whole loop), materially different
    * physical plan: centroid join fan-out + partial-agg argmin instead
    * of an inlined k·dims argmin expression. This is the k > ~64
    * shape, where literal inlining bloats codegen. Seeds = vectors
    * with id ∈ [0, k), like [[lloyd]]. */
  def lloydLargeK(emb: DataFrame, k: Int, iters: Int): DataFrame = {
    val e0 = normalized(emb)
    val e = if (iters > 1) e0.localCheckpoint() else e0 // see lloydFrom
    val spark = emb.sparkSession
    import spark.implicits._
    def df(cs: Seq[(Int, Seq[Double])]) = cs.toDF("cid", "cv")
    var centroids = seedCentroids(e, k)
    var assigned = assignFrom(e, df(centroids))
    var round = 1
    while (round < iters) {
      centroids = updateCentroids(assigned)
      assigned = assignFrom(e, df(centroids))
      round += 1
    }
    assigned
  }

  /** One UPDATE step: per-cluster per-dimension mean sums, collected
    * as the next centroid table. The per-element quantization is the
    * same fixed-point trick as the distance metric — Σ⌊xᵢ·10¹²⌋ as
    * BIGINT, then mean = (sum/10¹²)/n in two IEEE divisions — because
    * a double→decimal cast here would reintroduce the engine-dependent
    * midpoint rounding the header describes. Clusters that lost every
    * member disappear (their id never re-enters the argmin). */
  def updateCentroids(assigned: DataFrame): Seq[(Int, Seq[Double])] = {
    val dims = assigned.select(col("cluster"),
        posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("cluster"), col("pos"))
      .agg(sum(floor(col("x") * lit(1e12)).cast("long")).as("s"),
        count(lit(1)).as("n"))
      .collect()
    dims.groupBy(_.getInt(0)).toSeq.sortBy(_._1).map { case (cid, rows) =>
      cid -> rows.sortBy(_.getInt(1)).map { r =>
        r.getLong(2).toDouble / 1e12 / r.getLong(3)
      }.toSeq
    }
  }

  /** `iters` Lloyd rounds from seed centroids = the vectors with
    * id ∈ [0, k); returns the final assignment frame. Input types are
    * normalized (id → long, v → array<double>) so schema drift in the
    * id width or element type can't break the driver-side seed read. */
  def lloyd(emb: DataFrame, k: Int, iters: Int): DataFrame = {
    val e = normalized(emb)
    lloydFrom(e, seedCentroids(e, k), iters)
  }

  /** Seed read: the vectors with id ∈ [0, k) — and EXACTLY k of them.
    * Sparse ids (a filtered slice, say) would otherwise silently
    * starve the seed set and train fewer clusters than asked — the
    * degeneracy the round-5 scale bench hit once; fail loudly instead
    * (renumber ids densely before seeding, as ScaleBench now does). */
  private def seedCentroids(e: DataFrame, k: Int): Seq[(Int, Seq[Double])] = {
    val centroids = e
      .filter(col("id") < k)
      .select(col("id"), col("v")).collect()
      .map(r => r.getLong(0).toInt -> r.getSeq[Double](1).toSeq)
      .sortBy(_._1).toSeq
    require(centroids.size == k,
      s"need exactly $k seed vectors with id in [0, $k), found ${centroids.size} — renumber sparse ids densely first")
    centroids
  }

  /** `iters` Lloyd rounds from explicit seed centroids (e.g.
    * [[farthestFirstInit]]); `iters` = 1 is a pure assignment pass. */
  def lloydFrom(emb: DataFrame, init: Seq[(Int, Seq[Double])],
                iters: Int): DataFrame = {
    require(init.nonEmpty, "need at least one seed centroid")
    // multi-round Lloyd consumes the frame once per round (update
    // collect + next assign) — checkpoint so rounds rescan a cache,
    // not the source lineage; a single assignment pass stays lazy
    val e0 = normalized(emb)
    val e = if (iters > 1) e0.localCheckpoint() else e0
    var centroids = init
    var assigned = assign(e, centroids)
    var round = 1
    while (round < iters) {
      centroids = updateCentroids(assigned)
      assigned = assign(e, centroids)
      round += 1
    }
    assigned
  }

  /** Deterministic k-means++-style seeding by farthest-first (maxmin)
    * traversal: c₀ = the vector with the LOWEST id; each next centroid
    * is the point MAXIMIZING its min [[sqDistFixed]] distance to the
    * centroids chosen so far (ties to the lowest id). This is the
    * derandomized k-means++ — same O(log k)-competitive spread
    * guarantee family, none of the sampling nondeterminism, so the
    * whole selection chain has an exact SQL twin.
    *
    * Cost: k scans of the data, each a narrow broadcast-literal min
    * -distance map + a TakeOrdered(1) — no shuffle carries data rows.
    * Returns centroids keyed 0..k−1 in selection order (so the argmin
    * tiebreak prefers earlier-chosen centroids, matching the oracle). */
  def farthestFirstInit(emb: DataFrame, k: Int): Seq[(Int, Seq[Double])] = {
    require(k >= 1, "need k >= 1")
    val e = normalized(emb)
    val first = e.orderBy(col("id")).limit(1).collect()
    require(first.nonEmpty, "need a non-empty embedding frame")
    var chosen = Vector(first(0).getSeq[Double](1).toSeq)
    while (chosen.size < k) {
      // least() needs ≥2 children — a 1-element chosen set IS its min
      val ds = chosen.map(c => sqDistFixed(col("v"), c))
      val minD = if (ds.size == 1) ds.head else least(ds: _*)
      val next = e.select(col("id"), col("v"), minD.as("d"))
        .orderBy(col("d").desc, col("id").asc).limit(1).collect()(0)
      chosen = chosen :+ next.getSeq[Double](1).toSeq
    }
    chosen.zipWithIndex.map { case (v, i) => i -> v }
  }

  private def normalized(emb: DataFrame): DataFrame =
    emb.select(col("id").cast("long").as("id"),
      col("v").cast("array<double>").as("v"))
}
