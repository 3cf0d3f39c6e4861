package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.ProductQuant

/** Product quantization, on the kernels q92/q93/q95 run: codebook
  * shape, encode partitioning invariance, ADC totals, and the IVF-PQ
  * probed-cell restriction. */
class ProductQuantSpec extends SparkSpec {

  private val M = 2
  private val Dsub = 4
  private val Stride = 8

  /** 64 deterministic 8-dim vectors from spark.range (literal-free so
    * plans keep their real shapes, per the LocalTableScan trap). The
    * big-prime hash makes pairwise d² generically DISTINCT, so no
    * assertion below leans on a tiebreak. */
  private def vectors: DataFrame =
    spark.range(64).select(col("id"),
      transform(sequence(lit(0), lit(M * Dsub - 1)),
        i => ((col("id") * 2654435761L + i * 40503) % 1000003)
          .cast("double") / 1000003.0 - 0.5)
        .as("v"))

  private def codebook: DataFrame =
    ProductQuant.codebookByStride(vectors, M, Dsub, Stride)

  test("stride codebook has m x ksub entries of dsub dims") {
    val rows = codebook.select(col("j"), col("code"), size(col("cv")).as("d"))
      .collect()
    assert(rows.length == M * 8) // 64 / stride 8 = 8 centroids
    assert(rows.forall(_.getInt(2) == Dsub))
    assert(rows.map(r => (r.getInt(0), r.getLong(1))).toSet ==
      (for (j <- 0 until M; c <- 0 until 8) yield (j, c.toLong)).toSet)
  }

  test("encode is partitioning-invariant") {
    val a = ProductQuant.encodeDecimal(vectors, codebook, M, Dsub)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val b = ProductQuant.encodeDecimal(vectors.repartition(7), codebook,
        M, Dsub)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(a == b)
  }

  test("a stride-picked vector encodes to its own centroid (d2 = 0)") {
    val codes = ProductQuant.encodeDecimal(
        vectors.filter(col("id") === 16), codebook, M, Dsub)
      .collect().map(r => (r.getInt(1), r.getLong(2))).toMap
    assert(codes == Map(0 -> 2L, 1 -> 2L)) // id 16 = centroid code 16/8
  }

  test("ADC totals equal the sum of subspace code distances") {
    // query 0 against candidate whose codes are exact centroids: the
    // ADC to a stride vector's codes is the true subspace-quantized
    // distance; spot-check one pair against a direct computation
    val queries = vectors.filter(col("id") === 0)
    val enc = ProductQuant.encodeDecimal(vectors, codebook, M, Dsub)
    val got = ProductQuant.adcSearchDecimal(enc, codebook, queries,
        k = 63, m = M, dsub = Dsub)
      .filter(col("vec_id") === 16).collect().head.getDouble(2)
    // id 16 encodes to its own slices (previous test), so ADC(0 -> 16)
    // is exactly d2(v0, v16)
    val direct = vectors.filter(col("id").isin(0, 16))
      .agg(collect_list(struct(col("id"), col("v"))).as("p"))
      .select(aggregate(
        zip_with(element_at(col("p"), 1).getField("v"),
          element_at(col("p"), 2).getField("v"),
          (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, x) => acc + x))
      .collect().head.getDouble(0)
    assert(math.abs(got - direct) < 1e-9)
  }

  test("IVF-PQ: probed-cell restriction of the full ADC ranking") {
    import graft.operators.Similarity
    val cents = vectors.filter(col("id") % 16 === 0)
      .select((col("id") / 16).cast("long").as("cid"), col("v").as("cv"))
    val assignment = Similarity.assignL2Decimal(vectors, cents)
    val queries = vectors.filter(col("id") < 2)
    val enc = ProductQuant.encodeDecimal(vectors, codebook, M, Dsub)
    val got = ProductQuant.ivfPqSearchDecimal(enc, assignment, cents,
        queries, codebook, nprobe = 2, k = 3, m = M, dsub = Dsub)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // reference: per query, keep vectors in its 2 nearest cells, rank
    // by the SAME decimal ADC via adcSearchDecimal on that subset
    assert(got.nonEmpty)
    got.groupBy(_._1).foreach { case (q, rows) =>
      val cells = assignment
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      // every hit sits in a probed cell of q (nprobe=2 includes the
      // own cell = assignL2Decimal's argmin plus the runner-up)
      val expected = ProductQuant.adcSearchDecimal(
          enc.join(assignment.filter(col("cid").isin(
              // recompute q's two nearest cells with the same ranking
              probedCells(queries.filter(col("id") === q), cents): _*))
            .select(col("id")), Seq("id")),
          codebook, queries.filter(col("id") === q),
          k = 3, m = M, dsub = Dsub)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
        .toSet
      assert(rows.toSet == expected, s"q=$q cells=$cells")
    }
  }

  /** The nprobe=2 nearest cell ids of a single query, decimal-ranked
    * the same way ivfPqSearchDecimal ranks them. */
  private def probedCells(query: DataFrame,
                          cents: DataFrame): Seq[Long] = {
    import graft.operators.Similarity
    val d = query.crossJoin(broadcast(
        cents.select(col("cid"), col("cv"))))
      .select(col("cid"),
        (Similarity.dotDecimal(col("v"), col("v")) +
          Similarity.dotDecimal(col("cv"), col("cv")) -
          lit(2) * Similarity.dotDecimal(col("v"), col("cv"))).as("d2"))
      .orderBy(col("d2").asc, col("cid").asc)
      .limit(2)
    d.collect().map(_.getLong(0)).toSeq
  }
}
