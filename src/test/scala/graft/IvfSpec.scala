package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** The IVF kernels q47/q48 run: SharedIvf's stride centroids, the
  * exact-decimal cell assignment and the probed-cell search. */
class IvfSpec extends SparkSpec {

  private def dir = sf("sf0.01")
  private lazy val vectors = SharedIvf.vectors(spark, dir)
  private lazy val cents = SharedIvf.centroids(spark, dir)

  test("every vector lands in exactly one cell") {
    val idx = Similarity.assignL2Decimal(vectors, cents)
    assert(idx.count() == vectors.count())
    assert(idx.groupBy(col("id")).count().filter(col("count") > 1).count() == 0)
    // cells are reasonably populated (no empty index)
    assert(idx.select(countDistinct(col("cid"))).collect().head.getLong(0) > 1)
  }

  /** Brute-force reference: every other vector ranked by the same
    * exact-decimal L2 expansion, ties by vec_id — no cells involved. */
  private def bruteTopK(queries: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("id").as("q_id"), col("v").as("qv"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("_d2").asc, col("vec_id"))
    vectors.crossJoin(broadcast(q))
      .filter(col("id") =!= col("q_id"))
      .select(col("q_id"), col("id").as("vec_id"),
        (Similarity.dotDecimal(col("qv"), col("qv")) +
          Similarity.dotDecimal(col("v"), col("v")) -
          lit(2) * Similarity.dotDecimal(col("v"), col("qv"))).as("_d2"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("vec_id"), col("rnk"))
  }

  test("IVF search recall vs brute force improves with nprobe") {
    val index = vectors.join(Similarity.assignL2Decimal(vectors, cents),
      Seq("id")).cache()
    val queries = vectors.filter(col("id") < 8)
    val nCells = cents.count().toInt
    val exact = bruteTopK(queries, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(exact.size == 8 * 5)

    def search(nprobe: Int): Set[(Long, Long, Int)] =
      Similarity.ivfSearchDecimal(index, cents, queries, nprobe, 5).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    def recall(got: Set[(Long, Long, Int)]): Double =
      got.map(t => (t._1, t._2)).intersect(exact.map(t => (t._1, t._2)))
        .size.toDouble / exact.size
    // probing every cell is exhaustive: same rows AND same ranks, so
    // recall 1.0 bounds every smaller probe
    assert(search(nCells) == exact, "full probe must be exact")
    val r2 = recall(search(2))
    assert(r2 > 0.0)

    // the annRecall eval operator reads the same numbers off the frames
    val exactDf = bruteTopK(queries, 5).select(col("q_id"), col("vec_id"))
    val candDf = Similarity.ivfSearchDecimal(index, cents, queries, 2, 5)
      .select(col("q_id"), col("vec_id"))
    val evalMean = Similarity.annRecall(exactDf, candDf, 5)
      .agg(avg(col("recall_permille"))).head.getDouble(0)
    assert(math.abs(evalMean / 1000.0 - r2) < 0.11,
      s"annRecall mean $evalMean vs manual $r2 (permille granularity)")
    index.unpersist()
  }
}
