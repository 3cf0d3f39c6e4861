package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.KmvSketch

/** The KMV SET-ALGEBRA estimators (q181's pair stage) over a stream:
  * the per-key sketches are the batch [[KmvSketch.lowestK]] aggregator
  * kept in Spark's streaming state, and after any prefix of
  * micro-batches the [[KmvSketch.pairEstimates]] computed from that
  * state equal the batch estimates over everything arrived so far —
  * the same kernel on both sides, so the parity certifies the
  * estimator chain itself. */
class StreamingKmvAlgebraSpec extends SparkSpec {
  import spark.implicits._

  private val k = 8

  // a∩b = {11..20}, c disjoint from both — one overlapping pair, two
  // empty-intersection pairs exercise the K∩ = 0 leg
  private val all: Seq[(String, Long)] =
    (1L to 20L).map(("a", _)) ++
      (11L to 30L).map(("b", _)) ++
      (1000L to 1019L).map(("c", _))

  private def estimates(sk: org.apache.spark.sql.DataFrame): Set[(String, String, Long, Long, Long)] =
    KmvSketch.pairEstimates(sk, "key", "kmv", k)
      .select(col("key_a"), col("key_b"), col("est_union"),
        col("k_int"), col("est_inter"))
      .as[(String, String, Long, Long, Long)].collect().toSet

  private def batchEstimates(rows: Seq[(String, Long)]): Set[(String, String, Long, Long, Long)] =
    estimates(rows.toDF("key", "h").groupBy(col("key"))
      .agg(KmvSketch.lowestK(col("h"), k).as("kmv")))

  test("pair estimates from stream state equal batch after every slice") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[(String, Long)]
    val q = ms.toDF().toDF("key", "h").groupBy(col("key"))
      .agg(KmvSketch.lowestK(col("h"), k).as("kmv"))
      .writeStream.format("memory").queryName("kmv_alg")
      .outputMode("complete").start()
    try {
      // interleaved slices: evens then odds, so every source spans
      // both micro-batches and every sketch merges cross-batch
      val (s1, s2) = all.partition(_._2 % 2 == 0)
      var arrived = Seq.empty[(String, Long)]
      for (slice <- Seq(s1, s2)) {
        ms.addData(slice: _*)
        q.processAllAvailable()
        arrived ++= slice
        // re-materialize the sink snapshot so the pair self-join runs
        // over plain rows, not the memory table
        val state = spark.sql("SELECT key, kmv FROM kmv_alg")
          .as[(String, Seq[Long])].collect().toSeq
        val fromStream = estimates(
          state.map { case (key, v) => (key, v.toArray) }.toDF("key", "kmv"))
        assert(fromStream == batchEstimates(arrived))
      }
      // the disjoint pairs must read as empty intersections
      val finalEst = batchEstimates(arrived)
      assert(finalEst.collect {
        case (a, b, _, ki, ei) if b == "c" || a == "c" => (ki, ei)
      } == Set((0L, 0L)))
    } finally q.stop()
  }
}
