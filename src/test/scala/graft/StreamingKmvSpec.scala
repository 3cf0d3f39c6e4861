package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.KmvSketch

/** Stream == batch for the KMV sketch with no hand-written state: the
  * batch [[KmvSketch.lowestK]] aggregator runs unchanged under a
  * stream, and Spark's streaming aggregation keeps its buffer in the
  * state store. KMV merges are lossless, so after any prefix of
  * micro-batches the per-key (fill, k-th min, estimate) equals the
  * batch sketch of everything arrived so far. */
class StreamingKmvSpec extends SparkSpec {
  import spark.implicits._

  private val k = 8

  // the per-key sketch readout — one definition, both modes
  private def sketches(rows: DataFrame): DataFrame =
    rows.groupBy(col("key"))
      .agg(KmvSketch.lowestK(col("h"), k).as("kmv"))
      .select(col("key"), size(col("kmv")).as("fill"),
        when(size(col("kmv")) >= k, element_at(col("kmv"), k))
          .otherwise(lit(-1L)).as("kth"),
        KmvSketch.estimateNdv("kmv", k).as("est"))

  private def expected(rows: Seq[(String, Long)]): Map[String, (Int, Long, Long)] =
    rows.groupBy(_._1).map { case (key, rs) =>
      val sk = rs.map(_._2).distinct.sorted.take(k)
      val fill = sk.length
      val kth = if (fill >= k) sk(k - 1) else -1L
      val est = if (fill < k) fill.toLong
        else (k - 1).toLong * KmvSketch.HashSpace / kth
      key -> ((fill, kth, est))
    }

  private def readout(table: String): Map[String, (Int, Long, Long)] =
    spark.sql(s"SELECT key, fill, kth, est FROM $table")
      .as[(String, Int, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap

  test("cross-batch sketch equals the batch sketch of the arrived prefix") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[(String, Long)]
    val q = sketches(ms.toDF().toDF("key", "h"))
      .writeStream.format("memory").queryName("kmv_out")
      .outputMode("complete").start()
    try {
      // batch 1: source a gets 6 distinct (< k), b gets 12 (> k, dups)
      val b1 = (1L to 6L).map(("a", _)) ++
        (101L to 112L).map(("b", _)) ++ Seq(("b", 105L), ("b", 101L))
      // batch 2: a crosses k with smaller values; b gains one new min
      val b2 = (7L to 20L).map(("a", _)) ++ Seq(("b", 50L), ("a", 3L))
      var arrived = Seq.empty[(String, Long)]
      for (slice <- Seq(b1, b2)) {
        ms.addData(slice: _*)
        q.processAllAvailable()
        arrived ++= slice
        assert(readout("kmv_out") == expected(arrived))
      }
    } finally q.stop()
  }

  test("single-batch stream equals the Spark batch aggregator") {
    implicit val sqlCtx = spark.sqlContext
    val data = (1L to 300L).map(i => ("s" + (i % 3), i * 37 % 101))
    val ms = MemoryStream[(String, Long)]
    val q = sketches(ms.toDF().toDF("key", "h"))
      .writeStream.format("memory").queryName("kmv_one")
      .outputMode("complete").start()
    try {
      ms.addData(data: _*)
      q.processAllAvailable()
      val batch = sketches(data.toDF("key", "h"))
        .as[(String, Int, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert(batch.size == 3)
      assert(readout("kmv_one") == batch)
    } finally q.stop()
  }
}
