package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.HeavyHitters

/** The Misra–Gries [[HeavyHitters]] aggregator over a stream: the
  * batch aggregator runs unchanged and Spark's streaming aggregation
  * merges each micro-batch's summary into the state store. When the
  * capacity covers every distinct item no counter evicts, so the
  * merged summary is exact after every micro-batch. */
class StreamingHeavyHittersSpec extends SparkSpec {
  import spark.implicits._

  test("exact when capacity >= distinct: merged batches equal global counts") {
    implicit val sqlCtx = spark.sqlContext
    val batches = Seq(
      Seq.fill(30)("a") ++ Seq.fill(10)("b"),
      Seq.fill(5)("a") ++ Seq.fill(20)("c"),
      Seq.fill(1)("b") ++ Seq.fill(2)("d"))
    val ms = MemoryStream[String]
    val q = ms.toDF().toDF("item")
      .agg(HeavyHitters.sketch(col("item"), 16).as("sk"))
      .writeStream.format("memory").queryName("shh_exact")
      .outputMode("complete").start()
    try {
      var arrived = Seq.empty[String]
      for (b <- batches) {
        ms.addData(b: _*)
        q.processAllAvailable()
        arrived ++= b
        val got = spark.sql("SELECT sk FROM shh_exact").collect()
          .head.getMap[String, Long](0).toMap
        val exact = arrived.groupBy(identity)
          .map { case (k, v) => k -> v.size.toLong }
        assert(got == exact)
      }
      assert(arrived.groupBy(identity).map { case (k, v) => k -> v.size } ==
        Map("a" -> 35, "b" -> 11, "c" -> 20, "d" -> 2))
    } finally q.stop()
  }
}
