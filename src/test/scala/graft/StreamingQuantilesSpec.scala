package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.QuantileSketch

/** The t-digest [[QuantileSketch]] aggregator over a stream: the batch
  * aggregator runs unchanged, Spark's streaming aggregation merges each
  * micro-batch's buffer into the state store, and in the exact regime
  * (compression ≥ 2n for the whole stream) the merged sketch reads the
  * same ranks as a global sort, whatever the slicing. */
class StreamingQuantilesSpec extends SparkSpec {
  import spark.implicits._

  private def runSlices(compression: Int, qs: Seq[Double],
                        slices: Seq[Seq[Double]], name: String): Seq[Double] = {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Double]
    val q = ms.toDF().toDF("v")
      .agg(QuantileSketch.quantiles(col("v"), qs, compression).as("q"))
      .writeStream.format("memory").queryName(name)
      .outputMode("complete").start()
    try {
      slices.foreach { sl => ms.addData(sl: _*); q.processAllAvailable() }
      spark.sql(s"SELECT q FROM $name").collect().head.getSeq[Double](0)
    } finally q.stop()
  }

  test("exact regime: merged batch sketches equal global sorted ranks") {
    val rnd = new scala.util.Random(31)
    val all = (1 to 900).map(_ => (rnd.nextInt(100000) / 10.0))
    val sorted = all.sorted.toIndexedSeq
    val qs = Seq(0.1, 0.5, 0.99)
    val want = qs.map(q =>
      sorted((math.floor(q * (sorted.length - 1)).toInt + 1) - 1))
    // compression >= 2n for the TOTAL stream: slicing cannot matter
    val got = runSlices(compression = 2000, qs, all.grouped(300).toSeq,
      "sq_300")
    assert(got == want)
    // and a different slicing of the same stream gives the same answer
    val got2 = runSlices(2000, qs, all.grouped(450).toSeq, "sq_450")
    assert(got2 == want)
  }
}
