package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.EventAnalytics

/** Incremental hourly rollup with no hand-written state: the batch
  * [[EventAnalytics.hourlyCounts]] runs unchanged over a file stream,
  * and Spark's streaming aggregation merges each micro-batch's deltas
  * into the checkpointed state. The maintained rollup equals the
  * from-scratch aggregation for any batch slicing, a replayed batch
  * does not double count, and the monitoring readouts agree batch vs
  * rollup. */
class RollupMaintenanceSpec extends SparkSpec {
  import spark.implicits._

  // 24 calm hours at n=2 then a 3-event spike hour (the forecast
  // fixture), split across two files so the stream sees two batches
  private val calm = (0L until 24L).flatMap(h =>
    Seq.tabulate(2)(i => ("click", h * 3600000L + i)))
  private val spike = Seq.tabulate(3)(i => ("click", 24L * 3600000L + i))

  private def writeCsv(dir: Path, name: String,
                       rows: Seq[(String, Long)]): Unit =
    Files.write(dir.resolve(name),
      rows.map { case (t, ms) => s"$t,$ms" }.mkString("\n")
        .getBytes(StandardCharsets.UTF_8))

  /** One AvailableNow run over whatever `in` holds; the complete-mode
    * memory table `name` then holds the whole maintained rollup. */
  private def maintain(in: Path, ckpt: Path, name: String): DataFrame = {
    val q = EventAnalytics.hourlyCounts(
        spark.readStream.schema("event_type STRING, ms LONG")
          .csv(in.toString))
      .writeStream.format("memory").queryName(name)
      .outputMode("complete")
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(name)
  }

  test("merged deltas == from-scratch hourly rollup across batch slicings") {
    val batch = EventAnalytics.hourlyCounts(
      (calm ++ spike).toDF("event_type", "ms"))
      .as[(String, Long, Long)].collect().toSet
    // two runs against one checkpoint: the spike merges into kept state
    val d = Files.createTempDirectory("graft-rollup")
    val in = d.resolve("in"); Files.createDirectories(in)
    writeCsv(in, "b1.csv", calm)
    maintain(in, d.resolve("ckpt"), "rollup_two")
    writeCsv(in, "b2.csv", spike)
    val merged = maintain(in, d.resolve("ckpt"), "rollup_two")
      .as[(String, Long, Long)].collect().toSet
    assert(merged == batch)
    // one run over both files
    val d1 = Files.createTempDirectory("graft-rollup1")
    val in1 = d1.resolve("in"); Files.createDirectories(in1)
    writeCsv(in1, "b1.csv", calm)
    writeCsv(in1, "b2.csv", spike)
    val oneShot = maintain(in1, d1.resolve("ckpt"), "rollup_one")
      .as[(String, Long, Long)].collect().toSet
    assert(oneShot == batch)
  }

  test("monitoring readouts agree: events-side == rollup-side") {
    val d = Files.createTempDirectory("graft-rollup2")
    val in = d.resolve("in"); Files.createDirectories(in)
    writeCsv(in, "b1.csv", calm ++ spike)
    val rollup = maintain(in, d.resolve("ckpt"), "rollup_mon")
    val ev = (calm ++ spike).toDF("event_type", "ms")

    assert(EventAnalytics.rateAnomaliesFromHourly(rollup)
      .collect().toSeq ==
      EventAnalytics.rateAnomalies(ev).collect().toSeq)
    assert(EventAnalytics.forecastBacktestFromHourly(rollup)
      .collect().toSeq ==
      EventAnalytics.forecastBacktest(ev).collect().toSeq)
  }

  test("a replayed batch overwrites its own delta — no double count") {
    val d = Files.createTempDirectory("graft-rollup3")
    val in = d.resolve("in"); Files.createDirectories(in)
    val ckpt = d.resolve("ckpt")
    writeCsv(in, "b1.csv", calm)
    maintain(in, ckpt, "rollup_replay")
    // simulate a crash after batch 0 ran but before it committed: drop
    // its commit record, so the restart re-runs batch 0 from its
    // logged offsets against the state version it started from
    val commits = ckpt.resolve("commits")
    Seq("0", ".0.crc").map(commits.resolve).foreach(Files.deleteIfExists)
    val replayed = maintain(in, ckpt, "rollup_replay")
    assert(Files.exists(commits.resolve("0")), "batch 0 must re-commit")
    val total = replayed.agg(sum(col("n"))).collect().head.getLong(0)
    assert(total == calm.size.toLong)
  }
}
