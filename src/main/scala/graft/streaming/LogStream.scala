package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

import graft.Pipeline
import graft.operators.Enrich

/** Structured-Streaming ingestion — the Spark-native replacement for the
  * reference's systemd-timer micro-batching + byte-offset state
  * (`/root/reference/lib/maillogsentinel/parser.py:38-217`,
  * `utils.py:214-270`; SURVEY §2.8):
  *
  *  - file-source + checkpointLocation plays the role of state.offset
  *    (including crash recovery — strictly stronger than the reference's
  *    write-after-extract ordering, which can double-append on crash);
  *  - rotation is handled by filename tracking (rotated files are new
  *    files, seen once) — and so is the live file: Spark's file source
  *    reads each file once, when it first lists it, so lines appended to
  *    the live `mail.log` after that are never read. This is not a tail
  *    of the live log; one tail source for batch and streaming is
  *    ROADMAP direction 4;
  *  - the daily report window becomes a watermarked tumbling window that
  *    emits incrementally instead of rescanning the whole CSV
  *    (report.py:92-93's whole-file reread is the anti-pattern at scale).
  */
object LogStream {

  /** Streaming extract: raw log lines under `logDir` (glob) → canonical
    * events frame. Same declarative plan as Pipeline.extract — parse and
    * enrichment are stateless/broadcast, so they lift to streaming
    * unchanged. The geo tables are built when this is called, so a
    * streaming query keeps the tables it started with and does not see a
    * dim refresh (until the one live-tail source of ROADMAP direction 4
    * replaces this path); a batch run in the same session that sees a
    * refresh destroys the old tables under it. */
  def events(spark: SparkSession, logDir: String, year: Int,
             geo: Option[Pipeline.GeoDims] = None,
             resolver: Option[Enrich.Resolver] = None): DataFrame = {
    val lines = spark.readStream.text(logDir)
    Pipeline.extract(lines, year, geo, resolver)
  }

  /** Continuous CSV append sink with checkpoint. */
  def toCsv(events: DataFrame, outDir: String,
            checkpoint: String): DataStreamWriter[Row] =
    events.writeStream
      .format("csv")
      .option("delimiter", ";")
      .option("header", "true")
      .option("path", outDir)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())

  /** Incremental daily counts per (day, user): the streaming form of the
    * report's daily window. Watermark bounds state; update mode emits
    * refinements per micro-batch. `tsCol` must be a real timestamp column
    * (use to_timestamp over the formatted date for parity input). */
  def dailyCounts(events: DataFrame, tsCol: String,
                  watermark: String = "2 days"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), "1 day"), col("user"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("day"), col("user"), col("n"))

  /** Drive an AvailableNow query to completion (batch-like test/CLI
    * runs). */
  def runToCompletion(w: DataStreamWriter[Row]): Unit = {
    val q: StreamingQuery = w.start()
    q.awaitTermination()
  }
}
