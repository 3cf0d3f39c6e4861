package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream analytics: sessionized path censuses, first-order
  * transition matrices, last-touch attribution, and rate-anomaly
  * detection — the audience/behavior layer over the `events` table
  * (the same family as q30 sessionize / q74 funnel / q135 cohort /
  * q136 RFM).
  *
  * Scale notes (100 TB):
  *  - Everything here windows PARTITION BY user (or event_type): state
  *    per key is one session's / one day's events, never the table.
  *  - Censuses aggregate sessions/transitions down to bounded
  *    cardinality (paths are length-capped, transition matrices are
  *    |types|², anomaly rows are flagged buckets) before any ORDER BY.
  *  - All derived metrics are integers (fixed-point where a ratio is
  *    needed), so oracle hashes are exact — see Queries' determinism
  *    rules.
  */
object EventAnalytics {

  /** Gap-based sessionization (the q30 kernel, factored for reuse):
    * expects columns (user_id, event_id, event_type, ms); adds
    * `session_id` (1-based per user). One window per user — state is a
    * single lag value, streaming-shaped and skew-safe as long as no
    * single user holds a partition-sized history. */
  def sessionized(ev: DataFrame, gapMs: Long): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ms"), col("event_id"))
    ev.withColumn("new_s",
        when(col("ms") - lag(col("ms"), 1).over(w) > gapMs, 1L)
          .when(lag(col("ms"), 1).over(w).isNull, 1L)
          .otherwise(0L))
      .withColumn("session_id",
        sum(col("new_s")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("new_s")
  }

  /** Top-K session paths: the first `maxLen` event types of each
    * session joined with '>', censused by frequency. The per-session
    * collect is bounded by `maxLen` (row_number filter BEFORE the
    * collect), so no session can blow a task; the census is a
    * hash-agg on a short string key. Deterministic order inside the
    * path via array_sort on (ms, event_id, type) structs — field-order
    * struct comparison, no collect_list ordering assumption. */
  def sessionPaths(ev: DataFrame, gapMs: Long, maxLen: Int, topK: Int): DataFrame = {
    val sess = sessionized(ev, gapMs)
    val w = Window.partitionBy(col("user_id"), col("session_id"))
      .orderBy(col("ms"), col("event_id"))
    sess.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= maxLen)
      .groupBy(col("user_id"), col("session_id"))
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("ms"), col("event_id"),
            col("event_type")))),
          x => x.getField("event_type")), ">").as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(topK)
  }

  /** First-order Markov transition census over sessionized events:
    * counts of (from_type → to_type) adjacent pairs within a session,
    * with the conditional probability as fixed-point parts-per-million
    * (integer division — engine-exact). Output is |types|² rows. */
  def transitionCensus(ev: DataFrame, gapMs: Long): DataFrame = {
    val sess = sessionized(ev, gapMs)
    val w = Window.partitionBy(col("user_id"), col("session_id"))
      .orderBy(col("ms"), col("event_id"))
    val pairs = sess
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .select(col("event_type").as("from_type"), col("to_type"))
    pairs.groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p_ppm",
        expr("n * 1000000 div sum(n) over (partition by from_type)"))
      .select(col("from_type"), col("to_type"), col("n"), col("p_ppm"))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** Last-touch attribution: each `convType` event is credited to the
    * LATEST preceding touch event (one of `touchTypes`, same user)
    * within `windowMs`, or 'none'. The argmax-over-preceding-rows is a
    * running MAX of a packed BIGINT (ms·K + type-code, K = #codes+1) —
    * one window per user, no per-pair join, so a user's cost is linear
    * in their history. Ties at the same millisecond resolve to the
    * higher code (last entry of `touchTypes` wins) — deterministic by
    * construction, documented at the call site. Census: conversions
    * and revenue-cents per touch type. */
  def lastTouchAttribution(
      ev: DataFrame,
      touchTypes: Seq[String],
      convType: String,
      windowMs: Long): DataFrame = {
    val k = touchTypes.size + 1
    val cw = touchTypes.zipWithIndex.foldLeft(lit(null).cast("long")) {
      case (acc, (t, i)) =>
        when(col("event_type") === t, col("ms") * k + (i + 1)).otherwise(acc)
    }
    val w = Window.partitionBy(col("user_id")).orderBy(col("ms"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val decode = touchTypes.zipWithIndex.foldLeft(lit("none")) {
      case (acc, (t, i)) =>
        when(col("last_packed").isNotNull &&
          (col("last_packed") % k) === (i + 1) &&
          col("ms") - expr(s"last_packed div $k") <= windowMs, t)
          .otherwise(acc)
    }
    ev.withColumn("pk", cw)
      .withColumn("last_packed", max(col("pk")).over(w))
      .filter(col("event_type") === convType)
      .withColumn("touch_type", decode)
      .groupBy(col("touch_type"))
      .agg(count(lit(1)).as("n_conversions"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("revenue"))
      .orderBy(col("touch_type"))
  }

  /** Rate-anomaly detection over hourly buckets: flag (event_type,
    * hour) cells whose count exceeds 1.5× the trailing-24h hourly mean
    * (integer cross-multiplied: 2·n·buckets > 3·sum), requiring ≥ 12
    * trailing buckets of coverage so cold starts don't flag. RANGE
    * window on the integer hour — missing hours shrink the divisor
    * (that's what the coverage scaling is for) rather than silently
    * zero-filling. Output is flagged cells only. */
  def rateAnomalies(ev: DataFrame): DataFrame =
    rateAnomaliesFromHourly(hourlyCounts(ev))

  /** [[rateAnomalies]] off a standing hourly rollup (event_type, hr,
    * n), e.g. [[hourlyCounts]] or the same rollup kept by a streaming
    * aggregation (RollupMaintenanceSpec): the readout needs only the
    * rollup, never the events. */
  def rateAnomaliesFromHourly(hourly: DataFrame): DataFrame =
    withTrail(hourly)
      .filter(col("trail_buckets") >= 12 &&
        col("n") * col("trail_buckets") * 2 > col("trail_sum") * 3)
      .select(col("event_type"), col("hr"), col("n"),
        col("trail_sum"), col("trail_buckets"))
      .orderBy(col("event_type"), col("hr"))

  /** Hourly (event_type, hr, n) counts — the rollup grain shared by
    * the monitoring readouts. */
  def hourlyCounts(ev: DataFrame): DataFrame =
    ev.withColumn("hr", expr("ms div 3600000"))
      .groupBy(col("event_type"), col("hr"))
      .agg(count(lit(1)).as("n"))

  /** Trailing-24h RANGE window sums over an hourly rollup — shared by
    * the anomaly and forecast readouts so "trailing" has exactly one
    * definition. */
  private def withTrail(hourly: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("hr"))
      .rangeBetween(-24, -1)
    hourly
      .withColumn("trail_sum", sum(col("n")).over(w))
      .withColumn("trail_buckets", count(lit(1)).over(w))
  }

  /** Forecast backtest: predict each hour's count as the trailing-24h
    * integer mean (⌊sum/buckets⌋, ≥12 covered buckets to play), then
    * census the absolute error per event type — n_cells, total
    * absolute error, and MAE ×100 (integer division; all BIGINT so
    * the readout is engine-exact). The model-quality readout for the
    * same naive seasonal-free baseline [[rateAnomalies]] thresholds
    * against; |types|-row output at any event volume. */
  def forecastBacktest(ev: DataFrame): DataFrame =
    forecastBacktestFromHourly(hourlyCounts(ev))

  /** [[forecastBacktest]] off a standing hourly rollup. */
  def forecastBacktestFromHourly(hourly: DataFrame): DataFrame =
    withTrail(hourly)
      .filter(col("trail_buckets") >= 12)
      .withColumn("fc", expr("trail_sum div trail_buckets"))
      .withColumn("err", abs(col("n") - col("fc")))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_cells"),
        sum(col("err")).as("abs_err_sum"),
        expr("sum(err) * 100 div count(1)").as("mae_x100"))
      .orderBy(col("event_type"))
}
