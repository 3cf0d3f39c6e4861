package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Column profiling — the ANALYZE-style stats feed (null counts, NDV,
  * min/max per column) a cost-based optimizer or data-quality monitor
  * reads. Every column's stats land in one wide row, then `stack`
  * unpivots to a row per column.
  * Numeric and string min/max live in separate typed columns — a
  * single mixed column would hash on engine-specific number formatting.
  *
  * NDVs are exact: one base scan for counts/nulls/min/max plus ONE
  * COLUMN-PRUNED SCAN PER COLUMN for its exact distinct count,
  * crossJoined as 1-row frames. The obvious single-pass alternative
  * (6 `count_distinct` in one aggregate) plans as Expand ×(cols+1)
  * feeding a 7-key aggregate whose min/max-string buffers force
  * SORTAGGREGATE — the whole table replicated 7× and sorted on wide
  * string keys, the r11-flagged q73 tail cost (measured 2.5 s at
  * sf0.1; the multi-scan shape cut it to ~0.9 s). At 100 TB the trade
  * is starker: parquet columnar pruning makes the per-column scans
  * cost ≈ one row-width read total, while the Expand+sort spills.
  * Each single-distinct aggregate is a two-level HASH agg (string
  * group keys hash fine; only string AGG BUFFERS force sort), so no
  * Expand and no big sort anywhere — PlanShapeSpec pins both.
  */
object ColumnProfile {

  /** numeric = true: min/max reported as double (`vmin_num`/`vmax_num`);
    * false: reported as string (`vmin_str`/`vmax_str`). */
  final case class ProfCol(name: String, numeric: Boolean)

  def profile(df: DataFrame, cols: Seq[ProfCol]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    require(cols.forall(!_.name.contains("'")),
      "column names must not contain single quotes (interpolated into stack())")
    val baseAggs =
      cols.zipWithIndex.flatMap { case (pc, i) =>
        val c = col(pc.name)
        Seq(sum(when(c.isNull, 1L).otherwise(0L)).as(s"nu_$i")) ++
          (if (pc.numeric)
             Seq(min(c).cast("double").as(s"mn_$i"),
               max(c).cast("double").as(s"mx_$i"))
           else
             Seq(min(c).cast("string").as(s"mn_$i"),
               max(c).cast("string").as(s"mx_$i")))
      }
    // exact NDVs as one single-distinct aggregate per column: each is a
    // column-pruned scan + two-level HASH agg; a combined 6-distinct
    // aggregate would Expand ×7 and sort (scaladoc)
    val wide = cols.zipWithIndex.foldLeft(
        df.agg(count(lit(1)).as("n"), baseAggs: _*)) {
      case (acc, (pc, i)) =>
        acc.crossJoin(broadcast(
          df.agg(count_distinct(col(pc.name)).as(s"nd_$i"))))
    }
    val rows = cols.zipWithIndex.map { case (pc, i) =>
      if (pc.numeric)
        s"'${pc.name}', nu_$i, nd_$i, mn_$i, mx_$i, CAST(NULL AS STRING), CAST(NULL AS STRING)"
      else
        s"'${pc.name}', nu_$i, nd_$i, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), mn_$i, mx_$i"
    }
    wide.selectExpr("n",
      s"""stack(${cols.length},
         ${rows.mkString(",\n         ")})
         AS (col_name, n_nulls, n_distinct, vmin_num, vmax_num, vmin_str, vmax_str)""")
  }
}
