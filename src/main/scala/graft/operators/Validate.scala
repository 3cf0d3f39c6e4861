package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative data-validation audit — the constraint gate a training
  * pipeline runs before ingesting a new drop (and the ANALYZE
  * companion to ColumnProfile): a set of typed checks
  * compiles into ONE aggregate pass over the frame, reporting
  * violation counts per check instead of failing row-by-row.
  *
  * Cost shape: every row-local check (null / set / range / regex)
  * becomes one conditional-sum column in a single shared scan — adding
  * a check adds an aggregate expression, never a pass. `Unique` needs
  * its own hash aggregation on the key (duplicate detection is not
  * row-local); each Unique is one groupBy whose map-side partial
  * aggregation bounds what crosses the exchange. No Expand anywhere:
  * the distinct count comes from counting the groupBy's groups, not
  * count_distinct.
  *
  * Null contract (deequ-style): only NotNull flags nulls; InSet /
  * InRange / Matches pass null values through so completeness and
  * domain checks compose instead of double-counting.
  */
object Validate {

  sealed trait Check { def name: String }
  final case class NotNull(column: String) extends Check {
    def name = s"not_null($column)"
  }
  final case class InSet(column: String, values: Seq[String]) extends Check {
    def name = s"in_set($column)"
  }
  final case class InRange(column: String, lo: Double, hi: Double)
      extends Check {
    def name = s"in_range($column)"
  }
  final case class Matches(column: String, regex: String) extends Check {
    def name = s"matches($column)"
  }
  final case class Unique(columns: Seq[String]) extends Check {
    def name = s"unique(${columns.mkString(",")})"
  }

  private def violated(c: Check): Column = c match {
    case NotNull(cn) => col(cn).isNull
    case InSet(cn, vs) => col(cn).isNotNull && !col(cn).isin(vs: _*)
    case InRange(cn, lo, hi) =>
      col(cn).isNotNull && (col(cn) < lo || col(cn) > hi)
    case Matches(cn, re) => col(cn).isNotNull && !col(cn).rlike(re)
    case Unique(_) => lit(false) // handled by its own aggregation
  }

  /** (check_name, violations, n_rows), one row per check, sorted by
    * the caller. `violations` for Unique = rows minus distinct key
    * combinations (null keys group like any other value). */
  def audit(df: DataFrame, checks: Seq[Check]): DataFrame = {
    require(checks.nonEmpty, "audit needs at least one check")
    require(checks.forall(!_.name.contains("'")),
      "check names must not contain single quotes (interpolated into stack())")
    val rowLocal = checks.filter(!_.isInstanceOf[Unique])
    val uniques = checks.collect { case u: Unique => u }
    val frames = Seq.newBuilder[DataFrame]
    if (rowLocal.nonEmpty) {
      val aggs = rowLocal.zipWithIndex.map { case (c, i) =>
        sum(when(violated(c), 1L).otherwise(0L)).as(s"v_$i")
      }
      val wide = df.agg(count(lit(1)).as("_n"), aggs: _*)
      val stackRows = rowLocal.zipWithIndex
        .map { case (c, i) => s"'${c.name}', v_$i" }.mkString(", ")
      frames += wide.selectExpr(
        s"stack(${rowLocal.length}, $stackRows) AS (check_name, violations)",
        "_n AS n_rows")
    }
    uniques.foreach { u =>
      val g = df.groupBy(u.columns.map(col): _*)
        .agg(count(lit(1)).as("_c"))
      frames += g.agg(
          (sum(col("_c")) - count(lit(1))).as("violations"),
          sum(col("_c")).as("n_rows"))
        .select(lit(u.name).as("check_name"), col("violations"),
          col("n_rows"))
    }
    frames.result()
      .map(_.select(col("check_name"),
        col("violations").cast("long").as("violations"),
        col("n_rows").cast("long").as("n_rows")))
      .reduce(_.union(_))
  }

  /** Referential-integrity check — the cross-table member of the
    * family (audit's checks are single-table): rows of `df` whose
    * `column` value has no match in `dim(dimCol)`. Nulls pass (the
    * shared null contract). One LEFT join against the DISTINCT key
    * set (dedup first — a duplicated dimension key would multiply
    * probe rows) + one conditional count; AQE broadcasts the key set
    * when small. Result row unions with [[audit]]'s frame. */
  def refIntegrity(df: DataFrame, column: String, dim: DataFrame,
                   dimCol: String): DataFrame =
    df.select(col(column))
      .join(dim.select(col(dimCol).as("_dk")).distinct(),
        col(column) === col("_dk"), "left")
      .agg(
        sum(when(col(column).isNotNull && col("_dk").isNull, 1L)
          .otherwise(0L)).as("violations"),
        count(lit(1)).as("n_rows"))
      .select(lit(s"ref_integrity($column)").as("check_name"),
        col("violations").cast("long").as("violations"),
        col("n_rows").cast("long").as("n_rows"))
}
