package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** SQL-INSERT-file sink — the reference's export format
  * (`/root/reference/lib/maillogsentinel/sql_exporter.py:187-311`),
  * re-expressed as column expressions so statement generation distributes
  * (the reference renders row-at-a-time in Python).
  *
  * Per-type literal formatting (format_sql_value, sql_exporter.py:202-257):
  *  - null-likes {'null','na','n/a',''} → NULL (:217-226)
  *  - int: cast, null on failure (:230-244)
  *  - bool: truthy-string set → 1/0 (:254-255)
  *  - string: quote-doubling escape, single-quoted (:187-199)
  *  - datetime: passed through formatted (:246-249)
  *
  * Failure policy (sql_exporter.py:621-639): NOT-NULL violation ⇒ whole
  * batch aborts (reference deletes the output file). Exposed as a
  * violation count the caller checks before writing — same semantics,
  * no partial file ever exists.
  */
object SqlExport {

  val NullLikes: Seq[String] = Seq("null", "na", "n/a", "")

  /** Column kinds the mapping json distinguishes
    * (data/maillogsentinel_sql_column_mapping.json). */
  sealed trait Kind
  case object IntKind extends Kind
  case object BoolKind extends Kind
  case object StrKind extends Kind
  case object DateTimeKind extends Kind

  final case class ColumnSpec(csvName: String, sqlName: String, kind: Kind,
                              notNull: Boolean)

  private def nullified(c: Column): Column =
    when(lower(coalesce(c, lit("null"))).isin(NullLikes: _*), lit(null))
      .otherwise(c)

  /** SQL literal rendering for one column. */
  def literal(c: Column, kind: Kind): Column = {
    val v = nullified(c)
    val rendered = kind match {
      // try_cast: null on non-numeric (sql_exporter.py:230-244 semantics);
      // ANSI-mode plain cast would abort the job instead
      case IntKind  => v.try_cast("long").cast("string")
      case BoolKind => when(lower(v).isin("true", "1", "yes", "on"), "1")
        .otherwise("0")
      case StrKind | DateTimeKind =>
        concat(lit("'"), regexp_replace(v, "'", "''"), lit("'"))
    }
    coalesce(rendered, lit("NULL"))
  }

  /** The INSERT statement column and the NOT-NULL-violation flag column. */
  private def insertColumns(table: String,
                            specs: Seq[ColumnSpec]): (Column, Column) = {
    val cols = specs.map(s => literal(col(s.csvName), s.kind))
    val violated = specs.filter(_.notNull)
      .map { s =>
        val base = nullified(col(s.csvName)).isNull
        if (s.kind == IntKind)
          base || nullified(col(s.csvName)).try_cast("long").isNull
        else base
      }
      .reduceOption(_ || _).getOrElse(lit(false))
    val stmt = concat(
      lit(s"INSERT INTO $table (${specs.map(_.sqlName).mkString(", ")}) VALUES ("),
      concat_ws(", ", cols: _*), lit(");"))
    (stmt, violated)
  }

  /** INSERT statement column + a NOT-NULL-violation flag column. */
  def statements(df: DataFrame, table: String,
                 specs: Seq[ColumnSpec]): DataFrame = {
    val (stmt, violated) = insertColumns(table, specs)
    df.select(stmt.as("stmt"), violated.as("violation"))
  }

  /** Render the full export. Returns Left(violationCount) — batch aborted,
    * nothing written (parity with delete-on-error, sql_exporter.py:621-639)
    * — or Right(lines) wrapped in BEGIN TRANSACTION/COMMIT
    * (sql_exporter.py:551-586). */
  def export(df: DataFrame, table: String,
             specs: Seq[ColumnSpec]): Either[Long, Dataset[String]] = {
    import df.sparkSession.implicits._
    val rendered = statements(df, table, specs).cache()
    val violations = rendered.filter(col("violation")).count()
    if (violations > 0) { rendered.unpersist(); Left(violations) }
    else {
      val body = rendered.select(col("stmt")).as[String]
      val begin = df.sparkSession.createDataset(Seq("BEGIN TRANSACTION;"))
      val commit = df.sparkSession.createDataset(Seq("COMMIT;"))
      rendered.unpersist()
      Right(begin.union(body).union(commit))
    }
  }

  final case class Quarantined(lines: Dataset[String],
                               quarantine: DataFrame, violations: Long)

  /** Quarantine alternative to the all-or-nothing [[export]] (SURVEY
    * §7.4.7): valid rows export, violating rows are returned as a frame
    * for a side-channel sink instead of poisoning the whole batch — the
    * policy you actually want at scale, where one bad row in a billion
    * must not abort the load. */
  def exportWithQuarantine(df: DataFrame, table: String,
                           specs: Seq[ColumnSpec]): Quarantined = {
    import df.sparkSession.implicits._
    // the original source columns ride along for the quarantine frame
    val (stmt, violated) = insertColumns(table, specs)
    val rendered = df.withColumn("stmt", stmt)
      .withColumn("violation", violated).cache()
    val violations = rendered.filter(col("violation")).count()
    val good = rendered.filter(!col("violation")).select(col("stmt")).as[String]
    val quarantine = rendered.filter(col("violation"))
      .drop("stmt", "violation")
    val begin = df.sparkSession.createDataset(Seq("BEGIN TRANSACTION;"))
    val commit = df.sparkSession.createDataset(Seq("COMMIT;"))
    Quarantined(begin.union(good).union(commit), quarantine, violations)
  }

  /** Schema-to-DDL with enum→CHECK downgrade
    * (sql_importer.py:149-248, enum handling :197-207). */
  def createTableDdl(table: String, specs: Seq[ColumnSpec],
                     enums: Map[String, Seq[String]] = Map.empty): String = {
    val colDefs = specs.map { s =>
      val ty = s.kind match {
        case IntKind      => "INTEGER"
        case BoolKind     => "INTEGER"
        case StrKind      => "TEXT"
        case DateTimeKind => "TEXT"
      }
      val nn = if (s.notNull) " NOT NULL" else ""
      val check = enums.get(s.sqlName)
        .map(vs => s" CHECK (${s.sqlName} IN (${vs.map(v => s"'$v'").mkString(", ")}))")
        .getOrElse("")
      s"  ${s.sqlName} $ty$nn$check"
    }
    s"CREATE TABLE IF NOT EXISTS $table (\n${colDefs.mkString(",\n")}\n);"
  }
}
