package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * "Today's top-10 offenders" — the reference's headline report block
    * (report.py:311-341 analog). */
  def entry(spark: SparkSession): DataFrame =
    Queries.all("q03_topk_offenders")(spark, "/root/testdata/sf0.001")
  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Queries.all
  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Every registered query carries its oracle
    * SQL (`Queries.Q.sql` is not optional), so the two maps have the
    * same keys; every registered query is an exact kernel, so DuckDB
    * can reproduce its result hash. */
  def oracleSql: Map[String, String] = Queries.oracle
}
