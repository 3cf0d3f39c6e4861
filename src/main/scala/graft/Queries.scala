package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.IpFunctions
import graft.operators.{RangeJoin, Report}

/** The oracle-checked query suite.
  *
  * Each entry pairs a Spark DataFrame program with ANSI SQL that DuckDB runs
  * over the same parquet tables; the driver hash-compares the two result
  * sets (CORRECTNESS gate, see BASELINE.md).
  *
  * Determinism rules applied throughout (both sides identically):
  *  - SUM over doubles goes through a DECIMAL cast
  *    (`SUM(CAST(x AS DECIMAL(p,s)))` then cast back to DOUBLE): per-row
  *    double arithmetic is IEEE-identical across engines, the decimal cast
  *    of the same double is deterministic, and decimal addition is exact and
  *    associative — so the result does not depend on partitioning or
  *    accumulation order. A raw double SUM would differ in low bits between
  *    any two engines (and between two Spark runs with different partition
  *    counts).
  *  - Every query has a total ORDER BY (count desc ties broken by keys asc,
  *    replacing the reference's Python-stable-sort file order,
  *    SURVEY §7.4.2).
  *  - Temporal outputs are formatted strings, never raw timestamps.
  *  - Aliases match exactly between the Spark plan and the oracle SQL.
  */
object Queries {

  final case class Q(
      name: String,
      fn: (SparkSession, String) => DataFrame,
      sql: String)

  private def dec(c: Column, p: Int = 18, s: Int = 2): Column =
    c.cast(s"decimal($p,$s)")
  private def dsum(c: Column, p: Int = 18, s: Int = 2): Column =
    sum(dec(c, p, s)).cast("double")

  // ---------------------------------------------------------------------
  // Reference-parity operators (SURVEY §2) expressed on the test tables
  // ---------------------------------------------------------------------

  /** §2.4 multi-aggregation shared scan (report.py:109-170 analog):
    * grouped sums/counts over lineitem — partial+final hash agg, one
    * shuffle on the group keys. */
  private val q01 = Q(
    "q01_multi_agg",
    (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 28, 6)
            .as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus")),
    """SELECT l_returnflag, l_linestatus,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS sum_disc_price,
      COUNT(*) AS count_order
      FROM lineitem GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""")

  /** §2.2 filter + project with parquet pushdown (TPC-H Q6 shape): the
    * predicates and the 3-column read schema must reach the scan. */
  private val q02 = Q(
    "q02_filter_pushdown",
    (s, dir) =>
      Tables.lineitem(s, dir)
        .filter(
          col("l_shipdate") >= lit("1995-01-01") &&
            col("l_shipdate") < lit("1996-01-01") &&
            col("l_discount").between(0.05, 0.07) &&
            col("l_quantity") < 24)
        .agg(
          dsum(col("l_extendedprice") * col("l_discount"), 28, 6).as("revenue"),
          count(lit(1)).as("n")),
    """SELECT
      CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
      COUNT(*) AS n
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        AND l_shipdate < TIMESTAMP '1996-01-01'
        AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""")

  /** §2.5 deterministic top-k (report.py:176-190 analog): the flagship
    * "today's top-10 offenders" shape — TakeOrderedAndProject, no global
    * sort. */
  private val q03 = Q(
    "q03_topk_offenders",
    (s, dir) =>
      Report.topK(
        Tables.events(s, dir).filter(col("event_type") === "error"),
        Seq("user_id"), 10),
    """SELECT user_id, COUNT(*) AS n FROM events
      WHERE event_type = 'error'
      GROUP BY user_id ORDER BY n DESC, user_id ASC LIMIT 10""")

  /** §2.4 conditional aggregation (total_rev_dns_failures analog) +
    * per-day grouping on a formatted day string. */
  private val q04 = Q(
    "q04_conditional_agg",
    (s, dir) =>
      Tables.events(s, dir)
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(
          count(lit(1)).as("n"),
          Report.countWhere(col("event_type") === "error", "errors"),
          dsum(col("value")).as("sum_value"))
        .orderBy(col("day")),
    """SELECT strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS n,
      COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS errors,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1 ORDER BY 1""")

  /** §2.2 regex parse stage (log_utils.py:36-42 analog): synthesize a
    * syslog-shaped line, then recover ip + sasl_username with the
    * reference's extraction regexes. */
  private val q05 = Q(
    "q05_regex_parse",
    (s, dir) => {
      val line = format_string(
        "Jan 15 10:12:13 mail postfix/smtpd[123]: warning: unknown[%d.%d.%d.%d]: " +
          "SASL LOGIN authentication failed, sasl_username=u%d",
        col("user_id") % 256, (col("user_id") * 7) % 256,
        (col("user_id") * 13) % 256, (col("user_id") * 29) % 256,
        col("user_id"))
      Tables.events(s, dir)
        .select(line.as("line"))
        .select(
          regexp_extract(col("line"),
            "\\[(\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3})\\]", 1).as("ip"),
          regexp_extract(col("line"), "sasl_username=([^,]+)", 1).as("username"))
        .filter(col("ip") =!= "" && col("username") =!= "")
        .groupBy(col("username"), col("ip")).agg(count(lit(1)).as("n"))
        .orderBy(col("username"), col("ip"))
    },
    """WITH lines AS (
      SELECT printf('Jan 15 10:12:13 mail postfix/smtpd[123]: warning: unknown[%d.%d.%d.%d]: SASL LOGIN authentication failed, sasl_username=u%d',
        user_id%256, (user_id*7)%256, (user_id*13)%256, (user_id*29)%256, user_id) AS line
      FROM events)
      SELECT regexp_extract(line, '\[(\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3})\]', 1) AS ip,
             regexp_extract(line, 'sasl_username=([^,]+)', 1) AS username,
             COUNT(*) AS n
      FROM lines
      WHERE regexp_extract(line, '\[(\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3})\]', 1) <> ''
        AND regexp_extract(line, 'sasl_username=([^,]+)', 1) <> ''
      GROUP BY 1, 2 ORDER BY username, ip""")

  /** §2.3 IP range-join enrichment (ipinfo.py:217-238,309-339 analog):
    * ip→int, broadcast sorted-table lookup against non-overlapping
    * intervals, miss → "N/A", then country top-k. Zero shuffles on the
    * probe side before the final agg. */
  private val q06 = Q(
    "q06_ip_range_join",
    (s, dir) => {
      val ip = concat_ws(".",
        ((col("user_id") * 11) % 256).cast("string"),
        (col("user_id") % 256).cast("string"),
        ((col("user_id") * 7) % 256).cast("string"),
        ((col("user_id") * 13) % 256).cast("string"))
      // native codegen'd expression (graft.plans.IpToIntExpr); agreement
      // with the composed-builtins IpFunctions.ipToInt is spec-tested
      val probe = Tables.events(s, dir)
        .select(col("event_id"), graft.plans.IpToIntExpr.ipToInt(ip).as("ip_int"))
      val dim = Tables.nation(s, dir).select(
        (col("n_nationkey").cast("long") * 171798692L).as("lo"),
        (col("n_nationkey").cast("long") * 171798692L + 120000000L).as("hi"),
        col("n_name"))
      RangeJoin.lookup(probe, col("ip_int"), dim)
        .select(coalesce(col("n_name"), lit("N/A")).as("country"))
        .groupBy(col("country")).agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("country"))
    },
    """WITH probe AS (
      SELECT event_id,
        ((user_id*11)%256)*16777216 + (user_id%256)*65536 +
        ((user_id*7)%256)*256 + ((user_id*13)%256) AS ip_int
      FROM events),
      dim AS (
        SELECT CAST(n_nationkey AS BIGINT)*171798692 AS lo,
               CAST(n_nationkey AS BIGINT)*171798692 + 120000000 AS hi,
               n_name
        FROM nation)
      SELECT COALESCE(n_name, 'N/A') AS country, COUNT(*) AS n
      FROM probe LEFT JOIN dim ON ip_int BETWEEN lo AND hi
      GROUP BY 1 ORDER BY n DESC, country ASC""")

  /** §2.3/§2.6 anti join (sql_importer.py:425-441 analog). */
  private val q07 = Q(
    "q07_anti_join",
    (s, dir) => {
      val bld = Tables.customer(s, dir)
        .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      Tables.orders(s, dir)
        .join(bld, col("o_custkey") === col("c_custkey"), "left_anti")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("o_orderstatus"))
    },
    """SELECT o_orderstatus, COUNT(*) AS n,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM orders
      WHERE o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
      GROUP BY 1 ORDER BY 1""")

  /** Semi join (EXISTS shape). */
  private val q08 = Q(
    "q08_semi_join",
    (s, dir) => {
      val big = Tables.lineitem(s, dir)
        .filter(col("l_quantity") > 45).select("l_suppkey")
      Tables.supplier(s, dir)
        .join(big, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"))
        .orderBy(col("s_suppkey"))
    },
    """SELECT s_suppkey, s_name, s_acctbal FROM supplier
      WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey AND l_quantity > 45)
      ORDER BY s_suppkey""")

  /** Star-schema join: two large fact tables shuffle-join on the key;
    * nation/region are explicit broadcasts (the 100-TB shape: only the
    * fact-fact join shuffles, dimension hops are map-side). */
  private val q09 = Q(
    "q09_star_join",
    (s, dir) =>
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir).filter(col("o_orderdate") >= lit("1994-01-01")),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 28, 6)
            .as("revenue"),
          count(lit(1)).as("n"))
        .orderBy(col("r_name"), col("n_name")),
    """SELECT r_name, n_name,
      CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
      COUNT(*) AS n
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE o_orderdate >= TIMESTAMP '1994-01-01'
      GROUP BY 1, 2 ORDER BY 1, 2""")

  /** §2.8 tumbling daily window (report.py's "today" window generalized to
    * all days): Spark `window()` ≡ date_trunc at day granularity. */
  private val q10 = Q(
    "q10_tumbling_window",
    (s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .select(
          date_format(col("w.start"), "yyyy-MM-dd").as("day"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy(col("day"), col("event_type")),
    """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
      event_type, COUNT(*) AS n,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1, 2 ORDER BY 1, 2""")

  /** Keyed dedup via window row_number (latest event per user) — the
    * incremental-dedup shape used for CDC-style tables. */
  private val q11 = Q(
    "q11_dedup_latest",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      Tables.events(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id"), col("event_type"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"))
        .orderBy(col("user_id"))
    },
    """SELECT user_id, event_id, event_type, ts_s FROM (
      SELECT user_id, event_id, event_type,
             strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events) t WHERE rn = 1 ORDER BY user_id""")

  /** §2.2 date reconstruction (log_utils.py:21-34,91-96 analog): format a
    * syslog-style token, then rebuild dd/MM/yyyy via the month-abbrev map
    * (year injected as a constant — the reference injects wall-clock year;
    * pinned here for determinism, SURVEY §7.4.1). */
  private val q12 = Q(
    "q12_date_reconstruct",
    (s, dir) => {
      val sl = date_format(col("ts"), "MMM dd HH:mm:ss")
      val monthNum = graft.operators.LogParse
        .monthNum(substring(col("sl"), 1, 3)).otherwise("??")
      Tables.events(s, dir)
        .select(sl.as("sl"))
        .select(concat(substring(col("sl"), 5, 2), lit("/"), monthNum,
          lit("/2024")).as("day"))
        .groupBy(col("day")).agg(count(lit(1)).as("n"))
        .orderBy(col("day"))
    },
    """WITH sl AS (SELECT strftime(ts, '%b %d %H:%M:%S') AS sl FROM events)
      SELECT substr(sl, 5, 2) || '/' ||
        CASE substr(sl, 1, 3)
          WHEN 'Jan' THEN '01' WHEN 'Feb' THEN '02' WHEN 'Mar' THEN '03'
          WHEN 'Apr' THEN '04' WHEN 'May' THEN '05' WHEN 'Jun' THEN '06'
          WHEN 'Jul' THEN '07' WHEN 'Aug' THEN '08' WHEN 'Sep' THEN '09'
          WHEN 'Oct' THEN '10' WHEN 'Nov' THEN '11' WHEN 'Dec' THEN '12'
          ELSE '??' END || '/2024' AS day,
        COUNT(*) AS n
      FROM sl GROUP BY 1 ORDER BY 1""")

  /** §2.2 user-string cleanup (log_utils.py:100-101 analog): strip +
    * CR/LF → space over a synthetically dirtied value. */
  private val q13 = Q(
    "q13_string_cleanup",
    (s, dir) =>
      Tables.customer(s, dir)
        .select(
          regexp_replace(
            trim(concat(lit("  "), col("c_name"), lit("\r\n"),
              col("c_mktsegment"), lit("  "))),
            "[\\r\\n]", " ").as("username"))
        .select(col("username"), length(col("username")).cast("long").as("len"))
        .orderBy(col("username")),
    """SELECT username, length(username) AS len FROM (
      SELECT regexp_replace(trim('  ' || c_name || chr(13) || chr(10) || c_mktsegment || '  '),
        '[\r\n]', ' ', 'g') AS username
      FROM customer) t ORDER BY username""")

  /** §2.1 SQL-file sink formatting (sql_exporter.py:187-257 analog):
    * typed literal rendering with quote-doubling escape. */
  private val q14 = Q(
    "q14_sql_export_format",
    (s, dir) => {
      val rawVal = concat(col("source"), lit("'s "), col("lang"))
      Tables.documents(s, dir)
        .select(col("doc_id"),
          concat(
            lit("INSERT INTO docs (id, val) VALUES ("),
            col("doc_id").cast("string"), lit(", '"),
            regexp_replace(rawVal, "'", "''"), lit("');")).as("stmt"))
        .orderBy(col("doc_id")).limit(100)
    },
    """SELECT doc_id,
      'INSERT INTO docs (id, val) VALUES (' || doc_id || ', ''' ||
        replace(source || '''s ' || lang, '''', '''''') || ''');' AS stmt
      FROM documents ORDER BY doc_id LIMIT 100""")

  /** §2.2 null-sentinel normalization (sql_exporter.py:217-226 analog):
    * {'null','na','n/a',''} → NULL, with nulls grouping + explicit null
    * ordering. */
  private val q15 = Q(
    "q15_null_sentinels",
    (s, dir) => {
      val raw = when(col("user_id") % 5 === 0, "null")
        .when(col("user_id") % 5 === 1, "N/A")
        .when(col("user_id") % 5 === 2, "")
        .when(col("user_id") % 5 === 3, "na")
        .otherwise(col("event_type"))
      Tables.events(s, dir)
        .select(when(lower(raw).isin("null", "na", "n/a", ""), null)
          .otherwise(raw).as("norm"))
        .groupBy(col("norm")).agg(count(lit(1)).as("n"))
        .orderBy(col("norm").asc_nulls_first)
    },
    """WITH raw AS (
      SELECT CASE user_id % 5
        WHEN 0 THEN 'null' WHEN 1 THEN 'N/A' WHEN 2 THEN '' WHEN 3 THEN 'na'
        ELSE event_type END AS raw
      FROM events)
      SELECT CASE WHEN lower(raw) IN ('null','na','n/a','') THEN NULL ELSE raw END AS norm,
             COUNT(*) AS n
      FROM raw GROUP BY 1 ORDER BY norm ASC NULLS FIRST""")

  // ---------------------------------------------------------------------

  val list: Seq[Q] = Seq(
    q01, q02, q03, q04, q05, q06, q07, q08, q09, q10,
    q11, q12, q13, q14, q15) ++ QueriesBeyond.list ++ QueriesMore.list ++
    QueriesPipeline.list ++ QueriesSample.list ++ QueriesScore.list ++
    QueriesTrain.list ++ QueriesRetrieve.list ++ QueriesAnalytics.list ++
    QueriesDepth.list ++ QueriesRound8.list ++ QueriesRound9.list ++
    QueriesRound10.list ++ QueriesRound11.list ++ QueriesRound12.list

  def all: Map[String, (SparkSession, String) => DataFrame] =
    list.map(q => q.name -> q.fn).toMap

  def oracle: Map[String, String] =
    list.map(q => q.name -> q.sql).toMap
}
