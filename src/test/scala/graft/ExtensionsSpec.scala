package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Builds a SEPARATE session with withExtensions (can't reuse the shared
  * one — extensions bind at session construction). */
class ExtensionsSpec extends AnyFunSuite {

  test("withExtensions injects ip_to_int SQL function") {
    // getOrCreate() returns any active session (ignoring extensions), so
    // clear active/default first; the SparkContext is shared with the
    // other suites, so do NOT stop() it — just restore the sessions.
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val spark = SparkSession.builder()
        .master("local[2]")
        .appName("graft-ext-test")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .withExtensions(new graft.plans.GraftExtensions)
        .getOrCreate()
      assert(spark.sql("SELECT ip_to_int('1.2.3.4') AS v")
        .collect().head.getLong(0) == 16909060L)
      assert(spark.sql("SELECT nfc_normalize('cafe\u0301') AS v")
        .collect().head.getString(0) == "caf\u00e9")
      // dot_double function + the HOF-rewrite optimizer rule (input
      // must come from a real relation — literal arrays constant-fold
      // before the rewrite can be observed)
      assert(spark.sql(
        "SELECT dot_double(array(1d, 2d), array(3d, 4d)) AS v")
        .collect().head.getDouble(0) == 11.0)
      spark.range(4).selectExpr(
          "array(cast(id as double), cast(id + 1 as double)) AS a")
        .createOrReplaceTempView("ext_vs")
      val hof = spark.sql("""
        SELECT aggregate(zip_with(a, a, (x, y) -> x * y),
          0d, (acc, v) -> acc + v) AS d FROM ext_vs""")
      assert(hof.queryExecution.optimizedPlan.expressions.map(
        _.collect { case d: graft.plans.DotDoubleExpr => d }.size).sum == 1,
        s"extension rule must rewrite the SQL HOF form:\n" +
          hof.queryExecution.optimizedPlan)
      // id=0: 0*0 + 1*1 = 1
      assert(hof.orderBy("d").collect().head.getDouble(0) == 1.0)
      // sqdist_fixed function + its HOF-rewrite rule (same non-literal
      // -input caveat as dot_double above)
      assert(spark.sql(
        "SELECT sqdist_fixed(array(1d, 3d), array(1d, 1d)) AS v")
        .collect().head.getLong(0) == math.floor(4.0 * 1e10).toLong)
      val hofSq = spark.sql("""
        SELECT aggregate(
          zip_with(a, a, (x, c) ->
            CAST(floor(((x - c) * (x - c)) * 1e10) AS BIGINT)),
          0L, (acc, d) -> acc + d) AS d FROM ext_vs""")
      assert(hofSq.queryExecution.optimizedPlan.expressions.map(
        _.collect { case s: graft.plans.SqDistFixedExpr => s }.size).sum == 1,
        s"extension rule must rewrite the SQL HOF sqdist form:\n" +
          hofSq.queryExecution.optimizedPlan)
      // a minus itself: distance 0 for every row
      assert(hofSq.collect().forall(_.getLong(0) == 0L))
    } finally {
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }
}
