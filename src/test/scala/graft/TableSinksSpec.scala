package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.Anonymize
import graft.sources.DimRefresh

class TableSinksSpec extends SparkSpec {
  import spark.implicits._

  private def events3days = Seq(
    ("mx1", "01/03/2025 10:00", "1.1.1.1", "a", "null", "OK", "US", "1", "x"),
    ("mx1", "02/03/2025 10:00", "2.2.2.2", "b", "null", "OK", "DE", "2", "y"),
    ("mx2", "03/03/2025 10:00", "3.3.3.3", "c", "null", "OK", "FR", "3", "z"))
    .toDF(graft.sources.EventsCsv.schema.fieldNames: _*)

  test("parse rejects channel tags dropped lines with reasons") {
    import graft.operators.LogParse
    val lines = Seq(
      "Mar  3 08:00:01 mx p[1]: unknown[10.0.0.5]: SASL LOGIN authentication failed, sasl_username=root",
      "Mar  3 08:02:00 mx postfix/qmgr[99]: F00: removed",
      "total garbage").toDF("value")
    val rej = LogParse.rejects(lines).collect()
      .map(r => r.getString(1) -> r.getString(0)).toMap
    assert(rej.size == 2)
    assert(rej("no_sasl_payload").contains("qmgr"))
    assert(rej("no_syslog_prefix") == "total garbage")
    assert(LogParse.parse(lines, 2025).count() +
      LogParse.rejects(lines).count() == 3)
  }

  test("dim refresh: atomic replace; failed fetch leaves current file") {
    val d = Files.createTempDirectory("graft-dim")
    val target = d.resolve("country.csv")
    DimRefresh.refresh(target,
      p => Files.write(p, "0,255,US\nbad,row,skip\n256,511,DE\n".getBytes))
    val df = DimRefresh.loadCountry(spark, target.toString)
    assert(df.count() == 2) // malformed row skipped
    intercept[RuntimeException] {
      DimRefresh.refresh(target, _ => throw new RuntimeException("net down"))
    }
    assert(DimRefresh.loadCountry(spark, target.toString).count() == 2)
    assert(!Files.exists(d.resolve(".country.csv.tmp")))
  }

  test("anonymizer: keyed aliases stable + collision-free here; dense aliases dense") {
    val ev = events3days
    val anon = Anonymize.anonymizeEvents(ev)
    val ips = anon.select(col("ip")).collect().map(_.getString(0))
    assert(ips.forall(_.startsWith("ip_")))
    assert(ips.distinct.length == 3)
    // stability: same input -> same alias
    val anon2 = Anonymize.anonymizeEvents(ev)
    assert(anon2.select("ip").collect().map(_.getString(0)).toSeq == ips.toSeq)
    // dense: user column -> user_1..user_3 in value order
    val dense = Anonymize.denseAliases(ev, "user", "user")
      .select(col("user")).orderBy(col("user")).collect().map(_.getString(0))
    assert(dense.toSeq == Seq("user_1", "user_2", "user_3"))
  }
}
