package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.sources.{DimRefresh, EventsCsv}

/** End-to-end: synthesized log -> full extract -> CSV -> report aggs
  * (the reference's extraction+report integration tests,
  * test_parser.py:68-567 / test_report.py:75-483, re-shaped). */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private val logLines = Seq(
    "Mar  3 08:00:01 mx1 postfix/smtpd[11]: warning: unknown[10.0.0.5]: SASL LOGIN authentication failed, sasl_username=root",
    "Mar  3 08:00:02 mx1 postfix/smtpd[11]: warning: unknown[10.0.0.5]: SASL LOGIN authentication failed, sasl_username=root",
    "Mar  3 08:01:00 mx1 postfix/smtpd[12]: warning: unknown[192.168.0.9]: SASL PLAIN authentication failed, sasl_username=admin",
    "Mar  3 08:02:00 mx1 postfix/qmgr[99]: F00: removed",
    "Mar  4 09:00:00 mx2 postfix/smtpd[13]: warning: unknown[10.0.0.6]: SASL LOGIN authentication failed, sasl_username=root")

  private lazy val geo = Pipeline.GeoDims(
    country = Seq((167772160L, 184549375L, "US")).toDF("lo", "hi", "country_code"),
    asn = Seq((167772160L, 184549375L, 64500L, "EX-NET")).toDF("lo", "hi", "asn", "aso"))

  test("extract produces the canonical 9-column frame with sentinels") {
    val ev = Pipeline.extract(logLines.toDF("value"), 2025, Some(geo), None)
    assert(ev.columns.toSeq == EventsCsv.schema.fieldNames.toSeq)
    assert(ev.count() == 4) // qmgr noise dropped
    val r = ev.filter(col("ip") === "10.0.0.5").collect().head
    assert(r.getAs[String]("date") == "03/03/2025 08:00")
    assert(r.getAs[String]("country_code") == "US")
    assert(r.getAs[String]("asn") == "64500")
    assert(r.getAs[String]("hostname") == "null")
    val miss = ev.filter(col("ip") === "192.168.0.9").collect().head
    assert(miss.getAs[String]("country_code") == "N/A")
  }

  test("incremental run end-to-end: log file -> csv table, appends only new") {
    val d = Files.createTempDirectory("graft-e2e")
    val log = d.resolve("mail.log")
    Files.write(log, (logLines.take(3).mkString("\n") + "\n")
      .getBytes(StandardCharsets.UTF_8))
    val csv = d.resolve("events").toString
    val n1 = Pipeline.runIncremental(spark, log, d.resolve("offset"), csv,
      2025, Some(geo))
    assert(n1 == 3)
    Files.write(log, (logLines(4) + "\n").getBytes(StandardCharsets.UTF_8),
      java.nio.file.StandardOpenOption.APPEND)
    val n2 = Pipeline.runIncremental(spark, log, d.resolve("offset"), csv,
      2025, Some(geo))
    assert(n2 == 1)
    assert(EventsCsv.read(spark, csv).count() == 4)
  }

  test("incremental run evaluates its plan once: the append, no count after it") {
    val d = Files.createTempDirectory("graft-once")
    val log = d.resolve("mail.log")
    Files.write(log, (logLines.mkString("\n") + "\n")
      .getBytes(StandardCharsets.UTF_8))
    // a session of its own, so the listener sees only this test's queries
    val s = spark.newSession()
    val sGeo = Pipeline.GeoDims(
      s.createDataFrame(Seq((167772160L, 184549375L, "US")))
        .toDF("lo", "hi", "country_code"),
      s.createDataFrame(Seq((167772160L, 184549375L, 64500L, "EX-NET")))
        .toDF("lo", "hi", "asn", "aso"))
    val seen = new LinkedBlockingQueue[String]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit =
        seen.put(funcName)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        seen.put(funcName)
    }
    s.listenerManager.register(listener)
    try {
      val n = Pipeline.runIncremental(s, log, d.resolve("offset"),
        d.resolve("events").toString, 2025, Some(sGeo))
      // listener events arrive in order: the marker's comes after the run's
      s.range(1).collect()
      val runs = Iterator.continually(seen.poll(60, TimeUnit.SECONDS))
        .takeWhile(f => f != null && f != "collect").toList
      assert(n == 4)
      assert(runs == List("command"), s"executions of one run: $runs")
      // no new lines: the observed count of an empty append is 0
      assert(Pipeline.runIncremental(s, log, d.resolve("offset"),
        d.resolve("events").toString, 2025, Some(sGeo)) == 0)
    } finally s.listenerManager.unregister(listener)
  }

  test("an unchanged dims file is not re-read: a second run scans no dim CSV") {
    val d = Files.createTempDirectory("graft-dims-once")
    val countryCsv = d.resolve("country.csv")
    val asnCsv = d.resolve("asn.csv")
    Files.write(countryCsv, "167772160,184549375,US\n".getBytes(StandardCharsets.UTF_8))
    Files.write(asnCsv,
      "167772160,184549375,64500,EX-NET\n".getBytes(StandardCharsets.UTF_8))
    val log = d.resolve("mail.log")
    // a session of its own, so the run builds its dim tables afresh
    val s = spark.newSession()
    val sGeo = Pipeline.GeoDims(DimRefresh.loadCountry(s, countryCsv.toString),
      DimRefresh.loadAsn(s, asnCsv.toString))
    // (job group, RDD names of its stages) of every job that starts
    val jobs = new LinkedBlockingQueue[(String, Seq[String])]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.put((Option(e.properties).map(_.getProperty("spark.jobGroup.id"))
          .orNull, e.stageInfos.flatMap(_.rddInfos).map(_.name)))
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobGroup("dims-once", "dims-once")
    /** Appends the log lines, runs once and returns the row count and the
      * names of every file-scan RDD among the run's jobs. */
    def run(): (Long, Seq[String]) = {
      Files.write(log, (logLines.mkString("\n") + "\n")
        .getBytes(StandardCharsets.UTF_8), java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
      val n = Pipeline.runIncremental(s, log, d.resolve("offset"),
        d.resolve("events").toString, 2025, Some(sGeo))
      // job starts arrive in order: the marker's comes after the run's
      spark.sparkContext.parallelize(Seq(1), 1).setName("marker").count()
      val scans = Iterator.continually(jobs.poll(60, TimeUnit.SECONDS))
        .takeWhile(j => j != null && !j._2.contains("marker"))
        .filter(_._1 == "dims-once").flatMap(_._2).filter(_ == "FileScanRDD")
      (n, scans.toList)
    }
    try {
      val (n1, scans1) = run()
      assert(n1 == 4)
      assert(scans1.nonEmpty, "the first run builds the dim tables from the CSVs")
      val (n2, scans2) = run()
      assert(n2 == n1)
      assert(scans2.isEmpty, s"second run scanned files: $scans2")
      val ev = EventsCsv.read(s, d.resolve("events").toString)
      assert(ev.filter(col("country_code") === "US").count() == 6)
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("report aggregates match hand-computed values on the day filter") {
    val ev = Pipeline.extract(logLines.toDF("value"), 2025, Some(geo), None)
    val aggs = Pipeline.reportAggregates(ev, "03/03/2025")
    assert(aggs("total_today").collect().head.getLong(0) == 3)
    val top = aggs("top10_usernames").collect()
    assert(top.head.getAs[String]("user") == "root")
    assert(top.head.getAs[Long]("n") == 2)
    assert(aggs("rev_dns_failures").collect().head.getLong(0) == 3)
  }
}
