package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions._

import graft.operators.{Enrich, RdnsCache}
import graft.sources.DimRefresh

class EnrichSpec extends SparkSpec {
  import spark.implicits._

  private lazy val country = Seq(
    (167772160L, 184549375L, "US"), // 10.0.0.0/8
    (3232235520L, 3232301055L, "DE")) // 192.168.0.0/16
    .toDF("lo", "hi", "country_code")
  private lazy val asn = Seq(
    (167772160L, 184549375L, 64500L, "EXAMPLE-NET"))
    .toDF("lo", "hi", "asn", "aso")

  test("geo hit and miss (N/A sentinels, ipinfo.py:330-339 semantics)") {
    val events = Seq("10.1.2.3", "192.168.9.9", "8.8.8.8").toDF("ip")
    val out = Enrich.withGeo(events, country, asn)
      .orderBy(col("ip"))
      .select(col("ip"), col("country_code"), col("asn"), col("aso"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
    assert(out.toSeq == Seq(
      ("10.1.2.3", "US", "64500", "EXAMPLE-NET"),
      ("192.168.9.9", "DE", "N/A", "N/A"),
      ("8.8.8.8", "N/A", "N/A", "N/A")))
  }

  test("a held GeoDims sees a dim refresh: a grow hits new rows, a shrink misses old ones") {
    val d = Files.createTempDirectory("graft-geo-refresh")
    val countryCsv = d.resolve("country.csv")
    val asnCsv = d.resolve("asn.csv")
    // row i covers [1000 i, 1000 i + 999]
    def rows(n: Int)(p: Path): Unit = Files.write(p, (0 until n)
      .map(i => s"${i * 1000L},${i * 1000L + 999},C$i\n").mkString
      .getBytes(StandardCharsets.UTF_8))
    DimRefresh.refresh(countryCsv, rows(100))
    DimRefresh.refresh(asnCsv, p => Files.write(p,
      "0,999,64500,EX-NET\n".getBytes(StandardCharsets.UTF_8)))
    val geo = Pipeline.GeoDims(DimRefresh.loadCountry(spark, countryCsv.toString),
      DimRefresh.loadAsn(spark, asnCsv.toString))
    def countryOf(row: Int): String = {
      val v = row * 1000L + 5
      val ip = Seq(24, 16, 8, 0).map(b => (v >>> b) & 255).mkString(".")
      Enrich.withGeo(Seq(ip).toDF("ip"), geo.country, geo.asn)
        .select(col("country_code")).head().getString(0)
    }
    assert(countryOf(50) == "C50")

    DimRefresh.refresh(countryCsv, rows(5000))
    assert(countryOf(4000) == "C4000")
    assert(geo.country.count() == 5000)

    DimRefresh.refresh(countryCsv, rows(10))
    assert(countryOf(50) == "N/A")
    assert(countryOf(9) == "C9")
    assert(geo.country.count() == 10)
  }

  test("rdns: resolver results, failure sentinel, and cache reuse") {
    RdnsCache.clear()
    EnrichSpec.calls.set(0)
    val events = Seq("1.1.1.1", "1.1.1.1", "2.2.2.2", "1.1.1.1").toDF("ip")
    val out = Enrich.withRdns(events, EnrichSpec.resolver)
      .select(col("ip"), col("hostname"), col("reverse_dns_status"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(out == Set(
      ("1.1.1.1", "one.example", "OK"),
      ("2.2.2.2", "null", "ERRNO 1")))
    // 4 rows, 2 distinct ips, single executor JVM => exactly 2 resolver calls
    assert(EnrichSpec.calls.get() == 2)
  }

  test("rdns cache is LRU: recently-used entries survive eviction") {
    RdnsCache.clear()
    EnrichSpec.calls.set(0)
    def look(ip: String): Unit =
      RdnsCache.lookup(ip, EnrichSpec.resolver, maxSize = 2, ttlSeconds = 3600)
    look("1.1.1.1"); look("2.2.2.2") // cache: [1, 2]
    look("1.1.1.1")                  // refresh 1 -> LRU order [2, 1]
    look("3.3.3.3")                  // evicts 2 (least recently used)
    assert(EnrichSpec.calls.get() == 3)
    look("1.1.1.1")                  // still cached -> no resolver call
    assert(EnrichSpec.calls.get() == 3)
    look("2.2.2.2")                  // was evicted -> resolver call
    assert(EnrichSpec.calls.get() == 4)
  }

  test("bounded resolver: hung lookup maps to Timeout within deadline") {
    val t0 = System.nanoTime()
    val out = Enrich.bounded(EnrichSpec.hangingResolver, timeoutMs = 100)("9.9.9.9")
    val elapsedMs = (System.nanoTime() - t0) / 1e6
    assert(out == Left("Timeout"))
    // must return at the deadline, not after the resolver's 30s hang
    assert(elapsedMs < 5000, s"took ${elapsedMs}ms — deadline not enforced")
    // fast answers pass through unchanged
    assert(Enrich.bounded(EnrichSpec.resolver, 5000)("1.1.1.1") ==
      Right("one.example"))
    assert(Enrich.bounded(EnrichSpec.resolver, 5000)("2.2.2.2") ==
      Left("ERRNO 1"))
  }

  test("bounded resolver composes with withRdns (Timeout status lands)") {
    RdnsCache.clear()
    val events = Seq("9.9.9.9").toDF("ip")
    val out = Enrich.withRdns(events,
        Enrich.bounded(EnrichSpec.hangingResolver, timeoutMs = 100))
      .select(col("hostname"), col("reverse_dns_status"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(out == Seq(("null", "Timeout")))
  }

  test("dedupThenResolve resolves each distinct ip once and rejoins") {
    RdnsCache.clear()
    EnrichSpec.calls.set(0)
    val events = (1 to 100).map(i => s"1.1.1.${i % 3}").toDF("ip")
    val out = Enrich.dedupThenResolve(events, EnrichSpec.resolver)
    // force materialization of the hostname column — a bare count() lets
    // Catalyst prune the UDF projection entirely (resolver never runs)
    assert(out.agg(org.apache.spark.sql.functions.count(
      col("hostname"))).collect().head.getLong(0) == 100)
    assert(EnrichSpec.calls.get() == 3)
  }
}

object EnrichSpec {
  val calls = new AtomicInteger(0)
  // injectable resolver (the reference mocks DNS the same way,
  // test_parser.py:81-85); must be a static member to serialize cleanly
  val resolver: Enrich.Resolver = { ip =>
    calls.incrementAndGet()
    if (ip == "1.1.1.1") Right("one.example") else Left("ERRNO 1")
  }
  // deliberately hangs far past any test deadline (interruptible sleep)
  val hangingResolver: Enrich.Resolver = { _ =>
    try { Thread.sleep(30000); Right("never.example") }
    catch { case _: InterruptedException => Left("interrupted") }
  }
}
