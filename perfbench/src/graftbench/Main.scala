package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import java.util.zip.GZIPOutputStream

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import graft.{ArtifactTimer, Pipeline, ReportFormat, SparkEntry}
import graft.operators.{Enrich, LogParse}
import graft.sources.{DimRefresh, EventsCsv, LogSource, SqlExport, SqlImport}

/** The benchmark's JVM side: drives graft through its public entry points
  * for one workload and writes `results.json` into the work directory.
  * Inputs come from `gen.py`; `run.py` checks the outputs and turns the
  * timings into metrics.
  *
  * Usage:
  * `Main <workload> <workDir> <trace 0|1> <cores> <seconds> [suiteDataDir]`
  */
object Main {
  val Year = 2025
  val Server = "mx1"
  val SetupRepeats = 3

  final class Args(a: Array[String]) {
    val workload: String = a(0)
    val work: Path = Paths.get(a(1)).toAbsolutePath
    val trace: Boolean = a(2) == "1"
    val cores: Int = a(3).toInt
    val seconds: Double = a(4).toDouble
    val data: String = if (a.length > 5) a(5) else ""
  }

  def main(argv: Array[String]): Unit = {
    val args = new Args(argv)
    val out = mutable.LinkedHashMap[String, Any]()
    val bench = args.workload match {
      case "suite" => new Suite(args, out)
      case _ => new PipelineBench(args, out)
    }
    try bench.run()
    finally bench.stop()
    out("peak_rss_mb") = peakRssMb()
    Files.writeString(args.work.resolve("results.json"), Json(out))
  }

  def newSession(args: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${args.cores}]")
      .config("spark.sql.shuffle.partitions", args.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", args.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", args.work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, secondsSince(t0))
  }

  /** Forces every column of `df` and keeps it for the next layer. */
  def materialize(df: DataFrame): (DataFrame, Long) = {
    val p = df.persist(StorageLevel.MEMORY_ONLY)
    (p, p.count())
  }

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(0.0)

  def partFiles(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq
      .sortBy(_.getFileName.toString)
}

abstract class Bench(val args: Main.Args,
                     val out: mutable.LinkedHashMap[String, Any]) {
  var spark: SparkSession = _
  var tracer: Tracer = _
  val layers = mutable.LinkedHashMap[String, Double]()

  def setupOnce(i: Int): Unit
  def measure(): Unit

  def add(metric: String, v: Double): Unit =
    layers(metric) = layers.getOrElse(metric, 0.0) + v

  /** Set-up runs several times, each from a fresh SparkSession; the last
    * session is the one measured. */
  def run(): Unit = {
    val setups = (1 to Main.SetupRepeats).map { i =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = Main.newSession(args)
      setupOnce(i)
      Main.secondsSince(t0)
    }
    out("setup_s") = setups
    tracer = new Tracer(spark.sparkContext, args.trace)
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val cpu0 = os.getProcessCpuTime
    measure()
    out("measure_cpu_s") = (os.getProcessCpuTime - cpu0) / 1e9
    if (args.trace) {
      out("layers") = layers
      Files.writeString(args.work.resolve("spans.json"), tracer.json)
    }
  }

  def stop(): Unit = if (spark != null) spark.stop()
}

/** `pipeline`: the mail-log pipeline, backfill catch-up then hourly loop. */
final class PipelineBench(a: Main.Args, o: mutable.LinkedHashMap[String, Any])
    extends Bench(a, o) {
  import Main._

  val work: Path = args.work
  val countryCsv: String = work.resolve("geo/country.csv").toString
  val asnCsv: String = work.resolve("geo/asn.csv").toString
  /** The backfill history's last day and the hourly loop's day. */
  val Array(backfillDay, hourlyDay) =
    Files.readString(work.resolve("today.txt")).trim.split("\t")
  var geo: Pipeline.GeoDims = _

  def loadDims(): Pipeline.GeoDims = Pipeline.GeoDims(
    DimRefresh.loadCountry(spark, countryCsv), DimRefresh.loadAsn(spark, asnCsv))

  def setupOnce(i: Int): Unit = {
    geo = loadDims()
    val dir = work.resolve(s"warmup-run-$i")
    Pipeline.runIncremental(spark, work.resolve("warmup/mail.log"),
      dir.resolve("state.offset"), dir.resolve("events").toString, Year,
      Some(geo), Some(StubResolver.resolver))
  }

  /** One incremental run. Plain: `Pipeline.runIncremental` itself, as a
    * user calls it. Layered: the same layer calls it is made of, each in
    * its own span and materialised on its own. */
  def runOnce(live: Path, state: Path, sink: String, layered: Boolean): Unit =
    if (!layered)
      tracer.span("Pipeline.runIncremental") {
        Pipeline.runIncremental(spark, live, state, sink, Year, Some(geo),
          Some(StubResolver.resolver))
      }
    else {
      val off0 = LogSource.readOffset(state)
      val size0 = if (Files.exists(live)) Files.size(live) else 0L
      val rotatedBytes =
        if (off0 != 0L) 0L
        else Files.list(live.getParent).iterator().asScala
          .filter(_.getFileName.toString.startsWith(live.getFileName.toString + "."))
          .map(Files.size).sum
      val filesBefore = partFiles(Paths.get(sink)).toSet
      StubResolver.reset()
      var lines, parsedRows, geoRows = 0L
      var parsed, events: DataFrame = null
      val cached = mutable.ArrayBuffer[DataFrame]()
      tracer.span("Pipeline.run") {
        val (tail, n) = tracer.span("sources.tail") {
          materialize(LogSource.incrementalRead(spark, live, state))
        }
        lines = n
        cached += tail
        tracer.span("sources.state.commit") {
          LogSource.writeOffset(state, LogSource.readOffset(state))
        }
        val (ps, p) = tracer.span("operators.parse") {
          materialize(LogParse.parse(tail, Year))
        }
        parsed = ps
        parsedRows = p
        cached += parsed
        val (dns, _) = tracer.span("operators.rdns") {
          materialize(Enrich.dedupThenResolve(parsed, StubResolver.resolver))
        }
        cached += dns
        val (country, asn) = tracer.span("sources.dims.load") {
          val d = loadDims()
          val c = materialize(d.country)._1
          val a = materialize(d.asn)._1
          (c, a)
        }
        cached ++= Seq(country, asn)
        val (ev, g) = tracer.span("operators.geo") {
          materialize(Enrich.withGeo(dns, country, asn)
            .select(EventsCsv.schema.fieldNames.map(col).toIndexedSeq: _*))
        }
        events = ev
        geoRows = g
        cached += events
        tracer.span("sources.sink") { EventsCsv.append(events, sink) }
      }
      val geoHits = events.filter(col("country_code") =!= "N/A").count()
      val distinctIps = parsed.select("ip").distinct().count()
      cached.foreach(_.unpersist())
      val base = if (size0 < off0) 0L else off0
      add("sources.tail.bytes",
        (LogSource.readOffset(state) - base + rotatedBytes).toDouble)
      add("lines_in", lines.toDouble)
      add("events_out", parsedRows.toDouble)
      add("geo_rows", geoRows.toDouble)
      add("geo_hits", geoHits.toDouble)
      add("operators.rdns.calls", StubResolver.calls.get.toDouble)
      add("rdns_distinct_ips", distinctIps.toDouble)
      add("operators.rdns.wait_s", StubResolver.waitNanos.get / 1e9)
      add("operators.rdns.tasks", StubResolver.tasks.size.toDouble)
      val added = partFiles(Paths.get(sink)).filterNot(filesBefore)
      add("sources.sink.files", added.size.toDouble)
      add("sources.sink.bytes", added.map(Files.size).sum.toDouble)
    }

  /** Daily report over the events table: aggregates plus rendering. */
  def report(sink: String, today: String, layered: Boolean,
             path: Path): (Double, Int) = {
    val files = partFiles(Paths.get(sink)).size
    val (text, s) = time {
      def body = ReportFormat.render(
        Pipeline.reportAggregates(EventsCsv.read(spark, sink), today),
        Server, today)
      if (layered) tracer.span("operators.report")(body) else body
    }
    Files.writeString(path, text)
    if (layered) add("sources.events_read.files", files.toDouble)
    (s, files)
  }

  /** The backfill catch-up first, then the hourly loop on a new log. */
  def measure(): Unit = {
    val plainRuns = backfill() + hourly()
    if (args.trace) pipelineLayers(plainRuns)
  }

  def traceOverhead(runs: Seq[(Boolean, Double)]): Unit = {
    def med(layered: Boolean) = median(runs.filter(_._1 == layered).map(_._2))
    add("trace.overhead_s", med(true) - med(false))
  }

  /** Catch-up runs over the same history, each with fresh state and a
    * fresh events table, repeated until `seconds` have passed and at least
    * twice; a traced run alternates plain and layered runs. Returns the
    * number of plain runs. */
  def backfill(): Int = {
    val live = work.resolve("logs/mail.log")
    val units = mutable.ArrayBuffer[Map[String, Any]]()
    val t0 = System.nanoTime()
    var i = 0
    while (i < 2 || secondsSince(t0) < args.seconds) {
      val layered = args.trace && i % 2 == 1
      val dir = work.resolve(s"unit-$i")
      val sink = dir.resolve("events").toString
      val (_, ingest) = time(runOnce(live, dir.resolve("state.offset"), sink,
        layered))
      val (rep, _) = report(sink, backfillDay, layered,
        dir.resolve("report.txt"))
      units += Map("layered" -> layered, "ingest_s" -> ingest,
        "report_s" -> rep, "sink" -> sink,
        "report" -> dir.resolve("report.txt").toString)
      i += 1
    }
    out("units") = units.toSeq
    if (args.trace) traceOverhead(units.toSeq.map(u =>
      (u("layered") == true, u("ingest_s").asInstanceOf[Double] +
        u("report_s").asInstanceOf[Double])))
    units.count(_("layered") == false)
  }

  /** logrotate `create` style: .1 → .2.gz, live → .1, new empty live. */
  def rotate(live: Path): Unit = {
    val dir = live.getParent
    val one = dir.resolve(live.getFileName.toString + ".1")
    val two = dir.resolve(live.getFileName.toString + ".2.gz")
    if (Files.exists(one)) {
      val gz = new GZIPOutputStream(Files.newOutputStream(two))
      try Files.copy(one, gz) finally gz.close()
      Files.delete(one)
    }
    Files.move(live, one, StandardCopyOption.ATOMIC_MOVE)
    Files.createFile(live)
  }

  /** The hourly loop. In a traced run odd rounds are plain and even rounds
    * layered, so both kinds see the same mix of appends. Returns the number
    * of plain runs. */
  def hourly(): Int = {
    val plan = Files.readAllLines(work.resolve("plan.tsv")).asScala.toSeq
      .map(_.split("\t"))
    val dir = work.resolve("loop")
    val live = dir.resolve("logs/mail.log")
    Files.createDirectories(live.getParent)
    Files.createFile(live)
    val state = dir.resolve("state.offset")
    val sink = dir.resolve("events").toString
    val rounds = mutable.ArrayBuffer[Map[String, Any]]()
    val reports = mutable.ArrayBuffer[Map[String, Any]]()
    val t0 = System.nanoTime()
    for (Array(r, chunk, rot, rep) <- plan) {
      val layered = args.trace && r.toInt % 2 == 0
      val before = partFiles(Paths.get(sink)).toSet
      val bytes = Files.readAllBytes(Paths.get(chunk))
      val ta = System.nanoTime()
      Files.write(live, bytes, StandardOpenOption.APPEND)
      val (_, rotS) = time(if (rot == "1") rotate(live))
      runOnce(live, state, sink, layered)
      val runS = secondsSince(ta) - rotS
      val files = partFiles(Paths.get(sink)).filterNot(before)
      rounds += Map("round" -> r.toInt, "layered" -> layered, "run_s" -> runS,
        "files" -> files.map(_.toString))
      if (rep == "1") {
        val path = dir.resolve(s"report-$r.txt")
        val (s, n) = report(sink, hourlyDay, args.trace, path)
        reports += Map("round" -> r.toInt, "report_s" -> s,
          "files_read" -> n, "path" -> path.toString,
          "files" -> partFiles(Paths.get(sink)).map(_.toString))
      }
    }
    val (exp, imp) = exportImport(dir, sink, args.trace)
    out("loop") = Map("rounds" -> rounds.toSeq, "reports" -> reports.toSeq,
      "export" -> exp, "import" -> imp, "loop_s" -> secondsSince(t0))
    if (args.trace) traceOverhead(rounds.toSeq.map(r =>
      (r("layered") == true, r("run_s").asInstanceOf[Double])))
    rounds.count(_("layered") == false)
  }

  val specs: Seq[SqlExport.ColumnSpec] = {
    import SqlExport._
    Seq(ColumnSpec("server", "server", StrKind, notNull = true),
      ColumnSpec("date", "event_time", DateTimeKind, notNull = true),
      ColumnSpec("ip", "ip", StrKind, notNull = true),
      ColumnSpec("user", "username", StrKind, notNull = true),
      ColumnSpec("hostname", "hostname", StrKind, notNull = false),
      ColumnSpec("reverse_dns_status", "dns_status", StrKind, notNull = true),
      ColumnSpec("country_code", "country_code", StrKind, notNull = false),
      ColumnSpec("asn", "asn", IntKind, notNull = false),
      ColumnSpec("aso", "aso", StrKind, notNull = false))
  }
  val ddl: String = "CREATE TABLE events (server VARCHAR(64), " +
    "event_time VARCHAR(32), ip VARCHAR(15), username VARCHAR(255), " +
    "hostname VARCHAR(255), dns_status VARCHAR(32), " +
    "country_code VARCHAR(8), asn BIGINT, aso VARCHAR(255));"

  /** The day's events: one SQL export, then one import into embedded
    * Derby through `SqlImport.jdbcExecutor`. */
  def exportImport(dir: Path, sink: String,
                   layered: Boolean): (Map[String, Any], Map[String, Any]) = {
    def sp[T](name: String)(body: => T): T =
      if (layered) tracer.span(name)(body) else body
    val sqlDir = Files.createDirectories(dir.resolve("sql"))
    Files.writeString(sqlDir.resolve("000_schema.sql"), ddl)
    val file = sqlDir.resolve("001_events.sql")
    val (written, expS) = time(sp("sources.export") {
      val today_ = EventsCsv.read(spark, sink)
        .filter(col("date").startsWith(hourlyDay))
      SqlExport.export(today_, "events", specs) match {
        case Left(violations) => Left(violations)
        case Right(lines) =>
          val all = lines.collect()
          Files.write(file, all.toSeq.asJava, UTF_8)
          Right(all.length)
      }
    })
    val url = s"jdbc:derby:${dir.resolve("derby")};create=true"
    val attempts = new java.util.concurrent.atomic.AtomicInteger()
    val jdbc = SqlImport.jdbcExecutor(url)
    val executor: SqlImport.Executor = { stmts =>
      attempts.incrementAndGet(); jdbc(stmts)
    }
    val (report, impS) = time(sp("sources.import") {
      SqlImport.run(sqlDir, sqlDir.resolve("imported.log"), executor,
        SqlImport.RetryPolicy(maxAttempts = 3, initialDelayMs = 100))
    })
    val dump = dir.resolve("derby-rows.tsv")
    dumpDerby(url, dump)
    val (imported, failed) = report match {
      case Right(r) => (r.imported.size, r.failed.size)
      case Left(_) => (0, 1)
    }
    if (layered) {
      val stmts = written.getOrElse(0).toDouble
      add("sources.export.statements", stmts)
      add("sources.import.statements_per_s", stmts / impS)
      add("sources.import.retries", (attempts.get - imported - failed).toDouble)
    }
    (Map("export_s" -> expS, "statements" -> written.getOrElse(-1),
      "violations" -> written.left.getOrElse(0L), "file" -> file.toString),
      Map("import_s" -> impS, "imported" -> imported, "failed" -> failed,
        "rows" -> dump.toString))
  }

  def dumpDerby(url: String, path: Path): Unit = {
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery(
        "SELECT server, event_time, ip, username, hostname, dns_status, " +
          "country_code, asn, aso FROM events")
      val lines = mutable.ArrayBuffer[String]()
      while (rs.next())
        lines += (1 to 9).map(i => Option(rs.getString(i)).getOrElse("\\N"))
          .mkString("\t")
      Files.write(path, lines.asJava, UTF_8)
    } catch {
      case _: java.sql.SQLException => Files.write(path, Array.emptyByteArray)
    } finally conn.close()
  }

  /** Layer metrics from the traced run's spans. `runs` is the number of
    * plain `Pipeline.runIncremental` calls. */
  def pipelineLayers(runs: Int): Unit = {
    def total(name: String) = tracer.named(name).map(tracer.selfSeconds).sum
    Seq("sources.tail" -> "sources.tail.s",
      "sources.state.commit" -> "sources.state.commit_s",
      "operators.parse" -> "operators.parse.s",
      "operators.rdns" -> "operators.rdns.s",
      "sources.dims.load" -> "sources.dims.load_s",
      "operators.geo" -> "operators.geo.s", "sources.sink" -> "sources.sink.s",
      "operators.report" -> "operators.report.s",
      "sources.export" -> "sources.export.s",
      "sources.import" -> "sources.import.s")
      .foreach { case (span, metric) => layers(metric) = total(span) }
    val bytes = layers.getOrElse("sources.tail.bytes", 0.0)
    layers("sources.tail.mb_per_s") =
      if (layers("sources.tail.s") > 0) bytes / 1e6 / layers("sources.tail.s")
      else 0.0
    val lines = layers.remove("lines_in").getOrElse(0.0)
    layers("operators.parse.keep_ratio") =
      if (lines > 0) layers.getOrElse("events_out", 0.0) / lines else 0.0
    layers.remove("events_out")
    val distinct = layers.remove("rdns_distinct_ips").getOrElse(0.0)
    layers("operators.rdns.calls_per_distinct_ip") =
      if (distinct > 0) layers.getOrElse("operators.rdns.calls", 0.0) / distinct
      else 0.0
    val geoRows = layers.remove("geo_rows").getOrElse(0.0)
    val hits = layers.remove("geo_hits").getOrElse(0.0)
    layers("operators.geo.hit_ratio") = if (geoRows > 0) hits / geoRows else 0.0
    val plain = tracer.named("Pipeline.runIncremental")
    val w = tracer.work(plain)
    val wall = plain.map(_.seconds).sum
    layers("Pipeline.jobs_per_run") = w.jobs.toDouble / runs
    layers("Pipeline.stages_per_run") = w.stages.toDouble / runs
    layers("Pipeline.tasks_per_run") = w.tasks.toDouble / runs
    layers("Pipeline.executor_busy_ratio") =
      w.runNanos / 1e9 / (wall * args.cores)
  }
}

/** `suite`: one cold pass over a slice of `SparkEntry.queries`, every
  * result written out in full. */
final class Suite(a: Main.Args, o: mutable.LinkedHashMap[String, Any])
    extends Bench(a, o) {
  import Main._

  val names: Seq[String] = Files.readAllLines(args.work.resolve("queries.txt"))
    .asScala.toSeq.filter(_.nonEmpty)

  def setupOnce(i: Int): Unit = { spark.range(1000).count(); () }

  /** Runs one query, writing every output column; (seconds, error). */
  def runQuery(n: String, dest: String, traced: Boolean): (Double, String) = {
    val t0 = System.nanoTime()
    val err =
      try {
        def body = SparkEntry.queries(n)(spark, args.data)
          .write.mode("overwrite").parquet(args.work.resolve(dest).toString)
        if (traced) tracer.span("queries." + n)(body) else body
        ""
      } catch {
        case e: Throwable =>
          Option(e.getMessage).getOrElse(e.getClass.getName)
            .linesIterator.take(1).mkString.take(300)
      }
    (secondsSince(t0), err)
  }

  /** One cold pass; a traced run then adds a warm pass for the per-layer
    * split. */
  def measure(): Unit = {
    ArtifactTimer.clear()
    val cold = names.map(n => runQuery(n, s"out/$n", traced = args.trace))
    out("queries") = names.zip(cold).map { case (n, (s, e)) =>
      Map("name" -> n, "s" -> s, "error" -> e,
        "out" -> args.work.resolve(s"out/$n").toString)
    }
    out("oracle_sql") = names.map(n => n -> SparkEntry.oracleSql(n)).toMap
    Seq("queries.jobs", "queries.stages", "queries.tasks",
      "queries.shuffle_bytes", "queries.spill_bytes",
      "queries.executor_busy_ratio", "queries.warm_s", "SharedLsh.artifact_s",
      "SharedLsh.artifacts_built").foreach(layers(_) = 0.0)
    if (args.trace) {
      val built = ArtifactTimer.snapshot.size
      val spans = names.flatMap(n => tracer.named("queries." + n))
      val w = tracer.work(spans)
      // each query once more untraced and once traced, alternating which
      // goes first, so neither side is always the warmer one
      val warm = names.zipWithIndex.map { case (n, i) =>
        val order = if (i % 2 == 0) Seq(false, true) else Seq(true, false)
        val r = order.map(t => t -> runQuery(n, s"warm-$t/$n", t)._1).toMap
        (r(false), r(true))
      }
      val warmS = warm.map(_._1).sum
      layers("queries.jobs") = w.jobs
      layers("queries.stages") = w.stages
      layers("queries.tasks") = w.tasks
      layers("queries.shuffle_bytes") = w.shuffleBytes.toDouble
      layers("queries.spill_bytes") = w.spillBytes.toDouble
      layers("queries.executor_busy_ratio") =
        w.runNanos / 1e9 / (spans.map(_.seconds).sum * args.cores)
      layers("queries.warm_s") = warmS
      layers("SharedLsh.artifact_s") = cold.zip(warm)
        .map { case ((c, _), (wm, _)) => math.max(0.0, c - wm) }.sum
      layers("SharedLsh.artifacts_built") = built
      layers("trace.overhead_s") = warm.map(_._2).sum - warmS
    }
  }
}

/** Minimal JSON writer for the results file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
