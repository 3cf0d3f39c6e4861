package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.zip.GZIPOutputStream

import graft.sources.{EventsCsv, LogSource, SqlExport}

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): Path = Files.createTempDirectory("graft-test")
  private def write(p: Path, s: String): Unit =
    Files.write(p, s.getBytes(StandardCharsets.UTF_8))
  private def append(p: Path, s: String): Unit =
    Files.write(p, s.getBytes(StandardCharsets.UTF_8),
      java.nio.file.StandardOpenOption.APPEND)

  test("offset tail: only new lines on second read; offset advances") {
    val d = tmpDir()
    val log = d.resolve("mail.log")
    val state = d.resolve("state/offset")
    write(log, "line1\nline2\n")
    val df1 = LogSource.incrementalRead(spark, log, state)
    assert(df1.as[String].collect().toSeq == Seq("line1", "line2"))
    append(log, "line3\n")
    val df2 = LogSource.incrementalRead(spark, log, state)
    assert(df2.as[String].collect().toSeq == Seq("line3"))
  }

  test("rotation/truncation resets offset to zero (parser.py:141-145)") {
    val d = tmpDir()
    val log = d.resolve("mail.log")
    val state = d.resolve("offset")
    write(log, "old1\nold2\nold3\n")
    LogSource.incrementalRead(spark, log, state)
    write(log, "new1\n") // truncated: size < saved offset
    val df = LogSource.incrementalRead(spark, log, state)
    assert(df.as[String].collect().toSeq == Seq("new1"))
  }

  test("first run (offset 0) includes rotated files, oldest-first glob") {
    val d = tmpDir()
    val log = d.resolve("mail.log")
    write(log, "live\n")
    write(d.resolve("mail.log.1"), "rot1\n")
    val gz = d.resolve("mail.log.2.gz")
    val out = new GZIPOutputStream(Files.newOutputStream(gz))
    out.write("rotgz\n".getBytes(StandardCharsets.UTF_8)); out.close()
    val df = LogSource.incrementalRead(spark, log, d.resolve("offset"))
    assert(df.as[String].collect().toSet == Set("live", "rot1", "rotgz"))
  }

  test("invalid state file treated as offset 0 (utils.py:214-248)") {
    for (bad <- Seq("not-a-number", "-5")) {
      val d = tmpDir()
      val log = d.resolve("mail.log")
      val f = d.resolve("offset")
      write(log, "line1\nline2\n")
      write(f, bad)
      assert(LogSource.readOffset(f) == 0L, bad)
      assert(LogSource.incrementalRead(spark, log, f).as[String].collect()
        .toSeq == Seq("line1", "line2"), bad)
    }
  }

  test("events csv roundtrip with ; delimiter; malformed rows dropped") {
    val d = tmpDir()
    val df = Seq(
      ("srv", "01/01/2025 10:00", "1.2.3.4", "bob", "null",
        "ERRNO 1", "N/A", "N/A", "N/A"))
      .toDF(EventsCsv.schema.fieldNames: _*)
    EventsCsv.append(df, d.resolve("events").toString)
    val back = EventsCsv.read(spark, d.resolve("events").toString)
    assert(back.count() == 1)
    assert(back.collect().head.getAs[String]("user") == "bob")
    // reference-style hand-made CSV with a short row: dropped on read
    // (report.py:133-138 semantics via DROPMALFORMED)
    val f = d.resolve("hand.csv")
    write(f, EventsCsv.schema.fieldNames.mkString(";") + "\n" +
      "s;01/01/2025 10:00;1.2.3.4;alice;null;OK;N/A;N/A;N/A\n" +
      "short;row\n")
    val hand = EventsCsv.read(spark, f.toString)
    assert(hand.count() == 1)
    assert(hand.collect().head.getAs[String]("user") == "alice")
  }

  test("single-file compat export writes header exactly once") {
    val d = tmpDir()
    val f = d.resolve("events.csv")
    val df = Seq(("s", "d", "i", "u", "h", "st", "c", "a", "o"))
      .toDF(EventsCsv.schema.fieldNames: _*)
    EventsCsv.writeCompatSingleFile(df, f)
    EventsCsv.writeCompatSingleFile(df, f)
    val lines = Files.readAllLines(f)
    assert(lines.size == 3)
    assert(lines.get(0).startsWith("server;date;ip"))
  }

  test("sql export: escaping, null-likes, int cast, transaction wrapper") {
    import SqlExport._
    val specs = Seq(
      ColumnSpec("user", "username", StrKind, notNull = true),
      ColumnSpec("asn", "asn_int", IntKind, notNull = false),
      ColumnSpec("ok", "is_ok", BoolKind, notNull = false))
    val df = Seq(
      ("o'brien", "64500", "true"),
      ("carol", "N/A", "no"),
      ("dave", "not-a-number", "off")) // ANSI trap: must render NULL, not throw
      .toDF("user", "asn", "ok")
    val Right(lines) = export(df, "t", specs): @unchecked
    val all = lines.collect().toSeq
    assert(all.head == "BEGIN TRANSACTION;")
    assert(all.last == "COMMIT;")
    assert(all.contains(
      "INSERT INTO t (username, asn_int, is_ok) VALUES ('o''brien', 64500, 1);"))
    assert(all.contains(
      "INSERT INTO t (username, asn_int, is_ok) VALUES ('carol', NULL, 0);"))
    assert(all.contains(
      "INSERT INTO t (username, asn_int, is_ok) VALUES ('dave', NULL, 0);"))
  }

  test("sql export: NOT NULL violation aborts the whole batch") {
    import SqlExport._
    val specs = Seq(ColumnSpec("user", "username", StrKind, notNull = true))
    val df = Seq("alice", "N/A").toDF("user") // N/A nullifies -> violation
    assert(export(df, "t", specs) == Left(1L))
  }

  test("sql export: quarantine mode ships valid rows, sidelines bad ones") {
    import SqlExport._
    val specs = Seq(ColumnSpec("user", "username", StrKind, notNull = true))
    val df = Seq("alice", "N/A", "bob").toDF("user")
    val q = exportWithQuarantine(df, "t", specs)
    assert(q.violations == 1L)
    val lines = q.lines.collect().toSeq
    assert(lines.head == "BEGIN TRANSACTION;" && lines.last == "COMMIT;")
    assert(lines.count(_.startsWith("INSERT")) == 2)
    assert(q.quarantine.collect().map(_.getString(0)).toSeq == Seq("N/A"))
  }

  test("ddl synthesis with enum -> CHECK downgrade (sql_importer.py:197-207)") {
    import SqlExport._
    val ddl = createTableDdl("events",
      Seq(ColumnSpec("st", "status", StrKind, notNull = true)),
      Map("status" -> Seq("OK", "Timeout")))
    assert(ddl.contains("CREATE TABLE IF NOT EXISTS events"))
    assert(ddl.contains("status TEXT NOT NULL CHECK (status IN ('OK', 'Timeout'))"))
  }
}
