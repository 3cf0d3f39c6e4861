package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardOpenOption}

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.sources.LogSource

/** The tail contract as a property over random histories: a log written
  * by appends cut at arbitrary bytes (mid-line, inside a multibyte UTF-8
  * character), an incremental run after each append, and some runs that
  * crash between their sink and the offset commit. Across the runs, every
  * complete line of the final log is read once, in order, whole; only a
  * crashed batch is read again; the committed offset is the byte after
  * the log's last `'\n'`. Histories come from a fixed seed. */
class LogTailSpec extends SparkSpec {
  import spark.implicits._

  /** Bytes of one character: ASCII, 2- to 4-byte UTF-8, or a stray byte
    * that is not UTF-8. */
  private val char: Gen[Array[Byte]] = Gen.frequency(
    12 -> Gen.alphaNumChar.map(c => Array(c.toByte)),
    4 -> Gen.oneOf(" ", "[", "=", "é", "€", "𝄞").map(_.getBytes(UTF_8)),
    1 -> Gen.const(Array(0xff.toByte)))

  private val line: Gen[Array[Byte]] = for {
    n <- Gen.choose(0, 24)
    cs <- Gen.listOfN(n, char)
    end <- Gen.frequency(4 -> "\n", 1 -> "\r\n")
  } yield cs.flatten.toArray ++ end.getBytes(UTF_8)

  /** The final log (complete lines, maybe a half-written last one), the
    * byte positions where appends end, and which runs crash; the last run
    * never crashes, so it reads what every crash left. */
  final case class History(log: Array[Byte], cuts: Seq[Int],
                           crashes: Seq[Boolean])

  private val history: Gen[History] = for {
    lines <- Gen.choose(0, 10).flatMap(Gen.listOfN(_, line))
    partial <- Gen.listOf(char).map(_.take(6).flatten)
    log = (lines.flatten ++ partial).toArray
    k <- Gen.choose(1, 8)
    cuts <- Gen.listOfN(k - 1, Gen.choose(0, log.length))
    crashes <- Gen.listOfN(k - 1, Gen.frequency(3 -> false, 1 -> true))
  } yield History(log, cuts.sorted :+ log.length, crashes :+ false)

  /** Complete lines of `bytes`, each decoded as permissive UTF-8 with the
    * `'\r'` before its `'\n'` dropped. */
  private def completeLines(bytes: Array[Byte]): Vector[String] = {
    val out = Vector.newBuilder[String]
    var start = 0
    for (i <- bytes.indices if bytes(i) == '\n') {
      val end = if (i > start && bytes(i - 1) == '\r') i - 1 else i
      out += new String(bytes, start, end - start, UTF_8)
      start = i + 1
    }
    out.result()
  }

  /** Runs one history; returns the lines of its committed runs. */
  private def play(h: History): Vector[String] = {
    val d = Files.createTempDirectory("graft-tail")
    val log = Files.createDirectories(d.resolve("logs")).resolve("mail.log")
    val state = d.resolve("state/offset")
    Files.write(log, Array.emptyByteArray)
    var committed = Vector.empty[String]
    var crashed = Vector.empty[String]
    var written = 0
    for ((cut, crash) <- h.cuts.zip(h.crashes)) {
      Files.write(log, h.log.slice(written, cut), StandardOpenOption.APPEND)
      written = cut
      val before = snapshot(state)
      val got = LogSource.incrementalRead(spark, log, state)
        .as[String].collect().toVector
      assert(got.startsWith(crashed),
        s"a crashed batch must be read again first: $crashed, then $got")
      if (crash) { restore(state, before); crashed = got }
      else {
        committed ++= got
        crashed = Vector.empty
        val lastNl = h.log.lastIndexOf('\n'.toByte, cut - 1)
        assert(LogSource.readOffset(state) == lastNl + 1,
          s"offset after $cut bytes")
      }
    }
    committed
  }

  private def snapshot(state: Path): Option[Array[Byte]] =
    if (Files.exists(state)) Some(Files.readAllBytes(state)) else None

  /** A crash between sink and commit: the run's commit never happened. */
  private def restore(state: Path, before: Option[Array[Byte]]): Unit =
    before match {
      case Some(b) => Files.write(state, b)
      case None => Files.deleteIfExists(state)
    }

  test("each complete line is read once, whole and in order, across runs") {
    val histories = Gen.listOfN(60, history)
      .pureApply(Gen.Parameters.default, Seed(20261017L))
    for ((h, i) <- histories.zipWithIndex)
      withClue(s"history $i (cuts ${h.cuts}, crashes ${h.crashes}): ") {
        assert(play(h) == completeLines(h.log))
      }
  }
}
