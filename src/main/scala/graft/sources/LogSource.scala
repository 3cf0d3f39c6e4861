package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The live log's byte-offset tail, mirroring the reference's ingestion
  * (`lib/maillogsentinel/parser.py:38-217`).
  *
  * A run reads from the committed offset to the last `'\n'` of the live
  * log (parser.py:166-196: seek at :174, tell at :193) and decodes the
  * complete lines as permissive UTF-8 (bad bytes become U+FFFD,
  * parser.py:153's errors="ignore"). A half-written last line stays
  * unread until its `'\n'` arrives. Truncation/rotation (size < offset)
  * resets to 0 (parser.py:141-145). The first run — no state file yet —
  * also reads the rotated siblings, gzip-transparent through Spark's text
  * source. The offset is committed only after the caller's sink succeeds
  * (see `Pipeline.runIncremental`), so a crash in between re-reads the
  * batch: at-least-once, as the reference's state write after success.
  *
  * The tail is read on the driver and parallelized into a DataFrame, so
  * everything downstream is distributed. graft.streaming.LogStream
  * reads the same logs through Spark's file source, whose checkpoint
  * plays the role of the state file (SURVEY §2.8), but it is not a
  * streaming form of this tail: the file source reads each file once,
  * when it first lists it, so lines appended to the live `mail.log`
  * after that are never read. One tail source for both modes is ROADMAP
  * direction 4.
  */
object LogSource {

  /** Offset state file: single long, as the reference's state.offset
    * (utils.py:214-270). Invalid (non-numeric or negative)/absent → 0. */
  def readOffset(stateFile: Path): Long =
    if (Files.exists(stateFile))
      try new String(Files.readAllBytes(stateFile),
        StandardCharsets.UTF_8).trim.toLong.max(0L)
      catch { case _: NumberFormatException => 0L }
    else 0L

  /** temp-write + atomic replace: a crash never leaves a truncated offset. */
  def writeOffset(stateFile: Path, offset: Long): Unit = {
    Files.createDirectories(stateFile.getParent)
    val tmp = stateFile.getParent.resolve(s".${stateFile.getFileName}.tmp")
    Files.write(tmp, offset.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, stateFile, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Complete lines after `offset` (`'\r'` before `'\n'` dropped) and the
    * offset after the last `'\n'`, in one buffered read. */
  private def readTail(logFile: Path, offset: Long): (Seq[String], Long) = {
    if (!Files.exists(logFile)) return (Nil, 0L)
    val ch = FileChannel.open(logFile)
    try {
      val from = if (ch.size() < offset) 0L else offset
      val tail = new ByteArrayOutputStream()
      val buf = ByteBuffer.allocate(1 << 16)
      ch.position(from)
      while (ch.read(buf) > 0) {
        tail.write(buf.array, 0, buf.position())
        buf.clear()
      }
      val bytes = tail.toByteArray
      val end = bytes.lastIndexOf('\n'.toByte) + 1
      val lines = new String(bytes, 0, end, StandardCharsets.UTF_8)
        .split("\r?\n", -1).toSeq.dropRight(1)
      (lines, from + end)
    } finally ch.close()
  }

  /** The lines one run extracts and the offset to commit after its sink:
    * the live log's tail, plus every rotated sibling on the first run
    * (bin/maillogsentinel.py:643). */
  private[graft] def read(spark: SparkSession, logFile: Path,
                          stateFile: Path): (DataFrame, Long) = {
    import spark.implicits._
    val (lines, newOffset) = readTail(logFile, readOffset(stateFile))
    val tail = spark.createDataset(lines).toDF("value")
    val rotated =
      if (Files.exists(stateFile) || !Files.exists(logFile.getParent)) Nil
      else Files.list(logFile.getParent).iterator().asScala
        .filter(p => p.getFileName.toString
          .startsWith(logFile.getFileName.toString + "."))
        .filter(Files.isRegularFile(_))
        .toSeq.sortBy(_.getFileName.toString)
    val df =
      if (rotated.isEmpty) tail
      else spark.read.text(rotated.map(_.toString): _*).union(tail)
    (df, newOffset)
  }

  /** [[read]], then commit its offset at once (no sink in between). */
  def incrementalRead(spark: SparkSession, logFile: Path,
                      stateFile: Path): DataFrame = {
    val (df, newOffset) = read(spark, logFile, stateFile)
    writeOffset(stateFile, newOffset)
    df
  }
}
