package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicReference

import scala.jdk.CollectionConverters._

import org.apache.hadoop.util.ShutdownHookManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.SparkConf
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: one per suite (lazy), UTC, small shuffle fan-out. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", "/dev/shm/spark-local")
      .config("spark.sql.warehouse.dir",
        Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    val log = new StopLog
    log.start()
    val ctx = LoggerContext.getContext(false)
    ctx.getConfiguration.getRootLogger.addAppender(log, null, null)
    ctx.updateLoggers()
    val witness = new StopWitness(localDirs(s.sparkContext.getConf), log)
    s.sparkContext.addSparkListener(witness)
    // Hadoop runs lower priorities later; Spark's own hooks sit at 40.
    ShutdownHookManager.get().addShutdownHook(
      () => System.err.println(witness.report), 1)
    s
  }

  /** The dirs Spark keeps blocks in: `SPARK_LOCAL_DIRS` wins over
    * `spark.local.dir`, as in Spark's `Utils.getConfiguredLocalDirs`. */
  private def localDirs(conf: SparkConf): Seq[String] =
    sys.env.get("SPARK_LOCAL_DIRS").orElse(conf.getOption("spark.local.dir"))
      .getOrElse(System.getProperty("java.io.tmpdir")).split(",").toSeq

  /** Keeps the first Spark log line saying that Spark stops the context
    * itself: the DAGScheduler event loop's "DAGSchedulerEventProcessLoop
    * failed; shutting down SparkContext", or "uncaught error in thread …,
    * stopping SparkContext" from a listener-bus or context-cleaner thread
    * on a fatal error. */
  private[graft] final class StopLog
      extends AbstractAppender("graft-stop-log", null, null, true,
        Property.EMPTY_ARRAY) {
    private val first = new AtomicReference[String]()

    def line: Option[String] = Option(first.get)

    override def append(e: LogEvent): Unit = {
      val m = e.getMessage.getFormattedMessage
      if (m.contains("DAGSchedulerEventProcessLoop failed; shutting down SparkContext") ||
          m.startsWith("uncaught error in thread") && m.contains("stopping SparkContext"))
        first.compareAndSet(null, s"${e.getLoggerName}: $m".take(300))
    }
  }

  /** Diagnosis for a shared context that stops mid-run. When the
    * application ends and no thread inside `SparkContext.stop` is the JVM's
    * shutdown hook, the first such stop is kept as one compact block: the
    * stopping thread, its frames from `stop` outwards, heap used/max and the
    * usage of each local dir's file system, with the [[StopLog]] line if
    * Spark logged one. The block is printed then and again after Spark's
    * shutdown hooks, so it ends the forked JVM's stderr; without such a
    * stop, one line says so (or gives the [[StopLog]] line alone). */
  private final class StopWitness(dirs: Seq[String], log: StopLog)
      extends SparkListener {
    private val first = new AtomicReference[String]()

    def report: String = Option(first.get).orElse(
      log.line.map(l => s"[SparkSpec] Spark stopped the context itself: $l"))
      .getOrElse(
        "[SparkSpec] no SparkContext stop before JVM exit except the shutdown hook's")

    override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit = {
      def isStop(e: StackTraceElement) = e.getMethodName == "stop" &&
        e.getClassName == "org.apache.spark.SparkContext"
      val stoppers = Thread.getAllStackTraces.asScala.toSeq.collect {
        case (t, st) if st.exists(isStop) => t.getName -> st
      }
      if (stoppers.exists(_._1.startsWith("shutdown-hook-"))) return
      val (thread, st) = stoppers.headOption
        .getOrElse("(not found)" -> Array.empty[StackTraceElement])
      val mb = 1L << 20
      val rt = Runtime.getRuntime
      val disks = dirs.map { d =>
        val p = Paths.get(d)
        if (!Files.exists(p)) s"$d absent"
        else {
          val fs = Files.getFileStore(p)
          s"$d ${(fs.getTotalSpace - fs.getUsableSpace) / mb}/${fs.getTotalSpace / mb} MB"
        }
      }
      val frames = st.drop(st.lastIndexWhere(isStop)).take(10).map(e =>
        s"\n  ${e.getClassName}.${e.getMethodName}(${e.getFileName}:${e.getLineNumber})")
      val block = (s"[SparkSpec] first SparkContext stop outside the shutdown " +
        s"hook at ${end.time}: thread $thread; " +
        log.line.fold("")(l => s"Spark logged: $l; ") +
        s"heap ${(rt.totalMemory - rt.freeMemory) / mb}/${rt.maxMemory / mb} MB; " +
        s"local dirs ${disks.mkString(", ")}" + frames.mkString).take(1200)
      if (first.compareAndSet(null, block)) System.err.println(block)
    }
  }
}
