package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicReference

import scala.jdk.CollectionConverters._

import org.apache.hadoop.util.ShutdownHookManager
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
    val witness = new StopWitness(localDirs(s.sparkContext.getConf))
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

  /** Diagnosis for a shared context that stops mid-run. When the
    * application ends and no thread inside `SparkContext.stop` is the JVM's
    * shutdown hook, the first such stop is kept as one compact block: the
    * stopping thread, its frames from `stop` outwards, heap used/max and the
    * usage of each local dir's file system. The block is printed then and
    * again after Spark's shutdown hooks, so it ends the forked JVM's stderr;
    * without such a stop, one line says so. */
  private final class StopWitness(dirs: Seq[String]) extends SparkListener {
    private val first = new AtomicReference[String]()

    def report: String = Option(first.get).getOrElse(
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
        s"heap ${(rt.totalMemory - rt.freeMemory) / mb}/${rt.maxMemory / mb} MB; " +
        s"local dirs ${disks.mkString(", ")}" + frames.mkString).take(1200)
      if (first.compareAndSet(null, block)) System.err.println(block)
    }
  }
}
