package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

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
    s.sparkContext.addSparkListener(StopWitness)
    s
  }

  /** Diagnosis for a shared context that stops mid-run: when the
    * application ends, print to stderr the stack of each thread inside
    * `SparkContext.stop`, heap used/max and the usage of `/dev/shm`
    * (where `spark.local.dir` keeps checkpoint blocks). A clean run prints
    * it once, from the JVM's shutdown hook. */
  private object StopWitness extends SparkListener {
    override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit = {
      val mb = 1L << 20
      val stops = Thread.getAllStackTraces.asScala.collect {
        case (t, st) if st.exists(e => e.getMethodName == "stop" &&
            e.getClassName == "org.apache.spark.SparkContext") =>
          s"  thread ${t.getName}\n" + st.map("    at " + _).mkString("\n")
      }
      val rt = Runtime.getRuntime
      val shm = Paths.get("/dev/shm")
      val shmUse =
        if (!Files.exists(shm)) "absent"
        else {
          val fs = Files.getFileStore(shm)
          s"${(fs.getTotalSpace - fs.getUsableSpace) / mb}/${fs.getTotalSpace / mb} MB"
        }
      System.err.println(
        s"[SparkSpec] application end at ${end.time}; " +
          s"heap ${(rt.totalMemory - rt.freeMemory) / mb}/${rt.maxMemory / mb} MB; " +
          s"/dev/shm $shmUse; SparkContext.stop callers:\n" +
          (if (stops.isEmpty) "  (none found)" else stops.mkString("\n")))
    }
  }
}
