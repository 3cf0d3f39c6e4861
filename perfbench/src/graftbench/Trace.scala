package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed layer call. `group` is the Spark job group its jobs ran
  * under; `parent` is the id of the enclosing span (0 at top level). */
final case class Span(id: Int, parent: Int, name: String, start: Long,
                      var end: Long = 0L) {
  def seconds: Double = (end - start) / 1e9
}

/** Per-job-group Spark work, summed from listener events. */
final class GroupStats {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var runNanos = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
}

/** Collects job, stage and task metrics per job group. Every span sets its
  * own job group, so each Spark job is charged to the innermost span that
  * ran it. */
final class GroupListener extends SparkListener {
  private val stageGroup = mutable.Map[Int, String]()
  val groups = mutable.Map[String, GroupStats]()

  private def stats(g: String): GroupStats =
    groups.getOrElseUpdate(g, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    val s = stats(g)
    s.jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageGroup.get(e.stageInfo.stageId).foreach { g =>
        val s = stats(g)
        s.stages += 1
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val s = stats(g)
      s.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        s.runNanos += m.executorRunTime * 1000000L
        s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
}

/** In-memory span recorder. With `enabled = false` [[span]] only runs its
  * body, so the untraced measurements carry no instrumentation at all. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer[Span]()
  val listener = new GroupListener
  private var stack = List.empty[Span]
  if (enabled) sc.addSparkListener(listener)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size + 1, stack.headOption.fold(0)(_.id), name,
        System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setJobGroup(s.id.toString, name)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(p.id.toString, p.name)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Blocks until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.GraftBenchBus.drain(sc)

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Wall seconds of a span minus the wall seconds of its children. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  /** Spark work of the given spans' own job groups. */
  def work(ss: Seq[Span]): GroupStats = {
    drain()
    val out = new GroupStats
    listener.synchronized {
      ss.flatMap(s => listener.groups.get(s.id.toString)).foreach { g =>
        out.jobs += g.jobs; out.stages += g.stages; out.tasks += g.tasks
        out.runNanos += g.runNanos; out.shuffleBytes += g.shuffleBytes
        out.spillBytes += g.spillBytes
      }
    }
    out
  }

  def json: String = spans.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
      s""""start_ns":${s.start},"end_ns":${s.end},""" +
      s""""self_s":${selfSeconds(s)}}"""
  }.mkString("[", ",\n", "]")
}
