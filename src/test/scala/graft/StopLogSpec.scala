package graft

import org.apache.logging.log4j.core.impl.Log4jLogEvent
import org.apache.logging.log4j.message.SimpleMessage
import org.scalatest.funsuite.AnyFunSuite

class StopLogSpec extends AnyFunSuite {

  private def event(logger: String, msg: String) =
    Log4jLogEvent.newBuilder().setLoggerName(logger)
      .setMessage(new SimpleMessage(msg)).build()

  test("StopLog keeps the first line that reports Spark stopping the context itself") {
    val log = new SparkSpec.StopLog
    log.append(event("org.apache.spark.scheduler.TaskSetManager",
      "Lost task 0.0 in stage 1.0 (TID 4)"))
    assert(log.line.isEmpty)
    log.append(event("org.apache.spark.util.Utils",
      "uncaught error in thread spark-listener-group-shared, stopping SparkContext"))
    log.append(event("org.apache.spark.scheduler.DAGSchedulerEventProcessLoop",
      "DAGSchedulerEventProcessLoop failed; shutting down SparkContext"))
    assert(log.line.contains("org.apache.spark.util.Utils: uncaught error in " +
      "thread spark-listener-group-shared, stopping SparkContext"))
  }
}
