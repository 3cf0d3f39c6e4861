package graft

import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.execution.LogicalRDD

/** SessionArtifacts.clear(s) drops only `s`'s entries and frees the
  * blocks of their checkpointed frames — `Dataset.unpersist` on a
  * localCheckpoint frame leaves them in place. Built under a child
  * session: clearing the shared test session would strand live frames
  * of other suites over freed blocks. */
class SessionArtifactsSpec extends SparkSpec {

  private def rddIds(df: DataFrame): Seq[Int] =
    GraftSqlBridge.logicalPlan(df).collect { case r: LogicalRDD => r.rdd.id }

  private def persisted: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("clear(s) frees s's checkpoint blocks and leaves other sessions alone") {
    val other = spark.newSession()
    val shared = SharedLsh.bandKeys(spark, sf())
    val band = SharedLsh.bandKeys(other, sf())
    val (post, lens) = SharedGrams.postingPair(other, sf())
    assert(SharedWinnow.adaptiveCap(other, sf()) > 0L)
    val mine = Seq(band, post, lens).flatMap(rddIds)
    val kept = rddIds(shared)
    assert(mine.size == 3 && kept.size == 1)
    assert(mine.forall(persisted) && kept.forall(persisted))

    SessionArtifacts.clear(other)

    assert(mine.forall(id => !persisted(id)),
      s"blocks still persisted: ${mine.filter(persisted)}")
    assert(kept.forall(persisted))
    assert(SharedLsh.bandKeys(spark, sf()) eq shared)
    assert(shared.count() > 0L)
    // a cleared key rebuilds instead of serving the freed frame
    val rebuilt = SharedLsh.bandKeys(other, sf())
    assert(rebuilt ne band)
    assert(rddIds(rebuilt).forall(persisted))
    SessionArtifacts.clear(other)
  }
}
