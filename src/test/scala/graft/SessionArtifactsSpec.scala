package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.spark.SparkException
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.execution.LogicalRDD

import graft.operators.RangeJoin
import graft.sources.DimRefresh

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

  test("release destroys a stored broadcast; a new version evicts the old one") {
    val s = spark.newSession()
    def at(key: String, version: Int): Broadcast[Int] =
      SessionArtifacts.memoVersion(s, "spec.table", key, version)(
        s.sparkContext.broadcast(version))
    val b1 = at("dim", 1)
    assert(at("dim", 1) eq b1)
    val other = at("other", 1)
    val b2 = at("dim", 2)
    assert(b2.value == 2 && other.value == 1)
    intercept[SparkException](b1.value) // destroyed on eviction
    assert(at("dim", 1) ne b1) // and rebuilt when its version returns

    SessionArtifacts.clear(s)

    intercept[SparkException](b2.value)
    intercept[SparkException](other.value)
  }

  test("a refreshed dim file replaces its range table and destroys the old one") {
    val s = spark.newSession()
    val path = Files.createTempDirectory("graft-dim").resolve("country.csv")
    def rows(n: Int)(p: Path): Unit = Files.write(p, (0 until n)
      .map(i => s"${i * 10},${i * 10 + 9},C$i\n").mkString
      .getBytes(StandardCharsets.UTF_8))
    DimRefresh.refresh(path, rows(2))
    val dim = DimRefresh.loadCountry(s, path.toString)
    val t1 = RangeJoin.table(dim)
    assert(RangeJoin.table(dim) eq t1)
    // a fresh frame over the same unchanged file shares the table
    assert(RangeJoin.table(DimRefresh.loadCountry(s, path.toString)) eq t1)

    DimRefresh.refresh(path, rows(3))

    val t2 = RangeJoin.table(dim)
    assert(t2 ne t1)
    assert(t2.value.lo.toSeq == Seq(0L, 10L, 20L))
    intercept[SparkException](t1.value)
    SessionArtifacts.clear(s)
  }
}
