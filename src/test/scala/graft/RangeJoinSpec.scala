package graft

import org.apache.spark.sql.functions._

import graft.operators.RangeJoin

class RangeJoinSpec extends SparkSpec {
  import spark.implicits._

  // non-overlapping ranges with gaps, random probes
  private lazy val dim = Seq(
    (0L, 99L, "a"), (200L, 299L, "b"), (300L, 300L, "c"), (1000L, 4095L, "d"))
    .toDF("lo", "hi", "tag")
  private lazy val probes = {
    val rnd = new scala.util.Random(11)
    (1 to 2000).map(_ => rnd.nextInt(5000).toLong).toDF("k")
  }

  test("bucketed equi-join matches broadcast theta join exactly") {
    val theta = RangeJoin
      .broadcastTheta(probes, dim, col("k"), col("lo"), col("hi"))
      .select(col("k"), col("tag"))
    val bucketed = RangeJoin.bucketed(probes, dim, "k", "lo", "hi", shift = 6)
      .select(col("k"), col("tag"))
    assert(theta.exceptAll(bucketed).count() == 0)
    assert(bucketed.exceptAll(theta).count() == 0)
  }

  test("misses survive as nulls (left join)") {
    val out = RangeJoin.bucketed(
      Seq(150L).toDF("k"), dim, "k", "lo", "hi", shift = 4)
    val r = out.collect()
    assert(r.length == 1 && r.head.isNullAt(r.head.fieldIndex("tag")))
  }

  test("boundary values are inclusive on both ends") {
    // a range ending at the top of the IPv4 space, probed at its upper
    // end and just below its lower bound
    val top = 4294967295L
    val withTop = dim.union(Seq((4294901760L, top, "z")).toDF("lo", "hi", "tag"))
    // shift 16 is Enrich.withGeo's: every range above but "z" shares
    // bucket 0, so only the residual lo/hi filter tells them apart
    for (shift <- Seq(4, 16)) withClue(s"shift = $shift: ") {
      val rows = RangeJoin.bucketed(
          Seq(0L, 99L, 200L, 299L, 300L, 100L, top, 4294901759L).toDF("k"),
          withTop, "k", "lo", "hi", shift = shift)
        .select(col("k"), col("tag"))
        .collect()
      assert(rows.length == 8) // one row per probe: none matches twice
      val out = rows.map(r => r.getLong(0) -> Option(r.getString(1))).toMap
      assert(out(0L).contains("a") && out(99L).contains("a"))
      assert(out(200L).contains("b") && out(299L).contains("b"))
      assert(out(300L).contains("c"))
      assert(out(100L).isEmpty)
      assert(out(top).contains("z"))
      assert(out(4294901759L).isEmpty)
    }
  }
}
