package graft

import org.apache.spark.sql.functions._

import graft.operators.RangeJoin

/** RangeJoin.lookup (broadcast sorted table + binary search) against the
  * broadcastTheta reference. */
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

  test("lookup matches broadcast theta join exactly on non-overlapping ranges") {
    val theta = RangeJoin
      .broadcastTheta(probes, dim, col("k"), col("lo"), col("hi"))
      .select(col("k"), col("tag"))
    val lookup = RangeJoin.lookup(probes, col("k"), dim)
    assert(lookup.columns.toSeq == Seq("k", "tag"))
    assert(theta.exceptAll(lookup).count() == 0)
    assert(lookup.exceptAll(theta).count() == 0)
  }

  test("misses survive as nulls (left join)") {
    val probe = Seq(Some(150L), Some(-1L), Some(5000L), None).toDF("k")
    val theta = RangeJoin
      .broadcastTheta(probe, dim, col("k"), col("lo"), col("hi"))
      .select(col("k"), col("tag")).collect().toSet
    val r = RangeJoin.lookup(probe, col("k"), dim).collect()
    // a gap, below the first range, past the last one, and a null key
    assert(r.length == 4 && r.forall(_.isNullAt(1)))
    assert(r.toSet == theta)
  }

  test("boundary values are inclusive on both ends") {
    // a range ending at the top of the IPv4 space, probed at its upper
    // end and just below its lower bound
    val top = 4294967295L
    val withTop = dim.union(Seq((4294901760L, top, "z")).toDF("lo", "hi", "tag"))
    val probe = Seq(0L, 99L, 200L, 299L, 300L, 100L, top, 4294901759L).toDF("k")
    val rows = RangeJoin.lookup(probe, col("k"), withTop).collect()
    assert(rows.length == 8) // one row per probe
    val out = rows.map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(out(0L).contains("a") && out(99L).contains("a"))
    assert(out(200L).contains("b") && out(299L).contains("b"))
    assert(out(300L).contains("c"))
    assert(out(100L).isEmpty)
    assert(out(top).contains("z"))
    assert(out(4294901759L).isEmpty)
    val theta = RangeJoin
      .broadcastTheta(probe, withTop, col("k"), col("lo"), col("hi"))
      .select(col("k"), col("tag")).collect()
    assert(theta.toSet == rows.toSet)
  }

  test("overlapping ranges: the greatest lo <= key decides, as the reference's bisect") {
    // [0, 100] holds [50, 60]. broadcastTheta returns every range holding
    // the key (55 matches both); lookup takes the greatest lo <= key and
    // hits only if the key is within that range's hi, so 70 misses even
    // though [0, 100] holds it (ipinfo.py's bisect_right - 1).
    val nested = Seq((0L, 100L, "outer"), (50L, 60L, "inner")).toDF("lo", "hi", "tag")
    val probe = Seq(10L, 55L, 70L).toDF("k")
    val out = RangeJoin.lookup(probe, col("k"), nested).collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(out == Map(10L -> Some("outer"), 55L -> Some("inner"), 70L -> None))
    val theta = RangeJoin
      .broadcastTheta(probe, nested, col("k"), col("lo"), col("hi"))
      .select(col("k"), col("tag")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(theta == Set((10L, "outer"), (55L, "outer"), (55L, "inner"), (70L, "outer")))
  }
}
