package graft

import org.apache.spark.sql.functions._
import graft.operators.KMeansCluster

class KMeansClusterSpec extends SparkSpec {
  import spark.implicits._

  private def emb(rows: Seq[(Long, Seq[Double])]) =
    rows.toDF("id", "v")

  test("assign: argmin with lowest-id tiebreak on duplicate centroids") {
    val df = emb(Seq(0L -> Seq(0.0, 0.0), 1L -> Seq(1.0, 1.0),
      2L -> Seq(0.1, -0.1)))
    // centroids 1 and 2 are identical: ties must go to cid 1
    val cents = Seq(0 -> Seq(1.0, 1.0), 1 -> Seq(0.0, 0.0),
      2 -> Seq(0.0, 0.0))
    val got = KMeansCluster.assign(df, cents)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(got == Map(0L -> 1, 1L -> 0, 2L -> 1))
  }

  test("assign: dist is the fixed-point metric") {
    val df = emb(Seq(5L -> Seq(0.5, 0.0)))
    val got = KMeansCluster.assign(df, Seq(3 -> Seq(0.0, 0.0)))
      .collect().head
    assert(got.getInt(2) == 3)
    assert(got.getLong(3) == math.floor(0.25 * 1e10).toLong)
  }

  test("updateCentroids: per-cluster per-dim means") {
    val df = emb(Seq(0L -> Seq(0.0, 2.0), 1L -> Seq(1.0, 4.0),
      2L -> Seq(10.0, 10.0)))
    val assigned = KMeansCluster.assign(df,
      Seq(0 -> Seq(0.0, 3.0), 1 -> Seq(10.0, 10.0)))
    val got = KMeansCluster.updateCentroids(assigned).toMap
    assert(got(0) == Seq(0.5, 3.0))
    assert(got(1) == Seq(10.0, 10.0))
  }

  test("farthestFirstInit: maxmin traversal with lowest-id seed and tiebreaks") {
    // line of points: 0 at x=0, 1 at x=10, 2 at x=4, 3 at x=6
    // c0 = id 0 (lowest id) at 0; farthest from {0} is id 1 (x=10);
    // then min-dists are: id2 min(16,36)=16, id3 min(36,16)=16 — tie
    // on distance goes to the LOWER id ⇒ id 2 is chosen third.
    val df = emb(Seq(0L -> Seq(0.0), 1L -> Seq(10.0),
      2L -> Seq(4.0), 3L -> Seq(6.0)))
    val init = KMeansCluster.farthestFirstInit(df, 3)
    assert(init.map(_._1) == Seq(0, 1, 2))
    assert(init.map(_._2) == Seq(Seq(0.0), Seq(10.0), Seq(4.0)))
  }

  test("farthestFirstInit seeds + lloydFrom(iters=1) is a pure assignment") {
    val df = emb(Seq(0L -> Seq(0.0, 0.0), 1L -> Seq(8.0, 8.0),
      2L -> Seq(0.5, 0.5), 3L -> Seq(7.5, 8.0)))
    val init = KMeansCluster.farthestFirstInit(df, 2)
    // c0 = point 0, c1 = the farthest point (id 1)
    assert(init.map(_._2) == Seq(Seq(0.0, 0.0), Seq(8.0, 8.0)))
    val got = KMeansCluster.lloydFrom(df, init, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(got == Map(0L -> 0, 2L -> 0, 1L -> 1, 3L -> 1))
  }

  test("assignFrom (DataFrame centroids) matches assign (literal centroids)") {
    // spark.range-derived input so nothing constant-folds away
    val e = spark.range(50).select(col("id"),
      array(col("id").cast("double") * 0.1,
        (col("id") % 7).cast("double")).as("v"))
    val cents = Seq(0 -> Seq(0.0, 0.0), 1 -> Seq(2.5, 3.0),
      2 -> Seq(5.0, 1.0), 3 -> Seq(2.5, 3.0)) // 3 duplicates 1: tie check
    val centsDf = cents.map { case (c, v) => (c, v) }.toDF("cid", "cv")
    val lit = KMeansCluster.assign(e, cents)
      .collect().map(r => r.getLong(0) -> ((r.getInt(2), r.getLong(3))))
      .toMap
    val dfp = KMeansCluster.assignFrom(e, centsDf)
      .collect().map(r => r.getLong(0) -> ((r.getInt(2), r.getLong(3))))
      .toMap
    assert(dfp == lit)
    assert(lit.values.map(_._1).toSet.intersect(Set(3)).isEmpty) // ties -> 1
  }

  test("lloydLargeK (broadcast-table loop) matches lloyd (literal loop)") {
    val rows = (0L to 39L).map(i =>
      (i, Seq((i % 5).toDouble * 2, (i % 3).toDouble)))
    val e = spark.createDataFrame(rows).toDF("id", "v")
    val a = KMeansCluster.lloyd(e, k = 4, iters = 3)
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getLong(3))).toSet
    val b = KMeansCluster.lloydLargeK(e, k = 4, iters = 3)
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getLong(3))).toSet
    assert(a == b)
  }

  test("lloyd separates two obvious blobs and reaches zero movement") {
    val blobA = (0L to 9L).map(i => i -> Seq(0.01 * i, 0.0))
    val blobB = (10L to 19L).map(i => i -> Seq(5.0 + 0.01 * i, 4.0))
    // seeds are ids 0 and 1; place one in each blob (Lloyd's cannot
    // split a blob two same-blob seeds both converge into)
    val rows = (blobA.filterNot(_._1 == 1L) :+
      (1L -> Seq(5.05, 4.0))) ++ blobB
    val got = KMeansCluster.lloyd(emb(rows), k = 2, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    val aIds = blobA.map(_._1).filterNot(_ == 1L)
    val bIds = blobB.map(_._1) :+ 1L
    assert(aIds.forall(got(_) == 0))
    assert(bIds.forall(got(_) == 1))
  }
}
