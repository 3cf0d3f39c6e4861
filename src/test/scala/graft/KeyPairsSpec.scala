package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.KeyPairs
import graft.operators.KeyPairs.{Cross, Delta, Form, Same}

/** KeyPairs against a brute force over random (id, key) tables: every
  * form × minShared ∈ {1, 2} × maxDf ∈ {none, 3} × hot threshold ∈
  * {0, 2, default}, shared counts included. Every doc also holds the
  * key "all", so the cap and the slice split both see a key every doc
  * holds; the cases include an empty left and an empty right side. */
class KeyPairsSpec extends SparkSpec {
  import spark.implicits._

  private type Rows = Seq[(Long, String)]

  private val keys = (0 until 6).map(k => s"k$k")

  /** Docs `base`, `base + 1`, … (0 to 8 of them), each holding a random
    * subset of k0..k5 and "all". */
  private def table(base: Long): Gen[Rows] = for {
    n <- Gen.choose(0, 8)
    sets <- Gen.listOfN(n, Gen.someOf(keys))
  } yield sets.zipWithIndex.flatMap { case (ks, i) =>
    (ks.toSeq :+ "all").map(k => (base + i, k))
  }

  private def brute(form: Form, a: Rows, b: Rows, minShared: Int,
                    maxDf: Option[Long]): Set[(Long, Long, Long)] = {
    val counted = if (form == Delta) a ++ b else a
    val df = counted.groupBy(_._2).map { case (k, v) => k -> v.size.toLong }
    def keysOf(t: Rows) = t.groupBy(_._1).map { case (id, v) =>
      id -> v.map(_._2).toSet }.toSeq
    val (ka, kb) = (keysOf(a), keysOf(b))
    val deltaIds = kb.map(_._1).toSet
    val cands = form match {
      case Same => for ((x, kx) <- ka; (y, ky) <- ka if x < y) yield (x, y, kx & ky)
      case Cross => for ((x, kx) <- ka; (y, ky) <- kb) yield (x, y, kx & ky)
      case Delta =>
        for ((x, kx) <- ka ++ kb; (y, ky) <- ka ++ kb
             if x < y && (deltaIds(x) || deltaIds(y))) yield (x, y, kx & ky)
    }
    cands.map { case (x, y, shared) =>
      (x, y, shared.count(k => maxDf.forall(df(k) <= _)).toLong)
    }.filter(t => t._3 >= math.max(minShared, 1)).toSet
  }

  test("every form, knob and hot threshold equals the brute force") {
    val sides = for (a <- table(0L); b <- table(100L)) yield (a, b)
    val random = Gen.listOfN(3, sides)
      .pureApply(Gen.Parameters.default, Seed(20261021L))
    val filled = random.map(_._1).find(_.nonEmpty).get
    val cases = random ++ Seq((filled, Nil), (Nil, filled.map {
      case (id, k) => (id + 100L, k) }))
    assert(cases.exists(_._1.map(_._1).distinct.size > 3),
      "the cap must bite on the key every doc holds")
    for ((a, b) <- cases) {
      val (da, db) = (a.toDF("id", "key"), b.toDF("id", "key"))
      for (form <- Seq(Same, Cross, Delta); minShared <- Seq(1, 2);
           maxDf <- Seq(None, Some(3L));
           hot <- Seq(0L, 2L, KeyPairs.HotKey)) {
        val got = KeyPairs.pairs(form, da, db, minShared, maxDf, hot)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        assert(got.length == got.toSet.size)
        assert(got.toSet == brute(form, a, b, minShared, maxDf),
          s"$form minShared=$minShared maxDf=$maxDf hot=$hot a=$a b=$b")
      }
    }
  }
}
