package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The robust-winnow screen certificate on ADVERSARIAL repetitive
  * text (the r9 verdict's demand): tie runs must actually occur, the
  * robust rule must chart strictly fewer positions there (the q231
  * saving), the fingerprint VALUE sets must coincide, and a pair of
  * docs sharing exactly a 7-token span (Schleimer's w + k − 1
  * guarantee threshold at w = 4, k = 4) must share a fingerprint
  * under the ROBUST index — the guarantee costs nothing. */
class RobustWinnowScreenSpec extends SparkSpec {
  import spark.implicits._

  private def frame(rows: (Long, String, String)*): DataFrame =
    rows.toSeq.toDF("doc_id", "source", "text")

  /** Per doc: position counts under both rules plus the sorted
    * distinct fp VALUE sets. */
  private def valsOf(df: DataFrame) = {
    import graft.operators.Winnow
    Winnow.hashes(df)
      .select(col("doc_id"),
        size(Winnow.stdSelCol).as("n_std"),
        size(Winnow.robSelCol).as("n_rob"),
        array_sort(array_distinct(transform(Winnow.stdSelCol,
          p => element_at(col("hs"), p.cast("int"))))).as("sv"),
        array_sort(array_distinct(transform(Winnow.robSelCol,
          p => element_at(col("hs"), p.cast("int"))))).as("rv"))
  }

  // one word repeated 40×: every 4-gram is identical, every window is
  // an all-tie — the adversarial case the robust rule exists for
  private val repetitive = ("rep " * 40).trim
  // a 7-token span embedded in two otherwise-unrelated docs
  private val span = "alpha beta gamma delta epsilon zeta eta"
  private val docA = s"one two three four five $span six seven eight nine"
  private val docB = s"p q r s t u v w $span x y z aa bb cc"

  test("tie runs: robust selects strictly fewer positions, same values") {
    val v = valsOf(frame((1L, "s", repetitive))).collect()(0)
    assert(v.getAs[Int]("n_rob") < v.getAs[Int]("n_std"),
      s"all-tie text must save positions: std=${v.getAs[Int]("n_std")} " +
        s"rob=${v.getAs[Int]("n_rob")}")
    assert(v.getAs[scala.collection.Seq[Long]]("sv").toList == v.getAs[scala.collection.Seq[Long]]("rv").toList,
      "fp VALUE sets must coincide under both tie rules")
  }

  test("value sets coincide on mixed corpus docs too") {
    val rows = valsOf(frame(
      (1L, "s", repetitive),
      (2L, "s", docA), (3L, "s", docB),
      (4L, "s", "the quick brown fox jumps over the lazy dog again"),
      (5L, "s", ("ab cd " * 25).trim))).collect()
    for (r <- rows)
      assert(r.getAs[scala.collection.Seq[Long]]("sv").toList == r.getAs[scala.collection.Seq[Long]]("rv").toList,
        s"doc ${r.getLong(0)}: value sets diverged")
  }

  test("a shared 7-token span shares a fingerprint under the robust index") {
    val v = valsOf(frame((1L, "s", docA), (2L, "s", docB)))
      .collect().map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Long]]("rv").toList).toMap
    val shared = v(1L).toSet intersect v(2L).toSet
    assert(shared.nonEmpty,
      "Schleimer guarantee: a shared >= w+k-1 = 7-token span must " +
        "share a fingerprint under robust selection")
  }

  test("no guarantee below the threshold is claimed: disjoint docs share nothing") {
    val v = valsOf(frame(
      (1L, "s", "aa bb cc dd ee ff gg hh ii jj"),
      (2L, "s", "kk ll mm nn oo pp qq rr ss tt")))
      .collect().map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Long]]("rv").toList).toMap
    assert((v(1L).toSet intersect v(2L).toSet).isEmpty,
      "unrelated docs must not collide (hash32 on distinct 4-grams)")
  }
}
