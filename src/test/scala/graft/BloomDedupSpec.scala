package graft

import org.apache.spark.sql.functions._

import graft.operators.BloomDedup

/** Bloom-filter dedup prefilter (q63's kernel). */
class BloomDedupSpec extends SparkSpec {
  import spark.implicits._

  test("no false negatives: every corpus key passes might-contain") {
    val corpus = (1 to 2000).map(i => s"doc-$i").toDF("k")
    val bf = BloomDedup.buildFilter(corpus, col("k"), 10000L, 80000L)
    assert(corpus.filter(!BloomDedup.mightContain(bf, col("k"))).count() == 0)
  }

  test("bloom->confirm equals the plain semi join (false positives die)") {
    val hist = (1 to 1000).filter(_ % 3 == 0).map(i => s"k$i").toDF("k")
    val inc = (1 to 1000).map(i => s"k$i").toDF("k")
    val bf = BloomDedup.buildFilter(hist, col("k"), 1000L, 2048L) // tiny: force FPs
    val viaBloom = inc.filter(BloomDedup.mightContain(bf, col("k")))
      .join(hist, Seq("k"), "left_semi")
      .as[String].collect().sorted.toSeq
    val exact = inc.join(hist, Seq("k"), "left_semi")
      .as[String].collect().sorted.toSeq
    assert(viaBloom == exact)
  }

  test("probe stays codegen'd in the filter (narrow, no shuffle)") {
    val hist = (1 to 100).map(i => s"k$i").toDF("k")
    val bf = BloomDedup.buildFilter(hist, col("k"), 1000L, 8192L)
    val probed = spark.range(50)
      .select(concat(lit("k"), col("id").cast("string")).as("k"))
      .filter(BloomDedup.mightContain(bf, col("k")))
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Filter"), plan)
    assert(!plan.contains("Exchange"), plan)
    assert(probed.count() == 49) // k1..k49 present, k0 absent (bar FPs at 8 KB)
  }
}
