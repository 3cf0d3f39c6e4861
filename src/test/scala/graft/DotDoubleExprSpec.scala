package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.plans.DotDoubleExpr

class DotDoubleExprSpec extends SparkSpec {
  import spark.implicits._

  private def vecs(seed: Int, n: Int, dims: Int): Seq[(Seq[Double], Seq[Double])] = {
    val rnd = new scala.util.Random(seed)
    def v() = Seq.fill(dims)(rnd.nextDouble() * 2e3 - 1e3)
    (1 to n).map(_ => (v(), v()))
  }

  test("native expression is bit-identical to the zip_with/aggregate fold") {
    // both are strict left-to-right double folds, so equality is exact
    // (===), not approximate — any reordering in the native loop would
    // show up as a low-bit difference on these wide-magnitude values
    val df = vecs(5, 2000, 64).toDF("a", "b")
      .select(Similarity.dotDouble(col("a"), col("b")).as("native"),
        Similarity.dotDoubleHof(col("a"), col("b")).as("hof"))
    assert(df.filter(not(col("native") <=> col("hof"))).count() == 0)
  }

  test("null contract matches the HOF exactly: null/mismatched/empty") {
    val df = Seq(
      (Some(Seq(1.0, 2.0)), None: Option[Seq[Double]]), // null array
      (Some(Seq.empty[Double]), Some(Seq.empty[Double])), // both empty
      (Some(Seq(1.0, 2.0)), Some(Seq(3.0))))            // length mismatch
      .toDF("a", "b")
      .select(Similarity.dotDouble(col("a"), col("b")).as("native"),
        Similarity.dotDoubleHof(col("a"), col("b")).as("hof"))
    val rows = df.collect()
    assert(rows(0).isNullAt(0) && rows(0).isNullAt(1))
    assert(rows(1).getDouble(0) == 0.0 && rows(1).getDouble(1) == 0.0)
    assert(rows(2).isNullAt(0) && rows(2).isNullAt(1),
      "zip_with pads the short side with nulls and poisons the sum — " +
        "the native expression must agree")
  }

  test("SQL registration works") {
    DotDoubleExpr.register(spark)
    val r = spark.sql(
      "SELECT dot_double(array(1d, 2d, 3d), array(4d, 5d, 6d)) AS v")
      .collect().head
    assert(r.getDouble(0) == 32.0)
  }

  test("participates in WholeStageCodegen (the HOF version did not)") {
    // spark.range base (literal frames constant-fold to LocalTableScan
    // — see verify skill gotchas); `*(n)` prefixes mark codegen stages
    val base = spark.range(100)
      .select(array(col("id").cast("double"),
        (col("id") + 1).cast("double")).as("a"))
    val native = base
      .select(Similarity.dotDouble(col("a"), col("a")).as("d"))
    val pNative = native.queryExecution.executedPlan.toString
    assert(pNative.linesIterator.exists(l =>
      l.contains("*(") && l.contains("Project")),
      s"native dot must codegen:\n$pNative")
    assert(native.agg(sum("d")).collect().head.getDouble(0) > 0)
  }
}
