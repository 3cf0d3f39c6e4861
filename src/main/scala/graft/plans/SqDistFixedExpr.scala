package graft.plans

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Native Catalyst expression for the FIXED-POINT squared L2 distance
  * Σ ⌊(aᵢ − bᵢ)²·10¹⁰⌋ (BIGINT) — the codegen'd upgrade of the
  * zip_with/aggregate formulation shared by the k-means family
  * (KMeansCluster.sqDistFixed), SemDeDup's pair kernel
  * (SemDedup.sqDistFixedCols), and the diversity objectives. Exactly
  * [[DotDoubleExpr]]'s story applied to the distance metric: the
  * higher-order functions are CodegenFallback (interpreted lambda
  * dispatch + a materialized per-row intermediate array, breaking the
  * surrounding WholeStageCodegen span), and this kernel sits inside
  * k-means assignment scans and the SemDeDup self-join filter — the
  * hottest per-row loops the engine runs at scale.
  *
  * Semantics are EXACTLY the HOF formulation's under ANSI mode (the
  * Spark 4 default, and every session this repo builds): per element
  * `(long) Math.floor(((a−b)·(a−b))·10¹⁰)` — same IEEE op order, same
  * double→long saturation — summed left-to-right via
  * `Math.addExact`, so a sum past Long.MaxValue throws exactly like
  * ANSI's Add (SqDistFixedExprSpec asserts both the bit-parity and
  * the overflow throw); length mismatch or a null element yields
  * null. In a NON-ANSI session the HOF would wrap where this kernel
  * still throws — failing loudly on a meaningless distance either
  * way is the repo convention.
  */
case class SqDistFixedExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  private def ok(t: DataType): Boolean = t match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (ok(left.dataType) && ok(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sqdist_fixed requires ARRAY<DOUBLE> inputs, got " +
        s"${left.dataType.sql} and ${right.dataType.sql}")
  override def dataType: DataType = LongType
  // always nullable: length mismatch / null elements null the result
  override def nullable: Boolean = true
  override def prettyName: String = "sqdist_fixed"

  override def nullSafeEval(a: Any, b: Any): Any =
    SqDistFixedExpr.sqDist(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val bad = ctx.freshName("bad")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      s"""
         |int $n = $a.numElements();
         |boolean $bad = $n != $b.numElements();
         |long $acc = 0L;
         |if (!$bad) {
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { $bad = true; break; }
         |    double $d = $a.getDouble($i) - $b.getDouble($i);
         |    $acc = Math.addExact($acc, (long) Math.floor(($d * $d) * 1.0E10));
         |  }
         |}
         |if ($bad) { ${ev.isNull} = true; } else { ${ev.value} = $acc; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SqDistFixedExpr =
    copy(left = newLeft, right = newRight)
}

object SqDistFixedExpr {

  /** Interpreted-eval twin of the generated loop: null on length
    * mismatch or any null element (the zip_with semantics). */
  def sqDist(a: ArrayData, b: ArrayData): java.lang.Long = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val d = a.getDouble(i) - b.getDouble(i)
      acc = Math.addExact(acc, math.floor((d * d) * 1.0e10).toLong)
      i += 1
    }
    java.lang.Long.valueOf(acc)
  }

  /** Column-level entry point. */
  def sqDistFixed(a: Column, b: Column): Column =
    GraftSqlBridge.column(SqDistFixedExpr(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  private[plans] def fromExprs(exprs: Seq[Expression]): SqDistFixedExpr = {
    require(exprs.length == 2,
      s"sqdist_fixed expects 2 arguments, got ${exprs.length}")
    SqDistFixedExpr(exprs(0), exprs(1))
  }

  /** SQL registration: SELECT sqdist_fixed(v, c) ... */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "sqdist_fixed", fromExprs, "built-in")
}
