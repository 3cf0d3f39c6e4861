package graft.plans

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression for the array<double> dot product — the
  * codegen'd upgrade of Similarity.dotDouble's
  * `aggregate(zip_with(a, b, _*_), 0d, _+_)` formulation. Spark's
  * higher-order functions (ZipWith / ArrayAggregate) are
  * CodegenFallback: every row pays interpreted lambda dispatch and a
  * materialized intermediate products array, and their presence breaks
  * the surrounding WholeStageCodegen span. This expression is one fused
  * primitive loop — no allocation, no virtual calls — and participates
  * in codegen, so an ANN kernel (q34's prefilter, IVF assign/search)
  * stays inside one codegen stage.
  *
  * Semantics are EXACTLY the HOF formulation's (DotDoubleExprSpec
  * asserts bit-identical results, same left-to-right fold order):
  * mismatched lengths or a null element yield null (zip_with pads the
  * shorter side with nulls / passes element nulls through, and the sum
  * then poisons to null); null ARRAY input → null via the standard
  * null-safe path. It enters a plan through the Column helper
  * [[DotDoubleExpr.dotDouble]] (or `dot_double` in SQL after
  * [[DotDoubleExpr.register]]).
  */
case class DotDoubleExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  private def ok(t: DataType): Boolean = t match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (ok(left.dataType) && ok(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_double requires ARRAY<DOUBLE> inputs, got " +
        s"${left.dataType.sql} and ${right.dataType.sql}")
  override def dataType: DataType = DoubleType
  // always nullable: length mismatch / null elements null the result
  // even when both array inputs are non-nullable (and a non-nullable
  // ev.isNull would be a constant the generated code cannot assign)
  override def nullable: Boolean = true
  override def prettyName: String = "dot_double"

  override def nullSafeEval(a: Any, b: Any): Any =
    DotDoubleExpr.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val bad = ctx.freshName("bad")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |boolean $bad = $n != $b.numElements();
         |double $acc = 0.0;
         |if (!$bad) {
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { $bad = true; break; }
         |    $acc += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |}
         |if ($bad) { ${ev.isNull} = true; } else { ${ev.value} = $acc; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotDoubleExpr =
    copy(left = newLeft, right = newRight)
}

object DotDoubleExpr {

  /** Strict left-to-right fold; null on length mismatch or any null
    * element (the zip_with/aggregate semantics). Interpreted-eval twin
    * of the generated loop. */
  def dot(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  /** Column-level entry point. */
  def dotDouble(a: Column, b: Column): Column =
    GraftSqlBridge.column(DotDoubleExpr(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  private[plans] def fromExprs(exprs: Seq[Expression]): DotDoubleExpr = {
    require(exprs.length == 2,
      s"dot_double expects 2 arguments, got ${exprs.length}")
    DotDoubleExpr(exprs(0), exprs(1))
  }

  /** SQL registration: SELECT dot_double(v, qv) ... */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "dot_double", fromExprs, "built-in")
}
