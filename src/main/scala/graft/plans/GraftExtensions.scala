package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session-extension registration — the config-driven alternative to the
  * runtime hook `IpToIntExpr.register`:
  *
  *   spark-submit --conf spark.sql.extensions=graft.plans.GraftExtensions
  *   // or: SparkSession.builder().withExtensions(new GraftExtensions)
  *
  * Injects the ip_to_int / nfc_normalize / dot_double / sqdist_fixed SQL
  * functions and the two HOF-rewrite optimizer rules (`DotDoubleRule`,
  * `SqDistFixedRule`) into every session built with it.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => DotDoubleRule)
    e.injectOptimizerRule(_ => SqDistFixedRule)
    e.injectFunction((
      FunctionIdentifier("ip_to_int"),
      new ExpressionInfo(classOf[IpToIntExpr].getName, "ip_to_int"),
      (exprs: Seq[Expression]) => IpToIntExpr(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[NfcNormalizeExpr].getName, "nfc_normalize"),
      (exprs: Seq[Expression]) => NfcNormalizeExpr(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("dot_double"),
      new ExpressionInfo(classOf[DotDoubleExpr].getName, "dot_double"),
      (exprs: Seq[Expression]) => DotDoubleExpr.fromExprs(exprs)))
    e.injectFunction((
      FunctionIdentifier("sqdist_fixed"),
      new ExpressionInfo(classOf[SqDistFixedExpr].getName, "sqdist_fixed"),
      (exprs: Seq[Expression]) => SqDistFixedExpr.fromExprs(exprs)))
  }
}
