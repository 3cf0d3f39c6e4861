package org.apache.spark.sql

import java.util.concurrent.{CompletableFuture, ExecutorService}

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation}

/** Minimal bridge into Spark's `private[sql]`/`private[spark]` surface —
  * the standard extension-library technique for exposing custom Catalyst
  * Expressions as user-facing Columns on Spark 4 (where `new Column(expr)`
  * moved behind the classic/connect split), plus the plan, broadcast and
  * thread-local hooks `RangeJoin` needs. Calls only, no behavioral
  * overrides.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  def logicalPlan(df: DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed

  /** The file listings of `df`'s file-source relations (one per
    * `HadoopFsRelation` leaf of its analyzed plan). */
  def fileIndexes(df: DataFrame): Seq[FileIndex] =
    logicalPlan(df).collect { case l: LogicalRelation => l.relation }
      .collect { case h: HadoopFsRelation => h.location }

  /** `df`'s rows as Catalyst `InternalRow`s, never converted to `Row`s. */
  def internalRows(df: DataFrame): RDD[InternalRow] =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.toRdd

  /** Frees `b` on the driver and every executor, returning once it is gone. */
  def destroy(b: Broadcast[_]): Unit = b.destroy(blocking = true)

  /** Runs `body` on `pool` under the calling thread's job properties and
    * active session, as `BroadcastExchangeExec` builds its relation. */
  def async[T](s: SparkSession, pool: ExecutorService)(body: => T): CompletableFuture[T] =
    SQLExecution.withThreadLocalCaptured(s.asInstanceOf[classic.SparkSession], pool)(body)
}
