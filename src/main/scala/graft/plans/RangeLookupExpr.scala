package graft.plans

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.DataType
import org.apache.spark.unsafe.Platform

import graft.operators.RangeJoin

/** Field `ordinal` of the broadcast [[RangeJoin.Table]] row whose range
  * holds the LONG key — null on a miss or a null key. The probe of
  * [[RangeJoin.lookup]]: the per-row cost is one binary search over
  * driver-built arrays, so the interpreted path (CodegenFallback) is kept
  * rather than generating code for every payload type.
  */
case class RangeLookupExpr(child: Expression, table: Broadcast[RangeJoin.Table],
                           ordinal: Int, dataType: DataType)
    extends UnaryExpression with CodegenFallback {

  @transient private lazy val t = table.value
  @transient private lazy val row = new UnsafeRow(t.numFields)

  override def nullable: Boolean = true
  override def prettyName: String = "range_lookup"

  override def nullSafeEval(key: Any): Any = {
    val i = t.find(key.asInstanceOf[Long])
    if (i < 0) null
    else {
      row.pointTo(t.rows, Platform.BYTE_ARRAY_OFFSET + t.offsets(i),
        t.offsets(i + 1) - t.offsets(i))
      if (row.isNullAt(ordinal)) null else row.get(ordinal, dataType)
    }
  }

  override protected def withNewChildInternal(newChild: Expression): RangeLookupExpr =
    copy(child = newChild)
}
