package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** The standard Spark-extension access shim: `Column` in Spark 4 wraps an
  * implementation-agnostic ColumnNode, and the classic converters between it
  * and Catalyst `Expression`s are `private[sql]`. Libraries that construct
  * Catalyst expressions themselves (here: [[graft.expr.Native]], the one
  * builder of the engine's native Columns, whose bloom Column even carries
  * the built filter as an object literal) expose them to the DataFrame API
  * from inside the `org.apache.spark.sql` namespace. Keep this object free of
  * logic: one call each way.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
