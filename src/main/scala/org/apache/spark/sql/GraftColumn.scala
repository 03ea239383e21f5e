package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Wraps a Catalyst expression as a [[Column]], so the `graft.functions`
  * kernels are built as plain Columns with typed constructors.
  * `ExpressionColumnNode` is `private[sql]`, hence this package. The
  * reverse direction is the public `classic.ColumnConversions.expression`. */
object GraftColumn {
  def apply(e: Expression): Column = new Column(classic.ExpressionColumnNode(e))
}
