package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ Catalyst `Expression`, which Spark keeps package-private to
  * `org.apache.spark.sql`. `graft.plans.HashExpressions.native` uses it to
  * hand the engine's native expressions out as plain Columns. The package
  * is not named `graft`: callers' `import org.apache.spark.sql._` would then
  * shadow the top-level `graft` package. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
