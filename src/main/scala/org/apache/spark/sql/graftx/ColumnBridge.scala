package org.apache.spark.sql.graftx

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** The one sanctioned crossing between graft's native Catalyst expressions
  * and the public `Column` API. Spark 4 made `Column` a connect-compatible
  * wrapper over `ColumnNode`; wrapping a raw `Expression` goes through
  * `classic.ExpressionUtils`, which is `private[sql]` — hence this bridge
  * lives in an `org.apache.spark.sql` subpackage (the same pattern other
  * Spark-native libraries use). Nothing outside this package may import
  * from Spark-private scopes.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
