package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression

/** Expression → Column for graft's own Catalyst expressions. Spark 4 keeps
  * `Column(Expression)` private[sql]; this object is graft's one use of it. */
object Columns {
  def column(e: Expression): Column = org.apache.spark.sql.classic.ExpressionUtils.column(e)
}
