package org.apache.spark.sql.classic

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression

/** graft's door to the package-private column/expression conversion:
  * a Column over a Catalyst expression that takes a constructor value
  * no SQL function can pass (operators.PQ's encode kernel and its
  * driver-held codebooks).
  */
object ExpressionColumn {
  def of(c: Column)(f: Expression => Expression): Column =
    ExpressionUtils.column(f(ExpressionUtils.expression(c)))
}
