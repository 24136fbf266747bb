package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ Catalyst expression bridge for graft's native expressions.
  * `ExpressionUtils` is `private[sql]`, hence this package; the result
  * needs no session and no function registration. */
object ExpressionColumn {
  /** `f` applied to the expression under `child`, as a Column */
  def unary(child: Column)(f: Expression => Expression): Column =
    ExpressionUtils.column(f(ExpressionUtils.expression(child)))
}
