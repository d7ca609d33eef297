package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** The two Column ⇄ Expression conversions graft's native functions are
  * built with. They live in Spark's package because Spark 4's
  * `classic.ExpressionUtils` is `private[sql]`; both conversions are
  * lazy wrappers, so neither needs a session. */
object GraftColumns {

  /** A Column holding a Catalyst expression as is. */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** A Column as a Catalyst expression, converted when a plan reads it. */
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
