package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression

/** Wraps a Catalyst expression as a Column: how the engine's Column API
  * reaches its custom expressions without a function-registry lookup.
  * Spark keeps this conversion package-private, so the bridge lives
  * under its package. */
object ExpressionColumns {
  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)
}
