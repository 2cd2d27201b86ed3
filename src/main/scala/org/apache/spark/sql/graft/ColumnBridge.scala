package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** The one place the engine crosses between the public `Column` API and
  * Catalyst expressions (Spark keeps both conversions `private[sql]`).
  * Library helpers build their native kernels from `graft.functions`
  * directly — `wrap(DotProduct(unwrap(a), unwrap(b)))` — so a kernel
  * runs on any session, with or without the function registrations of
  * `graft.plans.GraftExtensions`.
  */
object ColumnBridge {
  def wrap(e: Expression): Column = ExpressionUtils.column(e)

  def unwrap(c: Column): Expression = ExpressionUtils.expression(c)
}
