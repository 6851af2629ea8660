package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge into `private[sql]` Column<->Expression conversion for
  * graft's native Catalyst expressions (the supported pattern for
  * libraries shipping custom expressions on Spark 4's split Column API),
  * and into the `private[spark]` listener bus.
  */
object GraftBridge {
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  /** Waits until every queued listener event has been delivered. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
