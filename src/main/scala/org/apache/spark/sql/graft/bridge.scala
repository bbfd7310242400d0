package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's private[sql] Column constructor so graft's native
  * codegen expressions ([[graft.expressions]]) can be used as plain Columns
  * without per-session function registration — the standard extension-library
  * pattern (a file compiled into the org.apache.spark.sql namespace).
  */
object bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Block until every event posted so far has reached every listener (the
    * bus itself is private[spark]); throws TimeoutException after 10 s. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
