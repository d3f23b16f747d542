package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark's `private[sql]` Column ⇄ Expression converters,
  * so graft's native Catalyst expressions (graft.functions.
  * TextHashExprs) can surface as ordinary `Column`s. Same technique
  * as other Spark-extension libraries; confined to these two
  * forwarders.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
