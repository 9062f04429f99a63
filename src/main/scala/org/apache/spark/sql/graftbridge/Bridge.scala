package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> catalyst Expression bridge. Spark 4 hides the classic
  * converters behind private[sql]; this shim (inside the sql package
  * tree, the standard extension technique) re-exports just the two
  * conversions the engine's native expressions need, plus the
  * private[spark] listener-bus drain the measurement tools use.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  /** Blocks until every listener event posted so far has been delivered. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
