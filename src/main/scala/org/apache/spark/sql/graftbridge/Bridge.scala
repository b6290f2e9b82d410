package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Catalyst Expression bridge. `ExpressionUtils` is
  * `private[sql]` in Spark 4's Scala signatures, so this one-file shim
  * lives under the org.apache.spark.sql package tree — the standard
  * pattern third-party engines use to register native expressions
  * (cf. public examples referenced in /root/repo/SNIPPETS.md).
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wait until every event posted so far has reached every listener
    * (the listener bus is `private[spark]`). */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
