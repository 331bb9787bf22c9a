package org.apache.spark.sql.graftx

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. Spark 4 made `Column(expr)` and
  * `col.expr` internal (`private[sql]` ExpressionUtils in the classic
  * module); living in a subpackage of `org.apache.spark.sql` is the
  * standard extension-library pattern for reaching them (same approach
  * as spark-connector libraries in the wild). Only this file touches
  * Spark internals. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a function builder into a live session's registry
    * (`sessionState` is `private[sql]`; same extension-subpackage
    * rationale as above). */
  def registerFunction(spark: org.apache.spark.sql.SparkSession,
      ident: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(ident, info, builder)

  /** Block until every event posted so far has reached every listener
    * (`listenerBus` is `private[spark]`). */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
