package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Access shim: Spark 4 removed the public Column(Expression)
  * constructor; the conversion lives in `classic.ExpressionUtils`,
  * which is `private[sql]`. This object re-exports the two conversions
  * the engine's custom expressions need (the standard extension-point
  * pattern for libraries shipping Catalyst expressions), plus the
  * package-private listener-bus drain.
  */
object GraftShims {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Block until every listener event posted so far is delivered:
    * `SparkListener` and `QueryExecutionListener` callbacks run on the
    * asynchronous listener bus, not on the thread that ran the job. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
