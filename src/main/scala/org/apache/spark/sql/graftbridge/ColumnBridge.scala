package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to the `private[sql]` Column ↔ Expression converters — the one
  * place the library crosses into Spark's internal API, needed to register
  * custom Catalyst expressions (SURVEY §7.3: custom codegen expression for
  * the LLM hot path).
  */
object ColumnBridge {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a temp SQL function backed by a raw expression builder —
    * what `SparkSessionExtensions.injectFunction` does at session build
    * time, exposed for an already-running session.
    */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String)(
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "internal")

  /** Whether the session holds NO cached plans — the `private[sql]`
    * CacheManager emptiness check, exposed so the caching-contract
    * specs can assert scoped operator caches were fully released.
    */
  def cacheIsEmpty(spark: org.apache.spark.sql.SparkSession): Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty

  /** Block until the `private[spark]` listener bus has delivered every
    * queued event, so a listener's job records are complete when read.
    */
  def drainListeners(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
