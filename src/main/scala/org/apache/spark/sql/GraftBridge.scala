package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to Spark internals: the private[sql] Column <-> Expression
  * converters (Spark 4 moved them behind `classic.ExpressionUtils`), the
  * private[spark] listener bus and the cache manager's size. Standard
  * extension-library pattern: a single object in the org.apache.spark.sql
  * package scope.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Block until every event posted so far has reached the listeners. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** the number of entries in `spark`'s cache manager */
  def cachedEntries(spark: SparkSession): Int = spark.sharedState.cacheManager.numCachedEntries
}
