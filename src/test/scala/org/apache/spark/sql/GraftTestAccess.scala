package org.apache.spark.sql

import org.apache.spark.SparkContext

/** The two Spark internals the residency specs read, both
  * package-private to Spark: the number of relations registered in the
  * session's cache manager, and the listener bus, drained so every
  * event posted so far has been delivered. */
object GraftTestAccess {
  def cachedRelations(spark: SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries

  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
