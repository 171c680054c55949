package org.apache.spark.sql

import org.apache.spark.SparkContext

/** The two Spark internals the benchmark reads, both package-private to
  * Spark: the listener bus, drained so a run's job and task tallies are
  * complete before they are read, and the count of relations registered
  * in the session's cache manager. */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def cachedRelations(spark: SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries
}
