package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeAndComment, CodeGenerator}
import org.sparkproject.guava.cache.Cache
import scala.jdk.CollectionConverters._

/** The Spark internals the residency and codegen specs read: the
  * number of relations registered in the session's cache manager, the
  * listener bus, drained so every event posted so far has been
  * delivered (both package-private to Spark), and the generated-class
  * cache of `CodeGenerator` (private to its object, read reflectively). */
object GraftTestAccess {
  def cachedRelations(spark: SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries

  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The Guava cache behind `CodeGenerator.cache`, keyed by (class
    * loader, generated source). */
  private def codegenCache: Cache[(AnyRef, CodeAndComment), AnyRef] = {
    val m = CodeGenerator.getClass.getDeclaredMethod("cache")
    m.setAccessible(true)
    val wrapper = m.invoke(CodeGenerator)
    wrapper.getClass.getMethod("loadingCache").invoke(wrapper)
      .asInstanceOf[Cache[(AnyRef, CodeAndComment), AnyRef]]
  }

  /** The generated source of every class in the cache, one per entry
    * (a source compiled under two class loaders appears twice). */
  def codegenCachedSources(): Seq[String] =
    codegenCache.asMap.keySet.asScala.toSeq.map(_._2.body)

  /** The maximum entry count the cache was built with: the value of
    * `spark.sql.codegen.cache.maxEntries` when `CodeGenerator` was first
    * used in this JVM. */
  def codegenCacheMaxEntries(): Long = {
    val manual = Class.forName("org.sparkproject.guava.cache.LocalCache$LocalManualCache")
    val local = manual.getDeclaredField("localCache")
    local.setAccessible(true)
    val lc = local.get(codegenCache)
    val max = lc.getClass.getDeclaredField("maxWeight")
    max.setAccessible(true)
    max.getLong(lc)
  }
}
