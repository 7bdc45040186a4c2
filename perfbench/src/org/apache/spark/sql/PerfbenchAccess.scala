package org.apache.spark.sql

import org.apache.spark.SparkContext

/** Spark internals the benchmark reads, which Spark keeps package-private
  * (hence this file's package). */
object PerfbenchAccess {
  /** Wait until every posted listener event has been handled: Spark
    * delivers listener events asynchronously. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** Entries registered in the session's CacheManager. */
  def cachedEntries(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
