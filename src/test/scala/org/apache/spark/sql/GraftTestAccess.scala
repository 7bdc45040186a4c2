package org.apache.spark.sql

/** Spark internals the specs read, which Spark keeps package-private
  * (hence this file's package). */
object GraftTestAccess {
  /** Entries registered in the session's CacheManager. */
  def cachedEntries(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries

  /** Blocks until every event posted so far reached the SparkListeners, so
    * a listener's counts are complete once an action returns. */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(60000L)
}
