package org.apache.spark.sql

/** Spark internals the specs read, which Spark keeps package-private
  * (hence this file's package). */
object GraftTestAccess {
  /** Entries registered in the session's CacheManager. */
  def cachedEntries(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
