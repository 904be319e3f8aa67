package org.apache.spark.sql

/** Test-only view of the session's cache manager, which is `private[sql]`
  * outside this package. */
object CacheProbe {
  def cachedEntries(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
