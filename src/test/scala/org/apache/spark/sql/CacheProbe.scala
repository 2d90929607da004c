package org.apache.spark.sql

/** Test accessor for the session's CacheManager entry count
  * (`private[sql]`).
  */
object CacheProbe {
  def cachedEntries(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
