package org.apache.spark.sql.graft

/** The number of entries in the session's cache manager — `private[sql]`
  * state the leak specs compare before and after a call.
  */
object CacheEntries {
  def count(spark: org.apache.spark.sql.SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries
}
