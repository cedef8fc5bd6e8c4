package org.apache.spark.sql

/** Number of CacheManager entries, for specs that check a scope leaves
  * the cache as it found it (the count is visible only inside
  * org.apache.spark.sql).
  */
object CacheEntries {
  def count(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
