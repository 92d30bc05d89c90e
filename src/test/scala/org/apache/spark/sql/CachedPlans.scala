package org.apache.spark.sql

/** How many plans the session's `CacheManager` holds — its count is
  * `private[sql]`, hence this package.
  */
object CachedPlans {
  def count(spark: SparkSession): Int = spark.sharedState.cacheManager.numCachedEntries
}
