package org.apache.spark.sql

/** Test access to the session's cache registry (package-private in Spark). */
object CacheEntries {
  /** Number of cached query plans, materialized or not. */
  def count(spark: SparkSession): Int = spark.sharedState.cacheManager.numCachedEntries
}
