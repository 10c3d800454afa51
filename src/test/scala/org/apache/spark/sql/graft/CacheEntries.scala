package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** Entries in the session's cache manager, materialized or not (the
  * manager is private to Spark, hence this package).
  */
object CacheEntries {
  def apply(spark: SparkSession): Int = spark.sharedState.cacheManager.numCachedEntries
}
