package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** Test access to Spark state that is private to Spark. */
object SparkInternals {

  /** Block until every posted event has reached every listener. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Entries in the session's cache manager, materialized or not. */
  def cachedEntries(spark: SparkSession): Int = spark.sharedState.cacheManager.numCachedEntries
}
