package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** Test bridge into the `private[sql]` count of the session's cache
  * entries (one per registered `cache()`/`persist()` plan).
  */
object CacheEntries {
  def count(spark: SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries
}
