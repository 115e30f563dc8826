package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** Test-side view of the session's cache manager (`private[sql]`). */
object CacheProbe {

  /** How many cached plans the session's cache manager holds. */
  def cachedPlans(spark: SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries
}
