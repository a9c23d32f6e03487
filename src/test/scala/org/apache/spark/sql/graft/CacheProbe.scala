package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** The number of frames the cache manager holds (shared by every session
  * of a context); the count is private[sql]. */
object CacheProbe {
  def entries(spark: SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries
}
