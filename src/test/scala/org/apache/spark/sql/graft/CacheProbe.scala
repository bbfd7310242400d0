package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** Test-side view of the session's CacheManager, whose entry count is
  * private[sql]. */
object CacheProbe {
  def entries(spark: SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries
}
