package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** The number of plans registered in the session's CacheManager
  * (`private[sql]`), for specs that check a frame's cache is released. */
object CacheEntries {
  def count(spark: SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries
}
