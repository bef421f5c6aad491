package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** Test access to the number of cached plans, which CacheManager keeps
  * `private[sql]`. */
object CacheBridge {
  def entries(s: SparkSession): Int =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries
}
