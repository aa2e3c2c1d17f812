package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession

/** The number of Datasets registered in a session's cache manager
  * (`numCachedEntries` is private[sql]).
  */
object CacheEntries {
  def count(spark: SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries
}
