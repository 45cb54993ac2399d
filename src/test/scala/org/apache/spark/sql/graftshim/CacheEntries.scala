package org.apache.spark.sql.graftshim

import org.apache.spark.sql.SparkSession

/** Number of entries in a session's `CacheManager`, whose count is
  * `private[sql]`; the specs use it to prove that a call leaves no
  * cached plan behind.
  */
object CacheEntries {
  def apply(spark: SparkSession): Int = spark.sharedState.cacheManager.numCachedEntries
}
