package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession

/** Test access to the number of entries in Spark's cache manager, lazy
  * ones (registered, no blocks yet) included.
  */
object CachedEntries {
  def count(s: SparkSession): Int = s.sharedState.cacheManager.numCachedEntries
}
