package org.apache.spark.sql

/** Test access to the session's cached-relation count, which Spark
  * keeps `private[sql]`. */
object CachedRelations {
  def count(spark: SparkSession): Int = spark.sharedState.cacheManager.numCachedEntries
}
