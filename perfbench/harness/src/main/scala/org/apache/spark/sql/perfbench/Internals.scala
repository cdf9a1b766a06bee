package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** The two Spark internals the harness reads, which Spark keeps
  * package-private: the listener bus, drained so that every job, stage
  * and progress event of a query is recorded before its counters are
  * read, and the number of cached relations. */
object Internals {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  def cachedEntries(spark: SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries
}
