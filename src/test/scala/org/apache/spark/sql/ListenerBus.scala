package org.apache.spark.sql

/** Test access to the driver's asynchronous listener bus, which Spark
  * keeps `private[spark]`: listener events (query executions among
  * them) are delivered on a bus thread some time after the action
  * that posted them returns. */
object ListenerBus {
  /** Blocks until every event posted so far has been delivered. */
  def drain(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()
}
