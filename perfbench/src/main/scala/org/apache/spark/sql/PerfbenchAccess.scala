package org.apache.spark.sql

/** The Spark internals the benchmark's tracer reads. */
object PerfbenchAccess {
  /** Block until the listener bus has delivered every posted event. */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Relations registered with the session's CacheManager. */
  def cachedEntries(spark: SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries

  /** `QueryExecution.id` of an ended SQL execution, if it carries one. */
  def queryIdOf(e: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd): Option[Long] =
    Option(e.qe).map(_.id)
}
