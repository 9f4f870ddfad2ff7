package org.apache.spark.sql.vecbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan

/** The few Spark internals the benchmark reads. Lives under
  * `org.apache.spark.sql` because the listener bus and the cache
  * manager's entry count are package-private. */
object SparkInternals {

  /** Blocks until every posted listener event has been delivered, so
    * counters read afterwards cover all work finished so far. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Entries in the session's CacheManager (persisted Datasets). */
  def cachedEntries(spark: SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries

  /** The physical plan a finished action ran (the final adaptive plan). */
  def executedPlan(df: DataFrame): SparkPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.executedPlan
}
