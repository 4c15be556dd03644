package org.apache.spark.sql

/** The two package-private Spark members the benchmark reads, declared
  * inside Spark's package so the compiler admits the access. Neither is
  * used on a timed path of an untraced run. */
object PerfbenchBridge {

  /** Block until every queued listener event has been delivered, so the
    * traced run can close an op's books before the next op starts. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(60000L)

  /** Entries in the session's CacheManager (persisted Datasets). */
  def cachedEntries(spark: SparkSession): Int = spark match {
    case cs: classic.SparkSession => cs.sharedState.cacheManager.numCachedEntries
    case _ => -1
  }
}
