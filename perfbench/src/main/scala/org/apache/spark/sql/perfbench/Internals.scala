package org.apache.spark.sql.perfbench

import org.apache.spark.sql.SparkSession

/** The two Spark internals the benchmark reads, which Spark scopes to its
  * own packages. */
object Internals {
  /** Block until every listener event posted so far has been delivered. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Query-execution listeners currently registered on the session. */
  def queryListeners(spark: SparkSession): Int =
    spark.listenerManager.listListeners().length
}
