package org.apache.spark

import org.apache.spark.sql.SparkSession

/** The one Spark-internal call the benchmark needs: wait until every
  * posted listener event has been delivered, so a span dump is complete.
  */
object BenchAccess {
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
