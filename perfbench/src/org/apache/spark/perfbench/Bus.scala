package org.apache.spark.perfbench

import org.apache.spark.sql.SparkSession

/** Access to the listener bus, which Spark keeps package-private. */
object Bus {

  /** Block until every posted event has reached every listener, the
    * query-execution listeners included (they hang off the same bus). */
  def drain(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
