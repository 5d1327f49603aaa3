package org.apache.spark.fraudbench

import org.apache.spark.SparkContext

/** Waits until every listener event posted so far has been delivered, so a
  * traced window closes only after the events its work produced arrived.
  * (The listener bus is package-private to Spark, hence this package.)
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
