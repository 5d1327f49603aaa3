package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Waits until every listener event posted so far has been delivered, so a
  * listener read after an action has seen all of the action's stages.
  * (The listener bus is package-private to Spark, hence this package.)
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
