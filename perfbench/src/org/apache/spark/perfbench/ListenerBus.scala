package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is internal to Spark; the benchmark needs one call on
  * it, to wait until every event of a traced op has reached its listeners.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
