package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus is spark-private; waiting for it to empty makes every
  * event of a finished pass visible to the benchmark's listeners. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
