package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Flushes the asynchronous listener bus, so a trace taken after an
  * operation has seen every job, stage, task and query event of it.
  * `LiveListenerBus.waitUntilEmpty()` is `private[spark]`; this accessor
  * lives under the Spark package namespace for that reason. */
object BusWait {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
