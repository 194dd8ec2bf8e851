package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Drains the asynchronous listener bus, so that every job and task event of
  * work that already finished has reached the benchmark's listener.
  * `SparkContext.listenerBus` is `private[spark]`, hence this package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
