package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; the trace is read
  * only after every event posted so far has reached the listeners. */
object BusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
