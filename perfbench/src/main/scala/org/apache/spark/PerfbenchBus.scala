package org.apache.spark

/** Drains the listener bus, so listener counts are complete before the
  * benchmark reads them (`listenerBus` is package-private to Spark). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
