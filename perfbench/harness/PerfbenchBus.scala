package org.apache.spark

/** The listener bus's drain is package-private to Spark; the traced run
  * needs it once, before writing its trace, so every event is recorded.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
