package org.apache.spark

/** Blocks until every event posted to the listener bus so far has been
  * delivered, so the benchmark's listeners hold the whole run before it
  * writes its record. */
object PerfbenchListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
