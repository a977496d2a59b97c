package org.apache.spark

/** Lets the benchmark wait until its listener has seen every event posted
  * so far, so counters read after a span are complete. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
