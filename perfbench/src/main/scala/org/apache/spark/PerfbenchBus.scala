package org.apache.spark

/** Waits until every event posted so far has reached every listener. The
  * listener bus is asynchronous; the traced run drains it before it reads
  * the listeners' counters for a pass. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
