package org.apache.spark

/** Blocks until every event posted so far has reached every listener, so
  * the per-layer counters are complete before they are written out.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
