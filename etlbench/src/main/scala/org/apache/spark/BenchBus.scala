package org.apache.spark

/** Lets the benchmark wait until every listener event posted so far has
  * been delivered, so the counters of one op are complete before the
  * next op starts (the listener bus is asynchronous). */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
