package org.apache.spark

/** Flushes Spark's asynchronous listener bus, so that listener counters read
  * at a span boundary include every task that finished inside the span.
  * The bus is private to Spark; only the traced run calls this. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(10000L)
}
