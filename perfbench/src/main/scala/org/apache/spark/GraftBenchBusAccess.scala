package org.apache.spark

/** `SparkContext.listenerBus` is package-private; the harness needs it to
  * wait until listeners have seen every event before reading counters. */
object GraftBenchBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
