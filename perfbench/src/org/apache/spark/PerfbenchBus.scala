package org.apache.spark

/** Waits until Spark's listener bus has delivered every event posted so far,
  * so counters read at a span boundary include the work the span caused.
  * The bus is package-private, hence this one-line bridge.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
