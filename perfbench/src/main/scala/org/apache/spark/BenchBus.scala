package org.apache.spark

/** Listener events arrive asynchronously; the benchmark drains the bus
  * before it reads its counters, so no job of a finished span is missed.
  * `waitUntilEmpty` is Spark-private, hence this one-line bridge.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
