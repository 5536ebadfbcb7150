package org.apache.spark

/** Listener events reach listeners asynchronously. The benchmark
  * attributes events to the op that caused them, so it waits for the
  * bus to empty before it reads its counters; the wait is Spark-private. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
