package org.apache.spark

/** Test-scope access to a SparkContext's listener bus, which Spark keeps
  * package-private: the profiler drains it before it reads its listener,
  * and specs count its listeners to show that nothing was left behind.
  */
object GraftListenerBus {
  def listenerCount(sc: SparkContext): Int = sc.listenerBus.listeners.size

  /** Blocks until every event posted so far has reached its listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
