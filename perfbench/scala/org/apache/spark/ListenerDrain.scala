package org.apache.spark

/** The listener bus delivers events asynchronously; counters read before
  * it drains miss the last jobs of a run. `waitUntilEmpty` is
  * package-private to Spark, hence this one-line bridge. */
object ListenerDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
