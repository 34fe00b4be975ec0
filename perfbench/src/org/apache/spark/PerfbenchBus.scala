package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * benchmark waits for it to drain before reading listener counts, so
  * the last job of a measured window is never missed. */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 10000L): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMs)
    catch { case _: java.util.concurrent.TimeoutException => () }
}
