package org.apache.spark

/** Same-package access to the listener bus, so the benchmark can wait for
  * every queued event of one operation before it closes that operation's
  * measurement window. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty(60000L)
    catch { case _: java.util.concurrent.TimeoutException => () }
}
