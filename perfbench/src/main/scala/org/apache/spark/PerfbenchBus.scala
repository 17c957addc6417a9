package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private. */
object PerfbenchBus {

  /** Block until every posted event has reached every listener; throws
    * `java.util.concurrent.TimeoutException` after `timeoutMs`.
    */
  def waitUntilEmpty(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
