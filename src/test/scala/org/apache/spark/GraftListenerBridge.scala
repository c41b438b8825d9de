package org.apache.spark

/** `SparkContext.listenerBus` is private[spark]; this is the one place the
  * test tree reaches it, for [[graft.ScopedStageListener]]'s drain. */
object GraftListenerBridge {
  /** Block until every event posted to the async listener bus so far has
    * reached every listener; throws `TimeoutException` after `timeoutMillis`. */
  def drain(sc: SparkContext, timeoutMillis: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMillis)
}
