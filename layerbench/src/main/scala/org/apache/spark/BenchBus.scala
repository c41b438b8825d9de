package org.apache.spark

/** Lives in Spark's package to reach the listener bus, which is
  * `private[spark]`: the tracer drains it after every operation so each
  * event is attributed before the next operation starts. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
