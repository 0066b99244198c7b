package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously; attributing them to the
  * query that caused them needs the bus drained before the next query
  * starts. `listenerBus` is private to the spark package, hence this
  * package. */
object Drain {
  def apply(sc: SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty(10000L)
    catch { case _: java.util.concurrent.TimeoutException => () }
}
