package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously; a span that reads listener
  * counters waits here first so the events of its own jobs are counted in it.
  * Lives in Spark's package because the bus is Spark-private. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
