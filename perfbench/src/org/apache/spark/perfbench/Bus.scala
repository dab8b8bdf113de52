package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the driver's listener bus, which Spark keeps package-private.
  * Listener events are delivered asynchronously; draining the bus before
  * reading counts makes every event of a finished call visible, so a span's
  * counts never leak into the next span. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
