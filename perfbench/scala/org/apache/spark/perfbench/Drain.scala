package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every queued listener event has been delivered, so the
  * benchmark's listeners have seen all jobs, stages and streaming
  * progress before their counters are read. The listener bus is
  * `private[spark]`, hence this one-liner's package.
  */
object Drain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
