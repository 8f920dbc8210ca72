package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until Spark's listener bus has delivered every queued event, so
  * listener counters read right after a call include all of its tasks.
  * Lives in an `org.apache.spark` package because the bus is
  * `private[spark]`.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
