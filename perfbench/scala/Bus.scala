package org.apache.spark.perfbenchbus

import org.apache.spark.SparkContext

/** Waits until Spark's listener bus has delivered every posted event, so
  * the benchmark's listeners have seen all of a window before it is cut.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
