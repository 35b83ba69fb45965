package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus's drain is `private[spark]`; this accessor lives inside
  * the spark package tree so the benchmark can read task metrics only after
  * every event of a finished job has been delivered.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
