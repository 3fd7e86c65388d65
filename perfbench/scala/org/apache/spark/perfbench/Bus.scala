package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the `private[spark]` listener bus: a traced run must read
  * its listener's counters only after every event of the finished jobs
  * has been delivered. Lives under org.apache.spark.* for access scope. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
