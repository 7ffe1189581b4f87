package org.apache.spark

/** Wait until every posted listener event has been delivered, so a traced
  * run reads complete job and task metrics (the bus is package-private). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
