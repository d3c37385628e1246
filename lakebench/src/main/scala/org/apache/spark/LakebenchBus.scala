package org.apache.spark

/** The listener bus is package-private to Spark; a traced run waits on
  * it so that counters read after an op include every event the op
  * posted.
  */
object LakebenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
