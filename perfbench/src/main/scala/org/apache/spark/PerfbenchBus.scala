package org.apache.spark

/** Waits until Spark has delivered every queued listener event, so a
  * traced run reads complete job and task records. The listener bus
  * is package-private to Spark, hence this file's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
