package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so a
  * traced run reads complete listener counts. (The bus is package-private
  * to Spark.) */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
