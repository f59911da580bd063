package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so
 * listener counts are complete when the runner reads them. */
object RiskbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
