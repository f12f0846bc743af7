package org.apache.spark

/** The one Spark-internal call the harness needs: block until the
  * listener bus has delivered every posted event, so listener-derived
  * counts are complete before they are read.
  */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
