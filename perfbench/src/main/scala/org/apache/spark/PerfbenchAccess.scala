package org.apache.spark

/** The one scheduler internal the benchmark needs: waiting until the
  * listener bus has delivered every posted event, so an op's jobs,
  * executions and micro-batches are all recorded before the next op
  * starts. Lives in Spark's package because the bus is package-private. */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
