package org.apache.spark

/** The one Spark-internal call the benchmark needs: listener events arrive
  * asynchronously, so per-pass task statistics are read only after the
  * listener bus has delivered every event of the pass.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
