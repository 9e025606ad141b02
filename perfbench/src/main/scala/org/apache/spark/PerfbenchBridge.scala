package org.apache.spark

/** The one Spark-internal call the benchmark's tracer needs: listener
  * delivery is asynchronous, so before reading what the listeners saw the
  * traced run waits for the bus to drain (`listenerBus` is package-private
  * to `org.apache.spark`).
  */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
