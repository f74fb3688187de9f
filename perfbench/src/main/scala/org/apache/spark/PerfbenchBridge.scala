package org.apache.spark

/** The one Spark-internal call the benchmark needs: listener events
  * arrive asynchronously, so a traced run drains the bus before it
  * attributes jobs and queries to the spans that issued them. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
