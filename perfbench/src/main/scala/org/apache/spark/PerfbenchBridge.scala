package org.apache.spark

/** The one Spark-internal call the tracer needs: wait until every event
  * posted so far has reached the listeners, so per-operation counters
  * are read after, not during, their delivery. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
