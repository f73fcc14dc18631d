package org.apache.spark

/** The one private-to-Spark call the trace recorder needs: wait until
  * the listener bus has delivered every event posted so far, so the
  * recorded jobs and task metrics are complete before they are read. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
