package org.apache.spark

/** Reaches the package-private listener bus so the benchmark's tracer
  * can wait until every posted event has been delivered: the trace is
  * attributed at span boundaries after a full drain, never by sleeping
  * or by matching time windows.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
