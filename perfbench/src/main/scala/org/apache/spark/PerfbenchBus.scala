package org.apache.spark

/** Waits until every posted listener event has been delivered. Lives in
  * Spark's package because the drain call is package-private; the traced
  * run needs it so a pass's last job and query events land in that pass. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
