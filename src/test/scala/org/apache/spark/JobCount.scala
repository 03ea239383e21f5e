package org.apache.spark

/** Counts the Spark jobs a block submits from the calling thread. Lives in
  * Spark's package because draining the listener bus is package-private:
  * the status tracker is fed from that bus, so reading it before the drain
  * could miss the block's last jobs. */
object JobCount {
  def apply[T](sc: SparkContext)(body: => T): (T, Int) = {
    val group = s"job-count-${java.util.UUID.randomUUID}"
    sc.setJobGroup(group, group)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, sc.statusTracker.getJobIdsForGroup(group).length)
    } finally sc.clearJobGroup()
  }
}
