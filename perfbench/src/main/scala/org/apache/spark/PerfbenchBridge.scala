package org.apache.spark

/** Reaches the one `private[spark]` hook the harness needs: blocking until
  * the driver's listener bus has delivered every event posted so far, so a
  * traced phase's jobs, stages and query-execution callbacks are all
  * attributed before the next phase begins. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)
}
