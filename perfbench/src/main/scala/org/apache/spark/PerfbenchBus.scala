package org.apache.spark

/** Access to the package-private listener bus: `drain` returns once
  * every event posted so far has reached every listener. Spark posts a
  * job's `SparkListenerJobEnd` before it releases the action that waits
  * on the job, so after an action returns, one drain delivers all of
  * that action's job and stage events. */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
