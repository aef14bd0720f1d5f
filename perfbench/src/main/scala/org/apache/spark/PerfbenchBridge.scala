package org.apache.spark

/** Re-exports the `private[spark]` listener-bus drain so the traced run
  * can read every job, stage and query-execution event of an operation
  * before the next one starts. Keep this file free of any logic -- it
  * exists only to re-export access. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
