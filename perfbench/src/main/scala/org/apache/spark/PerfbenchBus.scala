package org.apache.spark

/** Bridge to the `private[spark]` listener bus: the benchmark drains it
  * after an operation so every job, stage, task and query-execution event
  * of that operation has been delivered before it is attributed.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
