package org.apache.spark

/** Access to the scheduler's listener bus, which Spark keeps
  * package-private: the traced run waits for queued stage and task
  * events to reach its listener before it reads the per-phase totals.
  */
object FlowBenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
