package org.apache.spark

/** The listener bus is private to Spark; the benchmark drains it so that
  * every job, stage and task event of a pass is counted before the pass
  * is summed.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
