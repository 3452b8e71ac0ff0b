package org.apache.spark

/** The listener bus is private to Spark; specs that count jobs drain it
  * so every job event of the code under test has reached the listener.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
