package org.apache.spark

/** The listener bus's drain is `private[spark]`; job-counting specs need
  * every job event of the measured call delivered before they read. */
object TestListeners {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
