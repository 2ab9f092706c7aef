package org.apache.spark

/** The listener bus's drain is `private[spark]`; the traced run needs it
  * so every job and task event of a request has arrived before the
  * request's spans are closed. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
