package org.apache.spark

/** The listener bus drain is `private[spark]`; the traced run needs it to
  * detach its listeners without losing events still queued. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
