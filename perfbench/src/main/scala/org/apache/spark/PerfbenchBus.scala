package org.apache.spark

/** Access to the `private[spark]` listener-bus drain: the traced run
  * attributes listener events to the op that was running, which needs
  * every event of one op delivered before the next op starts. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
