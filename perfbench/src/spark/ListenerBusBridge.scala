package org.apache.spark

/** The listener bus drains asynchronously; a traced span must not end
  * before the events of the jobs it ran were counted, or they would be
  * charged to the next span. `waitUntilEmpty` is package-private. */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
