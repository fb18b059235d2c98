package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so a
  * trace can attribute all of an operation's events to it. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
