package org.apache.spark

/** Waits until every listener event posted so far is delivered, so a
  * spec reading a SparkListener's counters after an action sees them all
  * (the listener bus is package-private). */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
