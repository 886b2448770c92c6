package org.apache.spark

/** The one package-private hook the benchmark needs: wait until every
  * listener event posted so far is delivered, so per-unit counters read
  * after a unit of work are complete. */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
