package org.apache.spark

/** The listener bus is package-private; the benchmark waits on it so every
  * event of a run is counted before the run's counters are written. */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
