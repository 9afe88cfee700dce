package org.apache.spark

/** The listener bus is package-private; `graft.Main.profile` and the
  * tests wait on it so every event of a finished job has reached their
  * listeners before they read them. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
