package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * listener's counts read after an action include that action's events.
  * The bus is package-private to Spark; this is the one reach into it. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
