package org.apache.spark

/** The listener bus's flush is package-private; the traced run needs it
  * so that per-span counts include every event its calls produced.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
