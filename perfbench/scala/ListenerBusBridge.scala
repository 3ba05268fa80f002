package org.apache.spark

/** Lets the benchmark wait until the listener bus has delivered every
  * event posted so far (`SparkContext.listenerBus` is `private[spark]`),
  * so per-layer totals are read only after the last task's metrics land.
  */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
