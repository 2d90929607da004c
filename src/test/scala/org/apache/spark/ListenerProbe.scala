package org.apache.spark

/** Test accessor for the listener bus (`private[spark]`): returns once
  * every event posted so far has reached the listeners.
  */
object ListenerProbe {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
