package org.apache.spark

/** Accessor for the listener bus (`private[spark]`): returns once every
  * event posted so far has reached the listeners, so a listener's
  * counts are complete for the work that already ran.
  */
object ListenerProbe {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
