package org.apache.spark

/** The one package-private hook the traced run needs: wait until every
  * queued listener event is delivered, so the per-op breakdown sees all
  * jobs of the timed phase.
  */
object WirebenchShim {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
