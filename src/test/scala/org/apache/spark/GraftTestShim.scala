package org.apache.spark

/** Test bridge to the package-private listener bus: returns once every
  * event posted so far has been delivered to every listener, so specs read
  * listener state without sleeping. */
object GraftTestShim {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
