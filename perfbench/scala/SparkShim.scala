package org.apache.spark

/** Bridge to the two package-private driver services the benchmark needs:
  * a deterministic drain of the listener bus (so counters are read only
  * after every posted event has been delivered, never after a sleep) and
  * a hook on the context cleaner (so checkpoint residue is read only after
  * the cleaner has processed what a GC released). */
object PerfbenchShim {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Calls `onRdd` for each RDD the context cleaner frees; false when the
    * cleaner is disabled. */
  def onRddCleaned(sc: SparkContext)(onRdd: Int => Unit): Boolean =
    sc.cleaner match {
      case Some(c) =>
        c.attachListener(new CleanerListener {
          override def rddCleaned(rddId: Int): Unit = onRdd(rddId)
          override def shuffleCleaned(shuffleId: Int): Unit = ()
          override def broadcastCleaned(broadcastId: Long): Unit = ()
          override def accumCleaned(accId: Long): Unit = ()
          override def checkpointCleaned(rddId: Long): Unit = ()
        })
        true
      case None => false
    }
}
