package org.apache.spark

/** Listener events reach listeners asynchronously. The harness reads its
  * listeners' counters only at pass and entry boundaries, off the clock,
  * and must first see every event the finished work posted; the bus drain
  * that guarantees it is package-private to Spark, hence this one accessor.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
