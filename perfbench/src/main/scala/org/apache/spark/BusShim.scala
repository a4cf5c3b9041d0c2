package org.apache.spark

/** Reaches the listener bus, which is private to Spark, so the benchmark
  * can wait for every posted event to be delivered before it reads the
  * counts its listeners collected.
  */
object BusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
