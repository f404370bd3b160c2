package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * a listener's tallies are read only after every posted event reached it. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
