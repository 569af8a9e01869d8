package org.apache.spark

/** The one non-public hook the benchmark uses: listener events are
  * delivered asynchronously, so a traced window is read only after the
  * bus has delivered every event its actions posted. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
