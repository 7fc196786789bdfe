package org.apache.spark

/** The one listener-bus call Spark keeps package private: block until
  * every posted event reached the listeners, so span counters are complete
  * before they are read and no queued event is counted as live heap.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
