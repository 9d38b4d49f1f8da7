package org.apache.spark

/** Access to Spark's listener-bus drain, which is package-private: the
  * benchmark reads its listener counters only after every event posted
  * so far has been delivered.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
