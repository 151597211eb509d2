package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus drain, which Spark keeps package-private: attribution
  * reads the listener's records only after every posted event has been delivered.
  */
object ListenerBus {
  def drain(sc: SparkContext, timeoutMs: Long = 10000): Unit = sc.listenerBus.waitUntilEmpty(timeoutMs)
}
