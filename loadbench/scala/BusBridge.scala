package org.apache.spark.loadbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which Spark keeps package-private: the
  * traced run waits for every queued job and task event of an operation
  * to be delivered before it closes that operation's record. */
object BusBridgeImpl {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
