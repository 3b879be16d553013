package org.apache.spark.graftprobe

import org.apache.spark.SparkContext

/** Block until the listener bus has delivered every event posted so far,
  * so `statusTracker` reflects every job that has already run.
  * `waitUntilEmpty` is package-private to Spark, hence this package.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
