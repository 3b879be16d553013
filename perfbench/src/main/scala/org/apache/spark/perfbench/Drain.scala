package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every listener event posted so far has been delivered, so
  * the counts a listener holds belong to the operation that just ended.
  * `waitUntilEmpty` is package-private to Spark, hence this package.
  */
object Drain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
