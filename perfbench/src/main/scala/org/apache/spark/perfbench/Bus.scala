package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus drain is private to Spark; this object lives in
  * Spark's package only to reach it. Metrics read after a drain have
  * seen every event posted before it. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
