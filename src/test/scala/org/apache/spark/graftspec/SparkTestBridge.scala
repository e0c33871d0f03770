package org.apache.spark.graftspec

import org.apache.spark.SparkContext

/** The Spark-private hook the specs' job counting needs, reached from
  * Spark's own package. */
object SparkTestBridge {
  /** Block until the listener bus has delivered every event posted so far. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
