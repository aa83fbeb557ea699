package org.apache.spark.perfbenchaccess

import org.apache.spark.SparkContext

/** The listener bus drain is private to Spark; the tracer needs it so
  * that every event of a traced round is counted before the round's
  * figures are read. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
