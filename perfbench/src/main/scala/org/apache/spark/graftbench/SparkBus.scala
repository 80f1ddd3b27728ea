package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Spark's listener bus is package-private; the traced pass needs to wait
  * until every event of an operation has been delivered before it reads
  * the trace. */
object SparkBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
