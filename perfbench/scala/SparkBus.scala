package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every event posted so far has reached every listener.
  * Spark keeps the listener bus private to its own packages, so this
  * one-line bridge lives under `org.apache.spark`. The traced run calls
  * it after each op so that per-op listener counts are complete. */
object SparkBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
