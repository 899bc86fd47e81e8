package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously. The traced run reads
  * its counters at query boundaries, so it first waits for the bus to
  * deliver everything posted so far. This is the one non-public Spark
  * member the benchmark touches, and only in traced runs.
  */
object Drain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
