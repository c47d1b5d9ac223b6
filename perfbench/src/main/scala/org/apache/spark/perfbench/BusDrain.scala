package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Re-exports the one `private[spark]` call the benchmark needs: listener
  * events arrive asynchronously, so per-op counters are read only after
  * every event posted so far has been delivered.
  */
object BusDrain {
  def apply(sc: SparkContext, timeoutMillis: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMillis)
}
