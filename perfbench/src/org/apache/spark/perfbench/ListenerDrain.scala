package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events arrive asynchronously; the benchmark reads its
  * listener's totals only after every queued event is delivered. The bus's
  * barrier is private to the `org.apache.spark` package, hence this
  * re-export. */
object ListenerDrain {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
