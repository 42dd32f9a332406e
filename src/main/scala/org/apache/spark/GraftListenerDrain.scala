package org.apache.spark

/** Measurement shim (used by graft.TestSpark.jobsOf and graft.Explain's
  * `stages` mode, never by catalog queries): SparkListener events are
  * delivered asynchronously on the listener bus, so a harness that reads
  * per-run stage or job totals right after an action can mis-attribute
  * late events to the next run. LiveListenerBus exposes exactly the
  * needed barrier — waitUntilEmpty — but it is private[spark]; this
  * object lives in the org.apache.spark package solely to re-export it. */
object GraftListenerDrain {
  /** Block until every queued listener event has been delivered (or the
    * timeout elapses — waitUntilEmpty throws TimeoutException then,
    * which a measurement run SHOULD surface rather than print skewed
    * totals). */
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
