package graft

import org.apache.spark.GraftListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Shared test session — one JVM-wide session built as Verify and Bench
  * build theirs ([[Sessions.local]]) on 4 cores. */
object TestSpark {
  lazy val spark: SparkSession = Sessions.local(4)

  /** Spark jobs started on the shared session while `body` runs (the
    * listener bus drained before reading, so late events are not missed). */
  def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    GraftListenerDrain.drain(sc)
    sc.addSparkListener(l)
    try { body; GraftListenerDrain.drain(sc) }
    finally sc.removeSparkListener(l)
    n.get
  }
}
