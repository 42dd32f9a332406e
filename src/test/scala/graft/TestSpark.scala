package graft

import org.apache.spark.GraftListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Shared test session — one JVM-wide session matching the Verify/Bench
  * builder configuration (UTC, nanosAsLong, graft extensions). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

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
