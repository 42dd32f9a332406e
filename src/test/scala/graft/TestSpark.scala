package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.GraftListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.SparkSession

/** Shared test session — one JVM-wide session built as Verify and Bench
  * build theirs ([[Sessions.local]]) on 4 cores. */
object TestSpark {
  lazy val spark: SparkSession = Sessions.local(4)

  private val tempDirs = {
    val q = new ConcurrentLinkedQueue[Path]
    sys.addShutdownHook(q.forEach(d => FileUtils.deleteQuietly(d.toFile)))
    q
  }

  /** A fresh directory under java.io.tmpdir named `prefix` plus a random
    * suffix, deleted with its contents when the test JVM exits. */
  def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    tempDirs.add(d)
    d
  }

  /** Runs `body` with `l` listening on the shared session (the listener
    * bus drained before returning, so late events are not missed). */
  private def listening(l: SparkListener)(body: => Unit): Unit = {
    val sc = spark.sparkContext
    GraftListenerDrain.drain(sc)
    sc.addSparkListener(l)
    try { body; GraftListenerDrain.drain(sc) }
    finally sc.removeSparkListener(l)
  }

  /** Calls `f` on each Spark job started on the shared session while
    * `body` runs. */
  private def onJobStart(body: => Unit)(f: SparkListenerJobStart => Unit)
      : Unit =
    listening(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = f(e)
    })(body)

  /** The stages that completed on the shared session while `body` runs
    * (a skipped stage never runs, so it is not among them). */
  def stagesOf(body: => Unit): Seq[StageInfo] = {
    val done = new ConcurrentLinkedQueue[StageInfo]
    listening(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        done.add(e.stageInfo)
    })(body)
    done.asScala.toSeq
  }

  /** Spark jobs started on the shared session while `body` runs. */
  def jobsOf(body: => Unit): Int = {
    val n = new AtomicInteger
    onJobStart(body)(_ => n.incrementAndGet())
    n.get
  }

  /** The stage names (`parquet at Tables.scala:24`) of the Parquet
    * schema-inference jobs `body` starts outside `graft.queries.Sinks`,
    * whose format round trips read back on inference on purpose. Such a
    * job's callsite is a schema-less `DataFrameReader.parquet`: the top
    * frame of its stage details, with the caller on the next line. */
  def inferenceJobsOf(body: => Unit): Seq[String] = {
    val found = new ConcurrentLinkedQueue[String]
    onJobStart(body) { e =>
      val stage = e.stageInfos.maxBy(_.stageId)
      val frames = stage.details.linesIterator.take(2).toSeq
      if (frames.headOption.exists(_.contains("DataFrameReader.parquet(")) &&
          !frames.lift(1).exists(_.startsWith("graft.queries.Sinks")))
        found.add(stage.name)
    }
    found.asScala.toSeq
  }
}
