package perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._

import perfbench.Json.Raw

/** Attributes every tagged Spark job, and the work of its tasks, to the
  * query call and phase that submitted it.
  *
  * The harness sets two local properties before each phase of a traced
  * call; Spark copies them into each job's properties, including jobs that
  * SQL runs on its own threads. Untagged jobs (warm-up, untraced passes,
  * the correctness pass) are ignored. Events arrive on the listener bus's
  * single thread; the harness drains the bus before reading [[jobSpans]].
  */
final class PhaseListener extends SparkListener {
  import PhaseListener._

  private final class Job(val span: String, val phase: String,
      val start: Long, val stageIds: Seq[Int]) {
    var end = 0L
    var succeeded = false
    val counts =
      mutable.LinkedHashMap[String, Double](Counters.map(_ -> 0.0): _*)
    def add(k: String, v: Double): Unit = counts(k) += v
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Job]
  private val stageSubmitted = mutable.HashMap.empty[Int, Long]
  private val stageFirstLaunch = mutable.HashMap.empty[Int, Long]
  private val ran = mutable.HashSet.empty[Int]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p =>
      Option(p.getProperty(SpanKey)).map(_ -> p.getProperty(PhaseKey)))
      .foreach { case (span, phase) =>
        val j = new Job(span, phase, e.time, e.stageIds)
        jobs(e.jobId) = j
        e.stageIds.foreach(id => stageJob.getOrElseUpdate(id, j))
      }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId).foreach { j =>
      j.end = e.time
      j.succeeded = e.jobResult == JobSucceeded
      j.add("stages_skipped", j.stageIds.count(id => !ran(id)).toDouble)
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageJob.get(e.stageInfo.stageId).foreach { j =>
      ran += e.stageInfo.stageId
      j.add("stages", 1)
      e.stageInfo.submissionTime
        .foreach(stageSubmitted(e.stageInfo.stageId) = _)
    }

  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    if (stageJob.contains(e.stageId) && !stageFirstLaunch.contains(e.stageId)) {
      stageFirstLaunch(e.stageId) = e.taskInfo.launchTime
      stageSubmitted.get(e.stageId).foreach(s =>
        stageJob(e.stageId).add("sched_wait_s",
          math.max(0L, e.taskInfo.launchTime - s) / 1000.0))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stageJob.get(e.stageId).foreach { j =>
      j.add("tasks", 1)
      if (e.reason != Success) j.add("tasks_failed", 1)
      Option(e.taskMetrics).foreach { m =>
        j.add("task_s", m.executorRunTime / 1000.0)
        j.add("task_cpu_s", m.executorCpuTime / 1e9)
        j.add("gc_s", m.jvmGCTime / 1000.0)
        j.add("shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / MB)
        j.add("shuffle_read_mb", (m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead) / MB)
        j.add("spill_mb", m.diskBytesSpilled / MB)
        j.add("input_rows", m.inputMetrics.recordsRead.toDouble)
        j.add("output_mb", m.outputMetrics.bytesWritten / MB)
        j.add("output_rows", m.outputMetrics.recordsWritten.toDouble)
      }
    }

  /** One span per tagged job, child of its phase span. */
  def jobSpans(): Seq[Raw] = jobs.toSeq.map { case (id, j) =>
    val fields = Seq[(String, Any)](
      "trace" -> j.span, "span" -> s"${j.span}/${j.phase}/job$id",
      "parent" -> s"${j.span}/${j.phase}", "kind" -> "job",
      "name" -> j.phase, "job_id" -> id,
      "start_ms" -> j.start.toDouble, "end_ms" -> j.end.toDouble,
      "ok" -> j.succeeded) ++ j.counts.toSeq
    Json.obj(fields: _*)
  }
}

object PhaseListener {
  val SpanKey = "perfbench.span"
  val PhaseKey = "perfbench.phase"
  private val MB = 1048576.0

  /** Per-job counters, each summed over the job's tasks or stages. */
  val Counters: Seq[String] = Seq("stages", "stages_skipped", "tasks",
    "tasks_failed", "task_s", "task_cpu_s", "gc_s", "sched_wait_s",
    "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "input_rows",
    "output_mb", "output_rows")
}
