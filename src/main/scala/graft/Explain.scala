package graft
import java.io.PrintStream
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

/** Dev tool: show the plans of catalog queries, and where they spend
  * their stages.
  * Usage: runMain graft.Explain <sfDir> [q1,q2,...] [exec|stages]
  *
  * Each query prints a `========== <name> ==========` header (the
  * section marker tools/plan_audit.py splits on), then by mode:
  *   - default: the formatted physical plan, without running the query —
  *     the brief's ".explain the plan and iterate until it's the plan
  *     you'd want" in one command;
  *   - `exec`: run the query, then print the FINAL adaptive plan — the
  *     only place AQE's runtime rewrites (ReusedExchange dedup, broadcast
  *     demotion, skew splits) are visible; the static plan duplicates
  *     common subtrees that execution actually shares;
  *   - `stages`: build and run the query twice, cold and then warm
  *     (memos and caches filled). Each run prints its wall time, its
  *     Spark jobs split into construction (building the DataFrame) and
  *     execution (the noop write), and its 12 longest stages with task
  *     count and summed task run time; then comes the `exec` output.
  *     A plan can look right and still run its heavy stage on 2 tasks
  *     (the round-15 q78 probe collapse): `wall ≈ runSum/tasks` with a
  *     tiny task count is the signature, invisible in a plan.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Sessions.local(4)
    val names = args.lift(1).map(_.split(",").toSeq)
      .getOrElse(SparkEntry.queries.keys.toSeq.sorted)
    run(spark, sfDir, names, args.lift(2).getOrElse("plan"), System.out)
    spark.stop()
  }

  private[graft] def run(spark: SparkSession, sfDir: String,
      names: Seq[String], mode: String, out: PrintStream): Unit = {
    def build(n: String): DataFrame = SparkEntry.queries(n)(spark, sfDir)
    def finalPlan(n: String): Unit = {
      val df = build(n)
      df.collect()
      out.println(df.queryExecution.executedPlan.toString)
    }
    names.foreach { n =>
      out.println(s"\n========== $n ==========")
      mode match {
        case "exec" => finalPlan(n)
        case "stages" =>
          Seq("cold", "warm").foreach(stages(spark, n, _, build(n), out))
          finalPlan(n)
        case "plan" => out.println(
          build(n).queryExecution.explainString(FormattedMode))
        case other => throw new IllegalArgumentException(
          s"unknown mode '$other' (exec or stages)")
      }
    }
  }

  /** Builds `df` and runs it to a noop sink (Bench's sink), then prints
    * the wall time of both, the Spark jobs each started, and the longest
    * stages. */
  private def stages(spark: SparkSession, name: String, tag: String,
      df: => DataFrame, out: PrintStream): Unit = {
    val sc = spark.sparkContext
    // (stage id, wall ms, tasks, summed task run time ms)
    val done = new ConcurrentLinkedQueue[(Int, Long, Int, Long)]
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val wall = (for {a <- i.completionTime; b <- i.submissionTime}
          yield a - b).getOrElse(-1L)
        done.add((i.stageId, wall, i.numTasks, i.taskMetrics.executorRunTime))
      }
    }
    GraftListenerDrain.drain(sc)
    sc.addSparkListener(l)
    val (secs, construct) = try {
      val t0 = System.nanoTime()
      val built = df
      GraftListenerDrain.drain(sc)
      val construct = jobs.get
      built.write.format("noop").mode("overwrite").save()
      val secs = (System.nanoTime() - t0) / 1e9
      GraftListenerDrain.drain(sc)
      (secs, construct)
    } finally sc.removeSparkListener(l)
    val total = jobs.get
    out.println(f"[probe] $name $tag total $secs%.2f s jobs $total " +
      s"(construct $construct, exec ${total - construct})")
    done.asScala.toVector.sortBy(-_._2).take(12)
      .foreach { case (id, w, t, run) =>
        out.println(f"[stage] id=$id%-4d wall=${w / 1000.0}%8.2fs " +
          f"tasks=$t%-4d runSum=${run / 1000.0}%8.2fs")
      }
  }
}
