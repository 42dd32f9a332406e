package graft

import java.lang.management.ManagementFactory

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.DataFrame
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.exceptions.TestFailedDueToTimeoutException
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

import graft.queries.{Components, TextOps}

/** The distributed loops run repeatedly without hanging the scheduler.
  * A lazy checkpoint mark on loop state once deadlocked a tier-1 run: a
  * broadcast-exchange thread finishing a job inside
  * `RDDCheckpointData.checkpoint` held the checkpoint lock and waited on
  * an RDD's state lock, which the DAG scheduler's event loop held in
  * `getCacheLocs` while waiting on the checkpoint lock. Each run here
  * goes under a time limit on a worker thread, so a hang fails the spec
  * and names the JVM's deadlocked threads instead of stalling the
  * suite. Graph: ConvergeUnrollSpec's path 10—1—2—3 plus the 5-cycle
  * 20…24, read from two partitions; the in-process bound 0 forces
  * PageRank and PPR onto their distributed tier. */
class LoopDeadlockSpec extends AnyFunSuite with TimeLimits {
  private lazy val s = TestSpark.spark
  private implicit val signaler: Signaler = ThreadSignaler
  private val Runs = 10

  private def pairs: DataFrame = {
    import s.implicits._
    Seq((10L, 1L), (1L, 2L), (2L, 3L),
      (1L, 20L), (20L, 21L), (21L, 22L), (22L, 23L), (23L, 24L), (24L, 20L))
      .toDF("u", "v").repartition(2)
  }

  /** The JVM's deadlocked threads, each with the lock it waits on and
    * that lock's owner. */
  private def deadlocked(): String = {
    val mx = ManagementFactory.getThreadMXBean
    val ids = Option(mx.findDeadlockedThreads()).getOrElse(Array.empty[Long])
    if (ids.isEmpty) "none"
    else mx.getThreadInfo(ids).filter(_ != null).map(i =>
      s"'${i.getThreadName}' waits on ${i.getLockName} held by " +
        s"'${i.getLockOwnerName}'").mkString("; ")
  }

  /** `body` on a worker thread, failing the test after 120 s. */
  private def bounded[A](what: String)(body: => A): A = {
    val run = Future(body)(ExecutionContext.global)
    try failAfter(Span(120, Seconds))(Await.result(run, Duration.Inf))
    catch {
      case _: TestFailedDueToTimeoutException =>
        fail(s"$what did not finish in 120 s; deadlocked threads: " +
          deadlocked())
    }
  }

  for ((name, loop) <- Seq[(String, () => Long)](
      "pagerank" -> (() =>
        TextOps.pageRankConverged(pairs, localMax = 0).count()),
      "ppr" -> (() => TextOps.pprConverged(pairs, localMax = 0).count()),
      "star contraction" -> (() =>
        Components.starContractionWithRounds(pairs)._1.count())))
    test(s"$name: $Runs forced-distributed runs, none hangs") {
      val counts = (1 to Runs).map(i => bounded(s"$name run $i")(loop()))
      assert(counts.distinct === Seq(9L), s"$name node counts: $counts")
    }
}
