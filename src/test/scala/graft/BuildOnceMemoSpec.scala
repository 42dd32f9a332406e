package graft

import java.io.File
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.{BuildOnceMemo, Sinks, TextOps}

/** Pins the BuildOnceMemo concurrency contract (VERDICT r12 "what's
  * wrong" #3): a first-touch race must run the build EXACTLY once. The
  * memo stores lazy holders, so TrieMap.getOrElseUpdate racing two
  * callers can at worst instantiate two free holders — every caller
  * forces the one stored holder, whose lazy val serializes the build.
  * Before the fix this test flaked (build count 2 under the latch
  * barrier); now the count is deterministic. */
class BuildOnceMemoSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark

  /** `body` run on `n` threads released at once; their results. */
  private def race[A](n: Int)(body: => A): Seq[A] = {
    val ready = new CountDownLatch(n)
    val go = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(n)
    try {
      val futs = (1 to n).map { _ =>
        pool.submit(new java.util.concurrent.Callable[A] {
          def call(): A = { ready.countDown(); go.await(); body }
        })
      }
      assert(ready.await(10, TimeUnit.SECONDS))
      go.countDown()
      futs.map(_.get(30, TimeUnit.SECONDS))
    } finally pool.shutdownNow()
  }

  test("concurrent first touch builds exactly once, all callers share it") {
    val memo = new BuildOnceMemo[String]("memospec")
    val builds = new AtomicInteger(0)
    val results = race(8) {
      memo.getOrBuild(s, "/dev/null/same-dir") {
        // deliberately slow build so racers overlap the window
        Thread.sleep(50)
        s"artifact-${builds.incrementAndGet()}"
      }
    }
    assert(builds.get() === 1, "build ran more than once under the race")
    assert(results.distinct === Seq("artifact-1"),
      "some caller observed a non-winning artifact")
  }

  test("q114: eight concurrent first builds on one session write one index") {
    // a fresh session: the memo has no index for it whatever ran before
    val session = s.newSession()
    val dir = "/root/testdata/sf0.001"
    val base = new File(Sinks.runPaths.path("graft_simhash_index"))
    val prefix = base.getName + "_" + Integer.toHexString(dir.hashCode) + "_"
    def indexes(): Set[String] =
      Option(base.getParentFile.list()).getOrElse(Array.empty[String])
        .filter(_.startsWith(prefix)).toSet
    val before = indexes()
    race(8)(TextOps.queries("q114_incremental_dedup")(session, dir))
    val made = indexes() -- before
    assert(made.size === 1, s"index dirs written: $made")
  }

  test("distinct dirs build independently; repeat access hits the memo") {
    val memo = new BuildOnceMemo[String]("memospec2")
    val builds = new AtomicInteger(0)
    def get(dir: String) =
      memo.getOrBuild(s, dir)(s"a-${builds.incrementAndGet()}")
    assert(get("d1") === "a-1")
    assert(get("d2") === "a-2")
    assert(get("d1") === "a-1") // memo hit, no rebuild
    assert(builds.get() === 2)
  }

  test("nextPath is unique per build even for the same dir") {
    val memo = new BuildOnceMemo[String]("memospec3")
    val p1 = memo.nextPath("d")
    val p2 = memo.nextPath("d")
    assert(p1 !== p2)
  }
}
