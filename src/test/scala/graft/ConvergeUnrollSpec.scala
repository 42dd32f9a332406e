package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the round-13 convergence-driver contract: the per-job unroll is
  * a pure latency optimization — outputs, stop round (via the returned
  * iterate), and the fail-loud cap are INVARIANT in the unroll factor.
  * The interior-iterate selection (deltas checked in round order; a
  * converged interior round returns THAT round's carried q column) and
  * the cap-clamped step count are exactly the fiddly parts a refactor
  * or Spark upgrade could silently bend; the 1-step run is the
  * reference semantics the oracle's first-round-under-tolerance
  * selection encodes.
  *
  * Graph: PprSpec's path graph 10—1—2—3 plus a 5-cycle (20,21,22,23,24)
  * joined at 1—20 — converges in enough rounds (>8) that every unroll
  * in 1..5 exercises both interior and final-iterate stops across jobs,
  * and includes a second seed (20) so PPR's teleport split is
  * non-trivial.
  *
  * Every run passes the in-process bound 0: this graph is far below
  * `LocalRank.LocalMaxPairs`, and the unroll and cap contracts
  * belong to the distributed tier (`converge2`). LocalRankSpec pins the
  * in-process tier against it. */
class ConvergeUnrollSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark

  private val pairs = Seq(
    (10L, 1L), (1L, 2L), (2L, 3L),
    (1L, 20L), (20L, 21L), (21L, 22L), (22L, 23L), (23L, 24L), (24L, 20L))

  private def prAt(unroll: Int, cap: Int = 200): Map[Long, Long] = {
    import s.implicits._
    queries.TextOps.pageRankConverged(pairs.toDF("u", "v"), cap, unroll,
      localMax = 0)
      .select("doc_id", "q").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  private def pprAt(unroll: Int, cap: Int = 200): Map[Long, Long] = {
    import s.implicits._
    queries.TextOps.pprConverged(pairs.toDF("u", "v"), cap, unroll,
      localMax = 0)
      .select("doc_id", "q").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("pageRankConverged output is invariant in the unroll factor") {
    val ref = prAt(1)
    for (u <- 2 to 5)
      assert(prAt(u) === ref, s"unroll=$u diverged from the 1-step loop")
  }

  test("pprConverged output is invariant in the unroll factor") {
    val ref = pprAt(1)
    for (u <- 2 to 5)
      assert(pprAt(u) === ref, s"unroll=$u diverged from the 1-step loop")
  }

  test("the fail-loud cap triggers at the same boundary for every unroll") {
    // Find the true convergence round with the 1-step loop: the LOWEST
    // cap that succeeds. Caps at/above it succeed at every unroll; the
    // cap one below fails at every unroll — i.e. the clamp never lets a
    // deeper unroll request (or silently use) a round past the cap.
    val full = prAt(1)
    val converged = (9 to 200).find { c =>
      try { prAt(1, c); true }
      catch { case _: IllegalStateException => false }
    }.get
    // The search starts at 9, so prove caps below it really fail: the
    // fixture must span multiple 4-round jobs for the test to bite.
    intercept[IllegalStateException](prAt(1, 8))
    for (u <- 1 to 5) {
      assert(prAt(u, converged) === full,
        s"unroll=$u at cap=$converged should converge to the same result")
      val e = intercept[IllegalStateException](prAt(u, converged - 1))
      assert(e.getMessage.contains(s"within ${converged - 1} iterations"),
        s"unroll=$u threw the wrong cap message")
    }
  }
}
