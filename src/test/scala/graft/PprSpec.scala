package graft

import org.scalatest.funsuite.AnyFunSuite

/** q158 personalized PageRank: the integer-quanta iteration pinned
  * against an independent BigInt model on a paper-checkable hand graph
  * (the PipelineOpsSpec discipline for q104), plus the seedless
  * fail-loud contract. Both run the distributed tier (in-process bound
  * 0); LocalRankSpec pins the in-process tier against it.
  */
class PprSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  import queries.TextOps.{PPR_SEED_MOD, PR_Q, PR_TELEPORT_Q, PR_TOL_NUM_Q}

  /** Path graph 10—1—2—3: one seed (10), asymmetric degrees (endpoints
    * 1, middle 2), and a zero-mass frontier that takes two rounds to
    * reach node 3 — exercising exactly the left-join/COALESCE path the
    * uniform-init q104 never hits. */
  private val pairs = Seq((10L, 1L), (1L, 2L), (2L, 3L))

  /** Independent model: adjacency + floor-div arithmetic in BigInt,
    * same stop rule; nothing shared with the Spark implementation. */
  private def localPpr(edges: Seq[(Long, Long)]): Map[Long, BigInt] = {
    val adj = (edges ++ edges.map(_.swap))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val deg   = adj.view.mapValues(v => BigInt(v.length)).toMap
    val seeds = adj.keys.filter(_ % PPR_SEED_MOD == 0).toSet
    val ns    = BigInt(seeds.size)
    var q = adj.keys.map(k =>
      k -> (if (seeds(k)) BigInt(PR_Q) / ns else BigInt(0))).toMap
    val tol = BigInt(PR_TOL_NUM_Q) / ns max BigInt(1)
    var delta = BigInt(Long.MaxValue)
    var rounds = 0
    while (delta > tol) {
      rounds += 1
      assert(rounds <= 200, "local model failed to converge")
      val next = adj.keys.map { x =>
        val sc = adj(x).map(y => q(y) / deg(y)).sum
        val tp = if (seeds(x)) BigInt(PR_TELEPORT_Q) / ns else BigInt(0)
        x -> (tp + (17 * sc) / 20)
      }.toMap
      delta = adj.keys.map(x => (next(x) - q(x)).abs).max
      q = next
    }
    q
  }

  test("pprConverged matches the BigInt model on the hand graph") {
    import s.implicits._
    val df = pairs.toDF("u", "v")
    val got = queries.TextOps.pprConverged(df, localMax = 0)
      .select("doc_id", "q").collect()
      .map(r => r.getLong(0) -> BigInt(r.getLong(1))).toMap
    val want = localPpr(pairs)
    assert(got === want)
    // Shape sanity: mass decays with DISTANCE beyond the seed's
    // neighborhood (2 is closer than 3), and the frontier was reached.
    // Deliberately NOT asserting seed > neighbor: the degree-1 seed
    // sheds ALL its mass to its degree-2 neighbor each round, so the
    // neighbor legitimately holds more at the fixpoint (it does here).
    assert(got(10L) > got(2L) && got(1L) > got(2L) && got(2L) > got(3L))
    assert(got(3L) > 0, "the frontier must have been reached")
  }

  test("a seedless graph fails loud, not all-zero") {
    import s.implicits._
    val df = Seq((1L, 2L), (2L, 3L)).toDF("u", "v")
    val e = intercept[IllegalStateException] {
      queries.TextOps.pprConverged(df, localMax = 0).collect()
    }
    assert(e.getMessage.contains("no seed nodes"))
  }
}
