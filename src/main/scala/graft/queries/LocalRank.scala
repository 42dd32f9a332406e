package graft.queries

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import TextOps.{PR_Q, PR_TELEPORT_Q, PR_TOL_NUM_Q}

/** The in-process tier of `TextOps.seededWalk`, the one damped walk
  * behind q104's PageRank (every node a seed) and q158's personalized
  * PageRank (the seeds doc_id ≡ 0 mod 10).
  *
  * The distributed tier (`TextOps.converge2`) pays one Spark job per
  * few rounds — ~125 ms of scheduling each — whatever the graph size,
  * and the similarity graphs these queries iterate run from a few dozen
  * pairs at sf0.01 to ~286k at sf1. Up to [[LocalMaxPairs]]
  * pairs the whole fixpoint therefore runs in the driver instead: the
  * cut pair list is collected ONCE (the gate, [[collectBounded]]), the
  * walk iterates over dense arrays, and the result comes back as a
  * LocalRelation. Above the bound the gate stops after `max + 1` rows
  * and the distributed tier runs unchanged — it stays the only path for
  * large graphs.
  *
  * The tiers are bit-identical, not merely close: the iteration is the
  * same integer-quanta arithmetic (Java `/` on non-negative longs is
  * Spark's `div`; `Math.*Exact` throws where ANSI Spark would), over the
  * same symmetrized edge multiset (duplicates kept, as `unionByName`
  * keeps them) and the same seeds (`seededWalk` derives the mask handed
  * to [[Graph.converge]] and the distributed `seed` column from one
  * rule), with the same tolerance, first-round-under-tolerance stop and
  * fail-loud cap message. LocalRankSpec pins both tiers against each
  * other. */
private[graft] object LocalRank {

  /** Pair-count bound of the in-process tier, set by driver heap, not
    * speed. Measured with `LocalRankBound` (synthetic graphs at sf1's
    * 5.5 pairs per node, local[4], 3 GB heap, 4-vCPU host), q104/q158
    * end to end:
    *
    * {{{
    *   pairs   in-process   distributed   gate over   held heap
    *   2^18    0.8–1.1 s    11–13 s       0.15 s      49–51 MB
    *   286k    0.9 s        14–17 s       0.18 s      52–57 MB   (sf1)
    *   2^19    1.6–2.2 s    14–17 s       0.35 s      88–99 MB
    *   2^20    4.0 s        23–30 s       0.49 s      166–188 MB
    *   2^21    8.5–8.9 s    45–51 s       0.85–1.1 s  320 MB
    * }}}
    *
    * The in-process tier is 5–18× faster at every size measured, so
    * the tiers never cross over on time; what grows is the heap the
    * driver holds (the collected rows, the dense graph and the iterate,
    * 160–200 B per pair after a full GC). 2^19 keeps that under
    * ~100 MB and covers sf1's ~286k pairs with 1.8× headroom; above it
    * the distributed tier pays the gate, a read of 2^19 + 1 rows, ~2%
    * of its loop. A
    * plain constant, not a conf: specs pass their own bound (0 forces
    * the distributed tier) the way they pass the unroll factor. */
  val LocalMaxPairs: Int = 1 << 19

  /** The gate: the (u, v) rows of the cut pair list if it holds at most
    * `max` of them, else None ([[Lineage.collectBounded]]: one job, none
    * for a LocalRelation list such as the in-process `jaccardPairs`
    * tier's). */
  def collectBounded(pairs: DataFrame, max: Int): Option[Array[Row]] =
    Lineage.collectBounded(pairs, Seq("u", "v"), max)

  /** The symmetrized graph of a collected pair list: dense node indices
    * in doc_id order, both directions of every pair (so duplicates and
    * degrees match the edge union of `TextOps.seededWalk`'s distributed
    * tier). */
  final class Graph(rows: Array[Row]) {
    private val us = rows.map(_.getLong(0))
    private val vs = rows.map(_.getLong(1))
    private val ends = us ++ vs
    val ids: Array[Long] = ends.distinct.sorted
    private def ix(id: Long) = java.util.Arrays.binarySearch(ids, id)
    private val src = ends.map(ix)
    private val dst = (vs ++ us).map(ix)
    val deg: Array[Long] = new Array[Long](ids.length)
    src.foreach(i => deg(i) += 1)

    /** The damped walk restarting into the nodes flagged in `restart`
      * (every node for PageRank, the seeds for PPR), run to convergence:
      * `converge2`'s iteration with |S| = the restart-set size. Init
      * puts PR_Q div |S| on each restart node, each round teleports
      * PR_TELEPORT_Q div |S| to it, and the tolerance is
      * max(1, PR_TOL_NUM_Q div |S|). Returns the final quanta per node.
      * The caller rejects an empty restart set on a non-empty graph. */
    def converge(restart: Array[Boolean], cap: Int, tag: String): Array[Long] = {
      val n = ids.length
      if (n == 0) return Array.emptyLongArray
      val ns = restart.count(identity).toLong
      val tolQ = math.max(1L, PR_TOL_NUM_Q / ns)
      val tele = restart.map(r => if (r) PR_TELEPORT_Q / ns else 0L)
      var q = restart.map(r => if (r) PR_Q / ns else 0L)
      var k = 0
      var delta = Long.MaxValue
      while (delta > tolQ) {
        if (k + 1 > cap) throw TextOps.capExceeded(tag, cap, delta, tolQ)
        val sc = new Array[Long](n)
        for (e <- src.indices)
          sc(dst(e)) = Math.addExact(sc(dst(e)), q(src(e)) / deg(src(e)))
        val next = Array.tabulate(n)(i =>
          Math.addExact(tele(i), Math.multiplyExact(17L, sc(i)) / 20))
        delta = next.indices.iterator
          .map(i => Math.absExact(Math.subtractExact(next(i), q(i)))).max
        q = next
        k += 1
      }
      TextOps.logConverged(tag, "in-process", n, k, delta, tolQ)
      q
    }

    /** `converge2`'s output as a LocalRelation: doc_id, deg, n, q — plus
      * seed and ns between n and q when `seed` is given (PPR) — all
      * bigint, with the distributed tier's nullability: doc_id keeps the
      * pair columns', the counts deg and n are non-null, and the
      * division- and sum-derived seed, ns and q are nullable. */
    def frame(pairs: DataFrame, q: Array[Long],
        seed: Option[Array[Boolean]] = None): DataFrame = {
      val n = ids.length.toLong
      val ns = seed.map(_.count(identity).toLong).getOrElse(0L)
      val out = ids.indices.map { i =>
        val seedCols = seed.toSeq.flatMap(s => Seq(if (s(i)) 1L else 0L, ns))
        Row.fromSeq(Seq(ids(i), deg(i), n) ++ seedCols :+ q(i))
      }
      val idNullable = pairs.schema("u").nullable || pairs.schema("v").nullable
      val derived = seed.toSeq.flatMap(_ => Seq("seed", "ns")) :+ "q"
      val nullable = Seq("doc_id" -> idNullable, "deg" -> false,
        "n" -> false) ++ derived.map(_ -> true)
      val schema = StructType(nullable.map { case (c, nl) =>
        StructField(c, LongType, nl) })
      pairs.sparkSession.createDataFrame(
        java.util.Arrays.asList(out: _*), schema)
    }
  }
}
