package graft

import java.lang.management.ManagementFactory

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}

import graft.queries.{Lineage, LocalRank, TextOps}

/** Sizes the in-process PageRank tier's bound, `LocalRank.LocalMaxPairs`.
  *
  * For each pair count P it builds a synthetic graph — P pairs over
  * P / 5.5 nodes, sf1's pairs-per-node ratio (286k pairs, ~52k nodes),
  * each pair joining a hashed node to one of its 40 ring neighbours so
  * degrees are uneven — and runs q104's and q158's loops
  * on both tiers over the same cut. Per loop it prints:
  *   - `local_s`: the in-process tier end to end (gate collect, loop,
  *     LocalRelation), and `dist_s`: the distributed tier (bound 0);
  *   - `gate_s`: the collect the distributed tier pays when P is just
  *     over the bound (P rows read, then dropped);
  *   - `held_mb`: driver heap the in-process tier holds at once (the
  *     collected rows, the dense graph, the iterate), after a full GC.
  * Rounds are in the tiers' INFO lines (logger `graft.queries`).
  *
  * Run (the figures in `LocalRank.LocalMaxPairs`' doc):
  * `SPARK_DRIVER_MEM=3g sbt "Test/runMain graft.LocalRankBound 262144
  * 286000 524288 1048576 2097152"`. */
object LocalRankBound {
  private def secs[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime
    val a = body
    (a, (System.nanoTime - t0) / 1e9)
  }

  private def usedMb(): Double = {
    System.gc(); System.gc()
    val m = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    m.getUsed / 1048576.0
  }

  private def pairsOf(p: Long): DataFrame = {
    val n = math.max(2L, p * 2 / 11)
    val u = pmod(xxhash64(col("id"), lit(1)), lit(n))
    val off = pmod(xxhash64(col("id"), lit(2)), lit(40L)) + 1
    Lineage.cut(TestSpark.spark.range(p)
      .select(u.as("u"), pmod(u + off, lit(n)).as("v")))
  }

  /** Heap held after a full GC while the in-process tier's driver-side
    * state is alive: the collected rows, the dense graph, the iterate. */
  private def heldWith(pairs: DataFrame, max: Int): Double = {
    val rows = LocalRank.collectBounded(pairs, max).get
    val g = new LocalRank.Graph(rows)
    val q = g.converge(g.ids.map(_ => true), Int.MaxValue, "held")
    val mb = usedMb()
    assert(rows.nonEmpty && q.nonEmpty)
    mb
  }

  private def measure(p: Long, tag: String,
      run: (DataFrame, Int) => DataFrame): Unit = {
    val pairs = pairsOf(p)
    val max = p.toInt
    val (local, localS) = secs(run(pairs, max).collect())
    val held = heldWith(pairs, max) - usedMb()
    val (_, gateS) = secs(LocalRank.collectBounded(pairs, max - 1))
    val (dist, distS) = secs(run(pairs, 0).collect())
    assert(local.sortBy(_.getLong(0)).toSeq == dist.sortBy(_.getLong(0)).toSeq,
      s"$tag: the tiers disagree at $p pairs")
    println(f"[bound] $tag pairs=$p nodes=${local.length} " +
      f"local_s=$localS%.2f dist_s=$distS%.2f gate_s=$gateS%.2f " +
      f"held_mb=$held%.1f")
  }

  def main(args: Array[String]): Unit = {
    val pr = (p: DataFrame, max: Int) =>
      TextOps.pageRankConverged(p, localMax = max)
    val ppr = (p: DataFrame, max: Int) =>
      TextOps.pprConverged(p, localMax = max)
    measure(20000, "pr", pr) // JIT and session warm-up, not reported on
    for (p <- args.map(_.toLong)) {
      measure(p, "pr", pr)
      measure(p, "ppr", ppr)
    }
    TestSpark.spark.stop()
  }
}
