package graft

import java.lang.management.ManagementFactory

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model.Tables
import graft.queries.{LocalJaccard, TextOps}

/** Sizes the in-process pair-list tier's bounds, `LocalJaccard`'s
  * `MaxShingleRows` and `MaxFanOut`.
  *
  * Each argument is a corpus: a scale-factor dir holding
  * `documents.parquet`, or `syn:<docs>:<tokens>:<vocab>`, a synthetic
  * corpus of `docs` documents of `tokens` words drawn by hash from a
  * `vocab`-word vocabulary (a small vocabulary gives long posting lists,
  * so fan-out grows as tokens² / vocab³ per doc pair). Per corpus it
  * prints:
  *   - `rows`, `fanout`, `pairs`: raw shingle rows, capped fan-out and
  *     output pairs;
  *   - `gate_s`: the bounded collect alone; `kernel_s`: the driver build
  *     over the collected rows; `local_s`: `jaccardPairs` end to end on
  *     the in-process tier; `dist_s`: the same on the distributed tier
  *     (bound 0), rows counted;
  *   - `over_s`: the gate the distributed tier pays when the corpus is
  *     one row over the bound (rows read, then dropped);
  *   - `held_mb`: driver heap held while the collected rows and the
  *     kernel are alive, after a full GC.
  * Every in-process result is checked against the distributed one.
  * `gate:<dir>` times only the default gate, three times, on a corpus
  * above the bounds (sf1): the cost the distributed tier adds.
  *
  * Run (the figures in `LocalJaccard.MaxShingleRows`' doc):
  * `SPARK_DRIVER_MEM=3g sbt "Test/runMain graft.LocalJaccardBound
  * <testdata>/sf0.01 <testdata>/sf0.1 syn:10000:54:4000 syn:10000:54:20
  * gate:<sf1 dir>"`, the sf1 dir from `tools/gen_scale.py`. */
object LocalJaccardBound {
  private lazy val s = TestSpark.spark

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

  /** A synthetic documents table under a fresh temp dir. */
  private def synthetic(docs: Long, tokens: Int, vocab: Int): String = {
    val dir = TestSpark.tempDir("graft_jaccard_bound_")
      .toString
    val word = (i: org.apache.spark.sql.Column) => concat(lit("w"),
      pmod(xxhash64(col("id"), i), lit(vocab.toLong)).cast("string"))
    val text = concat_ws(" ",
      transform(sequence(lit(1), lit(tokens)), i => word(i)))
    s.range(docs).select(col("id").as("doc_id"), text.as("text"),
        lit("en").as("lang"), lit("web").as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.parquet(dir + "/documents.parquet")
    dir
  }

  /** The gate's rows and the kernel over them: (rows, fan-out, pairs,
    * gate s, kernel s, heap held while both are alive). */
  private def driverSide(map: DataFrame)
      : (Int, Long, Int, Double, Double, Double) = {
    val (rows, gateS) = secs(map.select("doc_id", "sh").coalesce(1).collect())
    val ((k, out), kernelS) = secs {
      val k = new LocalJaccard.Kernel(rows, TextOps.DF_CAP)
      (k, k.pairs())
    }
    val held = usedMb()
    (rows.length, k.fanOut, out.length, gateS, kernelS, held)
  }

  private def measure(name: String, dir: String): Unit = {
    val map = TextOps.shingleMap(Tables(s, dir).documents)
    val (n, fanOut, nPairs, gateS, kernelS, held) = driverSide(map)
    val heldMb = held - usedMb()
    val (local, localS) = secs(TextOps.jaccardPairs(s, dir, n,
      Long.MaxValue).orderBy("da", "db").collect())
    val (dist, distS) = secs(TextOps.jaccardPairs(s, dir, 0)
      .orderBy("da", "db").collect())
    assert(local.toSeq == dist.toSeq, s"$name: the tiers disagree")
    val (_, overS) = secs(LocalJaccard.pairs(map, TextOps.DF_CAP, n - 1,
      Long.MaxValue))
    println(f"[bound] $name rows=$n fanout=$fanOut pairs=$nPairs " +
      f"gate_s=$gateS%.2f kernel_s=$kernelS%.2f local_s=$localS%.2f " +
      f"dist_s=$distS%.2f over_s=$overS%.2f held_mb=$heldMb%.1f")
  }

  /** The default gate alone on a corpus above its bounds: what the
    * distributed tier pays for it. */
  private def gateOnly(dir: String): Unit = {
    val map = TextOps.shingleMap(Tables(s, dir).documents)
    for (_ <- 1 to 3) {
      val (out, overS) = secs(LocalJaccard.pairs(map, TextOps.DF_CAP,
        LocalJaccard.MaxShingleRows, LocalJaccard.MaxFanOut))
      assert(out.isEmpty, s"$dir: expected the distributed tier")
      println(f"[bound] gate:$dir over_s=$overS%.2f")
    }
  }

  def main(args: Array[String]): Unit = {
    // JIT and session warm-up on a small synthetic corpus, not reported on
    val warm = synthetic(500, 54, 40)
    try {
      TextOps.jaccardPairs(s, warm).collect()
      TextOps.jaccardPairs(s, warm, 0).collect()
    } finally org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(warm))
    for (a <- args) a.split(":") match {
      case Array("syn", d, t, v) =>
        val dir = synthetic(d.toLong, t.toInt, v.toInt)
        try measure(a, dir)
        finally org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(dir))
      case Array("gate", dir) => gateOnly(dir)
      case _ => measure(a, a)
    }
    s.stop()
  }
}
