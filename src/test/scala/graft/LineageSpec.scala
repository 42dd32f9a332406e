package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{Lineage, RunPaths, Sinks}

/** The cluster-deployment lineage-cut switch (VERDICT r16 #4): with
  * `spark.graft.lineage.reliable=true`, every `Lineage.cut` site routes
  * through the RELIABLE `Dataset.checkpoint` (checkpoint-dir files that
  * survive executor loss) instead of `localCheckpoint` (executor-local
  * blocks, non-recoverable). The spec exercises the reliable path — cut
  * results equal the uncut frame, checkpoint files actually land in the
  * configured dir, and a real multi-cut query path (q104, plus its
  * forced distributed tier's prGraph chain) runs green under the flag — and pins the default-off identity
  * with localCheckpoint semantics (plan truncated to a LogicalRDD-backed
  * frame either way). */
class LineageSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def withReliable[A](body: => A): A = {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_spec_")
      .toAbsolutePath.toString
    s.conf.set(Lineage.RELIABLE_KEY, "true")
    s.conf.set(Lineage.DIR_KEY, dir)
    try body
    finally {
      s.conf.set(Lineage.RELIABLE_KEY, "false")
      s.conf.unset(Lineage.DIR_KEY)
    }
  }

  test("default off: cut is localCheckpoint (plan truncated, same rows)") {
    val df = s.range(100).select(col("id"), (col("id") % 7).as("k"))
    val cutDf = Lineage.cut(df)
    assert(cutDf.queryExecution.optimizedPlan.toString.contains("LogicalRDD"))
    assert(cutDf.orderBy("id").collect().toSeq ===
      df.orderBy("id").collect().toSeq)
    // localCheckpoint path: no reliable checkpoint dir is ever set up
    assert(cutDf.rdd.getCheckpointFile.isEmpty)
  }

  test("reliable flag: cut routes through Dataset.checkpoint into the dir") {
    withReliable {
      val df = s.range(100).select(col("id"), (col("id") % 7).as("k"))
      val cutDf = Lineage.cut(df)
      assert(cutDf.queryExecution.optimizedPlan.toString.contains("LogicalRDD"))
      assert(cutDf.orderBy("id").collect().toSeq ===
        df.orderBy("id").collect().toSeq)
      val dir = s.conf.get(Lineage.DIR_KEY)
      // reliable-checkpoint files landed under the configured dir
      val stream = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      val nFiles =
        try stream.filter(java.nio.file.Files.isRegularFile(_)).count()
        finally stream.close()
      assert(nFiles > 0, s"no checkpoint files under $dir")
    }
  }

  test("with no dir set, reliable cuts checkpoint under a run path") {
    s.conf.unset(Lineage.DIR_KEY)
    val dir = new java.io.File(Lineage.checkpointDir(s))
    assert(dir.getName === "graft_ckpt_" + Sinks.runToken)
    // registered with the run's paths, so application end deletes it
    assert(Sinks.runPaths.owns(dir))
    // cleanup of that registration removes a dir laid out as Spark's
    // checkpoint writer leaves it (<dir>/<uuid>/rdd-<id>/part-*)
    val root = java.nio.file.Files.createTempDirectory("graft_ckpt_root_")
      .toFile
    try {
      val run = new RunPaths(root.getPath, Sinks.runToken)
      val ckpt = new java.io.File(run.path("graft_ckpt"))
      val rdd = new java.io.File(ckpt, "3f2a/rdd-7")
      assert(rdd.mkdirs())
      assert(new java.io.File(rdd, "part-00000").createNewFile())
      run.cleanup()
      assert(!ckpt.exists)
      assert(root.list.isEmpty)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(root)
  }

  test("a multi-cut query path stays green and equal under the flag") {
    val name = "q104_pagerank"
    val base = SparkEntry.queries(name)(s, sfDir).collect().toSeq
    val rel = withReliable {
      SparkEntry.queries(name)(s, sfDir).collect().toSeq
    }
    assert(rel === base)
  }

  test("q104's distributed tier stays green and equal under the flag") {
    // q104 runs in-process at this scale; bound 0 forces the cut-heavy
    // distributed loop through the reliable checkpoints.
    import s.implicits._
    val pairs = Seq((10L, 1L), (1L, 2L), (2L, 3L), (1L, 20L), (20L, 21L))
      .toDF("u", "v")
    def run() = graft.queries.TextOps.pageRankConverged(pairs, localMax = 0)
      .orderBy("doc_id").collect().toSeq
    val base = run()
    assert(withReliable(run()) === base)
  }
}
