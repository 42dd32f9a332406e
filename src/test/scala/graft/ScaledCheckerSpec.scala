package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** CI durability for the sf1 campaign's scaled checkers (VERDICT r12
  * #5): the seven disk-infeasible-at-sf1 oracles (q65/q102 recursive
  * closure, q27 shingle-pair chain, q148/q167/q172 unoriented wedge
  * join, q161 jpairs re-materialization) are verified at sf1 by the
  * independent checkers in tools/check_*_scaled.py — but those were
  * invoked by hand during campaigns, so a semantic drift in any of the
  * seven queries would wait for the next campaign to surface. This spec
  * exercises each checker's FULL PASS path per `sbt test`: it dumps the
  * seven catalog queries at sf0.01 (every one non-trivial there: 55
  * clusters, 492 near-dup rows, 3 triangles, 12 BFS layers, ...) in the
  * exact Verify layout (per-query parquet dirs + oracle_sql.json) and
  * shells out to each checker, requiring exit 0 AND the per-query PASS
  * lines (the triangles checker SKIPS silently when a dump is absent —
  * asserting the PASS text closes that hole).
  *
  * What this does NOT re-verify: the sf1-scale feasibility argument.
  * It pins the CONTRACT — checker parses the committed oracle text,
  * replays the semantics independently, and agrees with the engine —
  * so a query or oracle change that breaks the agreement goes red in
  * CI instead of in a campaign three weeks later.
  */
class ScaledCheckerSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.01"
  private val repo = "/root/repo"

  private val covered = Seq(
    "q65_dedup_clusters", "q102_cluster_safe_split",
    "q181_dedup_canonical",
    "q27_minhash_near_dup", "q148_triangle_count",
    "q167_clustering_coeff", "q172_bfs_layers",
    "q161_degree_assortativity")

  // one shared dump for all four checkers (the expensive part — the
  // seven queries at sf0.01 — runs once per suite)
  private lazy val outDir: String = {
    val d = TestSpark.tempDir("graft_scaled_checkers").toString
    covered.foreach { n =>
      SparkEntry.queries(n)(s, sfDir).coalesce(1)
        .write.mode("overwrite").parquet(s"$d/$n")
    }
    Files.writeString(Paths.get(s"$d/oracle_sql.json"),
      Verify.oracleJson(SparkEntry.oracleSql))
    d
  }

  private def runChecker(script: String, expectPass: Seq[String]): Unit = {
    import scala.sys.process._
    val out = new StringBuilder
    val logger = ProcessLogger(l => out.synchronized {
      out.append(l).append('\n')
    })
    val code = Process(
      Seq("python3", s"tools/$script", sfDir, outDir),
      new java.io.File(repo)).!(logger)
    val text = out.toString
    assert(code == 0, s"$script exited $code:\n$text")
    expectPass.foreach { q =>
      assert(text.contains(s"PASS $q"),
        s"$script must print 'PASS $q' (a silent skip is not a pass):\n$text")
    }
  }

  test("check_cc_scaled PASSes q65 + q102 + q181 on the catalog dumps") {
    runChecker("check_cc_scaled.py",
      Seq("q65_dedup_clusters", "q102_cluster_safe_split",
        "q181_dedup_canonical"))
  }

  test("check_minhash_scaled PASSes q27 on the catalog dump") {
    runChecker("check_minhash_scaled.py", Seq("q27_minhash_near_dup"))
  }

  test("check_triangles_scaled PASSes q148 + q167 + q172 on the dumps") {
    runChecker("check_triangles_scaled.py",
      Seq("q148_triangle_count", "q167_clustering_coeff",
        "q172_bfs_layers"))
  }

  test("check_assort_scaled PASSes q161 on the catalog dump") {
    runChecker("check_assort_scaled.py", Seq("q161_degree_assortativity"))
  }
}
