package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver-contract stdout pin (VERDICT r16 #8): the driver records
  * a ~2 KB tail of Bench's stdout and parses the LAST line as the
  * `{"metric":"total",…}` record — BENCH_r15.json carried parsed:null,
  * so the contract is now a spec, not a convention. Runs the real
  * runBench sweep (one cheap query at sf0.001) against a captured
  * stream and asserts the final line is exactly the parseable summary
  * with every contract key, that nothing follows it, and that the full
  * per-query record landed in the artifact the summary points at. */
class BenchContractSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark

  test("final stdout line is the parseable driver summary JSON") {
    val buf = new java.io.ByteArrayOutputStream()
    val out = new java.io.PrintStream(buf, true, "UTF-8")
    val repo = TestSpark.tempDir("graft_bench_spec_")
      .toAbsolutePath.toString
    val errBuf = new java.io.ByteArrayOutputStream()
    Bench.runBench(s, "/root/testdata/sf0.001",
      only = Some(Set("q13_kernel")), repoDir = repo,
      tag0 = Some("contract_spec"), out = out,
      err = new java.io.PrintStream(errBuf, true, "UTF-8"))
    out.flush()
    assert(errBuf.toString("UTF-8").isEmpty)
    val text = buf.toString("UTF-8")
    assert(text.endsWith("\n"), "summary line must be newline-terminated")
    val lines = text.split("\n", -1).dropRight(1) // trailing "" after last \n
    assert(lines.length == 2, s"exactly full record + summary, got:\n$text")
    val last = lines.last
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val j = JsonMethods.parse(last)
    assert((j \ "metric") === JString("total"))
    assert((j \ "unit") === JString("sec"))
    assert((j \ "queries_stat") === JString("min"))
    assert((j \ "n_failed") === JInt(0))
    assert((j \ "n_queries") === JInt(1))
    assert((j \ "failed") === JArray(Nil))
    (j \ "value") match {
      case JDouble(v) => assert(v > 0)
      case other => fail(s"value not a number: $other")
    }
    (j \ "total_min") match {
      case JDouble(v) => assert(v > 0)
      case other => fail(s"total_min not a number: $other")
    }
    val art = (j \ "queries_full") match {
      case JString(p) => p
      case other => fail(s"queries_full not a string: $other")
    }
    // the artifact holds the FULL record (per-query dicts), is valid
    // JSON, and is the tagged bench_only file (never the canonical
    // full-sweep record)
    assert(art.endsWith("bench_only_sf0.001_contract_spec.json"), art)
    val full = JsonMethods.parse(
      java.nio.file.Files.readString(java.nio.file.Paths.get(art)))
    assert((full \ "queries" \ "q13_kernel") !== JNothing)
    assert((full \ "queries_min" \ "q13_kernel") !== JNothing)
    // the first stdout line IS that full record
    assert(JsonMethods.parse(lines.head) === full)
  }

  test("a failed query's record names its exception class and message") {
    val buf = new java.io.ByteArrayOutputStream()
    val out = new java.io.PrintStream(buf, true, "UTF-8")
    val repo = TestSpark.tempDir("graft_bench_spec_")
    // q01 reads the sf dir's tables, so a missing dir fails every sample
    val q = "q01_pricing_summary"
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val errBuf = new java.io.ByteArrayOutputStream()
    try {
      Bench.runBench(s, repo.resolve("no_such_sf").toString,
        only = Some(Set(q)), repoDir = repo.toString,
        tag0 = Some("failure_spec"), out = out,
        err = new java.io.PrintStream(errBuf, true, "UTF-8"))
      out.flush()
      // the warm-up runs the selected query, and its failure is reported
      val errLines = errBuf.toString("UTF-8").split("\n").toSeq
      assert(errLines.size === 2, errLines)
      assert(errLines.head.startsWith(
        s"[bench] $q WARMUP FAILED: AnalysisException: "), errLines.head)
      assert(errLines.head.contains("no_such_sf"), errLines.head)
      assert(errLines(1).startsWith(s"[bench] $q FAILED: AnalysisException: "))
      val lines = buf.toString("UTF-8").split("\n")
      val full = JsonMethods.parse(lines.head)
      assert((full \ "n_failed") === JInt(1))
      assert((full \ "failed") === JArray(List(JString(q))))
      val err = (full \ "errors" \ q) match {
        case JString(e) => e
        case other => fail(s"no error recorded for $q: $other")
      }
      // "Class: message", and the message names the missing path
      assert(err.startsWith("AnalysisException: "), err)
      assert(err.contains("no_such_sf"), err)
      // the artifact carries the same record; the summary keeps its keys
      val summary = JsonMethods.parse(lines.last)
      val art = summary \ "queries_full" match {
        case JString(p) => p
        case other => fail(s"queries_full not a string: $other")
      }
      assert(JsonMethods.parse(java.nio.file.Files.readString(
        java.nio.file.Paths.get(art))) === full)
      assert((summary \ "errors") === JNothing)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(repo.toFile)
  }
}
