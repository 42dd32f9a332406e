package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.model.Tables

/** Every table is read with a declared schema (no Parquet
  * schema-inference job per read). Each declared schema must be exactly
  * what inference gives on every shipped scale: names, types and
  * nullability. The job pins count what building a query starts. */
class TableSchemaSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val testdata = "/root/testdata"
  private val sf = s"$testdata/sf0.001"
  private val tables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  private def buildJobs(q: String): Int =
    TestSpark.jobsOf(SparkEntry.queries(q)(s, sf))

  test("each table's declared schema equals its inferred schema") {
    for (scale <- Seq("sf0.001", "sf0.01", "sf0.1"); t <- tables) {
      val f = s"$testdata/$scale/$t.parquet"
      assert(Tables.schema(t) === s.read.parquet(f).schema, f)
    }
    val bench = "perfbench/data/documents.parquet"
    assert(Tables.schema("documents") === s.read.parquet(bench).schema)
  }

  test("a table with no declared schema fails") {
    intercept[IllegalArgumentException](Tables.schema("no_such_table"))
  }

  test("building q02_star_revenue runs no Spark job") {
    assert(buildJobs("q02_star_revenue") === 0)
  }

  test("building an events query runs no Spark job") {
    assert(buildJobs("q39_tumbling_window") === 0)
  }

  test("building q104 runs 1 Spark job, the pair-list gate") {
    // no inference job, and the in-process pair list and PageRank tiers
    // read the gate's rows with none
    assert(buildJobs("q104_pagerank") === 1)
  }

  test("the memoized index artifacts are read back without inference") {
    for (q <- Seq("q174_bpe_encode", "q192_bpe_decode", "q178_bm25_prebuilt",
        "q190_retrieve_rerank")) {
      val warm = SparkEntry.queries(q)
      warm(s, sf) // the first build of the (session, dir) writes the index
      assert(TestSpark.inferenceJobsOf(warm(s, sf)).isEmpty, q)
    }
    // once its BPE state is built, q174 builds without a job
    assert(buildJobs("q174_bpe_encode") === 0)
  }

  test("the inference probe sees a schema-less read and exempts Sinks") {
    val seen = TestSpark.inferenceJobsOf(s.read.parquet(s"$sf/region.parquet"))
    assert(seen.size === 1 && seen.head.startsWith("parquet at TableSchemaSpec"),
      seen)
    // q93's mergeSchema round trip infers on purpose, inside Sinks
    var jobs = 0
    val sinks = TestSpark.inferenceJobsOf {
      jobs = buildJobs("q93_schema_merge")
    }
    assert(jobs === 3, "two batch writes and the merging read's inference")
    assert(sinks.isEmpty, sinks)
  }

  test("an events query needs no nanosAsLong and leaves it unset") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val bare = s.newSession()
    bare.conf.unset(key)
    assert(!bare.conf.getAll.contains(key))
    val q = "q39_tumbling_window"
    val got = SparkEntry.queries(q)(bare, sf)
    assert(!bare.conf.getAll.contains(key), "building set the conf")
    assert(got.collect().toSeq === SparkEntry.queries(q)(s, sf).collect().toSeq)
  }
}
