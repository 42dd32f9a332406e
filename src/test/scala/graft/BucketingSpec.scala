package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Demonstrates the co-located-join story the 100 TB design leans on:
  * writing both sides bucketed (+ sorted) on the join key lets the
  * sort-merge join read bucket-aligned files and plan with NO exchange
  * on either side — the shuffle that q02-style fact⋈fact joins would
  * otherwise pay on every query is paid once at write time.
  */
class BucketingSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark

  test("bucketed fact-fact join plans without a shuffle exchange") {
    val dir = TestSpark.tempDir("graft_buckets").toString
    val prevThreshold = s.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    try {
      // force the sort-merge path (sf0.001 sides would otherwise broadcast)
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val sf = "/root/testdata/sf0.001"
      s.read.parquet(s"$sf/lineitem.parquet")
        .select("l_orderkey", "l_extendedprice")
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$dir/li").mode("overwrite").saveAsTable("li_bucketed")
      s.read.parquet(s"$sf/orders.parquet")
        .select("o_orderkey", "o_totalprice")
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$dir/ord").mode("overwrite").saveAsTable("ord_bucketed")

      val joined = s.table("li_bucketed")
        .join(s.table("ord_bucketed"),
          col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.sparkPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ in:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle either side:\n$plan")

      // and it still computes the right thing
      val n = joined.count()
      val expected = s.read.parquet(s"$sf/lineitem.parquet")
        .join(s.read.parquet(s"$sf/orders.parquet"),
          col("l_orderkey") === col("o_orderkey")).count()
      assert(n === expected)
    } finally {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      s.sql("DROP TABLE IF EXISTS li_bucketed")
      s.sql("DROP TABLE IF EXISTS ord_bucketed")
    }
  }

  test("documents written partitioned(lang)+bucketed(doc_id) prune and join shuffle-free") {
    val dir = TestSpark.tempDir("graft_docs_rt").toString
    val prevThreshold = s.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    try {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val sf = "/root/testdata/sf0.001"
      val rt = graft.queries.Sinks.writeDocumentsBucketed(
        s, sf, s"$dir/docs", "docs_rt_spec")

      // the doc_id self-join (the near-dup verify / metadata-join shape)
      // must read bucket-aligned files: SMJ with NO exchange on either side
      val joined = rt.select("doc_id", "source")
        .join(rt.select(col("doc_id"), col("lang")), "doc_id")
      val plan = joined.queryExecution.sparkPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ in:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle either side:\n$plan")

      // a lang predicate must become a PARTITION filter (pruned
      // directories), not a data filter over every file
      val pruned = rt.where(col("lang") === "en")
      val scan = pruned.queryExecution.executedPlan.toString
      assert(scan.contains("PartitionFilters") &&
        scan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
          .contains("lang"),
        s"lang must appear as a partition filter:\n$scan")

      // and the round trip is lossless
      val orig = s.read.parquet(s"$sf/documents.parquet")
      assert(rt.count() === orig.count())
      assert(pruned.count() ===
        orig.where(col("lang") === "en").count())
    } finally {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      s.sql("DROP TABLE IF EXISTS docs_rt_spec")
    }
  }
}
