package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the two runtime scan-pruning levers the 100 TB design counts on
  * but that no catalog query could show at test scale (both are
  * size-threshold-gated):
  *
  *  - **Dynamic partition pruning** (DPP): a fact table partitioned on
  *    the join key scans ONLY the partitions the filtered dimension
  *    selects — the partition filter is computed at runtime from the
  *    dim side. At 100 TB this is the difference between scanning a
  *    full date-partitioned event history and scanning the week the
  *    dim filter names.
  *
  *  - **Runtime bloom-filter injection**: for a shuffle join whose
  *    creation side is selectively filtered, Catalyst builds a bloom
  *    filter of the creation-side join keys and applies it to the
  *    application side BEFORE the shuffle — rows that cannot match are
  *    dropped at the scan, not carried through the exchange. At 100 TB
  *    this prunes the dominant shuffle of every star join whose dim
  *    filter is selective.
  *
  * Both rules key off size estimates (DPP wants a partitioned file
  * source; the bloom rule wants an application side over
  * `applicationSideScanSizeThreshold`, 10 GB by default), so the specs
  * lower the thresholds to make the rules fire on sf0.001 and assert
  * (a) the pruning construct is IN the plan and (b) the pruned result
  * equals the unpruned one row for row.
  */
class RuntimeFilterSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("dynamic partition pruning: filtered dim join scans only matching partitions") {
    val dir = TestSpark.tempDir("graft_dpp").toString
    val events = s.read.parquet(s"$sf/events.parquet")
    // fact partitioned on the join key (the 100 TB layout: events
    // partitioned by day/type so dim-driven queries prune the scan)
    events.write.partitionBy("event_type")
      .mode("overwrite").parquet(s"$dir/events_bytype")
    // dim: event_type -> tier, with a selective filter on tier
    val dimRows = events.select("event_type").distinct()
      .withColumn("tier",
        when(col("event_type").isin("click", "view"), lit("hot"))
          .otherwise(lit("cold")))
    dimRows.write.mode("overwrite").parquet(s"$dir/type_dim")

    val fact = s.read.parquet(s"$dir/events_bytype")
    val dim = s.read.parquet(s"$dir/type_dim").filter(col("tier") === "hot")
    val joined = fact.join(dim, Seq("event_type")).agg(
      count(lit(1)).as("n"), sum("value").as("sv"))

    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruningexpression"),
      s"expected a dynamic partition pruning filter on the fact scan:\n$plan")

    // pruned result == statically-filtered result
    val got = joined.collect().head
    val want = events.filter(col("event_type").isin("click", "view"))
      .agg(count(lit(1)), sum("value")).collect().head
    assert(got.getLong(0) == want.getLong(0) &&
      math.abs(got.getDouble(1) - want.getDouble(1)) < 1e-6,
      s"DPP changed the answer: $got vs $want")
  }

  test("runtime bloom filter prunes the application side of a selective shuffle join") {
    val prevBcast = s.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    val prevAppThresh = s.conf.get(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "10GB")
    try {
      // sf0.001 sides would broadcast (no shuffle to prune) and sit far
      // under the 10 GB application-side gate; force the 100 TB shape.
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1")

      val li = s.read.parquet(s"$sf/lineitem.parquet")
        .select("l_orderkey", "l_extendedprice")
      val ord = s.read.parquet(s"$sf/orders.parquet")
        .filter(col("o_totalprice") > 150000.0) // selective creation side
        .select("o_orderkey", "o_totalprice")
      val joined = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .agg(count(lit(1)).as("n"), sum("l_extendedprice").as("rev"))

      val optimized = joined.queryExecution.optimizedPlan.toString
      assert(optimized.contains("might_contain"),
        s"expected an injected bloom filter (might_contain) on lineitem:\n$optimized")

      val got = joined.collect().head
      // same join with the rule off
      s.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      val plain = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .agg(count(lit(1)).as("n"), sum("l_extendedprice").as("rev"))
        .collect().head
      assert(got.getLong(0) == plain.getLong(0) &&
        math.abs(got.getDouble(1) - plain.getDouble(1)) < 1e-6,
        s"bloom pruning changed the answer: $got vs $plain")
    } finally {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBcast)
      s.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        prevAppThresh)
      s.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    }
  }
}
