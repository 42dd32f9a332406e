package graft

import org.scalatest.funsuite.AnyFunSuite

/** Catalog-wide physical-plan audit: every declared query must (a) pass
  * analysis against the real testdata schemas and (b) plan WITHOUT a
  * CartesianProduct — the non-broadcast all-pairs join that silently
  * turns a capped candidate join into |corpus|² work at scale. The
  * intentional cross joins in the catalog (grid constructors, kernel
  * neighbor joins, bounded query sets) are all broadcast nested-loop
  * joins against tiny sides, which this audit permits. The same pass
  * fails on any Parquet schema-inference job a query's construction
  * starts outside Sinks: every other read declares its schema.
  */
class PlanAuditSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("every catalog query plans without a CartesianProduct") {
    val inferring = Seq.newBuilder[String]
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        // sparkPlan = the pre-AQE physical plan; building it exercises
        // analysis + optimization without executing anything.
        var plan = ""
        inferring ++= TestSpark.inferenceJobsOf {
          plan = fn(s, sfDir).queryExecution.sparkPlan.toString
        }.map(site => s"$name: $site")
        if (plan.contains("CartesianProduct")) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"queries planning a CartesianProduct: ${offenders.mkString(", ")}")
    val inferred = inferring.result()
    assert(inferred.isEmpty,
      s"schema-inference jobs outside Sinks: ${inferred.mkString(", ")}")
  }

  // ---- scan-level scale guarantees (the brief's "a scan that reads all
  // columns for a 2-column projection is wrong"): literal predicates
  // must reach the parquet scan as PushedFilters, unused columns must
  // be absent from ReadSchema, and tiny dimension joins must broadcast.
  // Pinned on representative queries so a refactor that silently breaks
  // pushdown (e.g. a filter moved behind a non-pushable expression, a
  // select(*) widening a scan) fails the suite, not just the 100 TB run.

  private def fmt(name: String): String =
    SparkEntry.queries(name)(s, sfDir).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))

  private def readSchemas(plan: String): Seq[String] =
    plan.linesIterator.filter(_.trim.startsWith("ReadSchema:")).toSeq

  test("literal predicates are pushed to the parquet scans") {
    val q01 = fmt("q01_pricing_summary")
    assert(q01.contains("LessThanOrEqual(l_shipdate"),
      "q01's shipdate cutoff must reach the lineitem scan")
    val q34 = fmt("q34_cosine_topk")
    assert(q34.contains("LessThan(vec_id"),
      "q34's bounded query-set predicate must reach the embeddings scan")
    val q56 = fmt("q56_click_purchase_batch")
    assert(q56.contains("EqualTo(event_type,click)") &&
      q56.contains("EqualTo(event_type,purchase)"),
      "q56's event-type filters must reach both events scans")
  }

  test("scans prune to the columns the query actually uses") {
    // q66 reads only (doc_id, lang) from documents — `text`, the wide
    // column, must not be scanned.
    val q66 = readSchemas(fmt("q66_hash_split"))
    assert(q66.nonEmpty && q66.forall(!_.contains("text:")),
      s"q66 documents scan must not read text: $q66")
    // q01 aggregates 6 lineitem measures + shipdate — no keys/comments.
    val q01 = readSchemas(fmt("q01_pricing_summary"))
    assert(q01.nonEmpty && q01.forall(!_.contains("l_orderkey")),
      s"q01 lineitem scan must not read l_orderkey: $q01")
    // q56 touches (ts, user_id, event_type) — the JSON props column
    // (the widest events column) must stay out of both scans.
    val q56 = readSchemas(fmt("q56_click_purchase_batch"))
    assert(q56.nonEmpty && q56.forall(!_.contains("props")),
      s"q56 events scans must not read props: $q56")
  }

  test("q140's sketch-NDV aggregate plans without an Expand") {
    // The point of the q110→q140 swap: four approx_count_distinct NDVs in
    // one aggregate must NOT multiply the scan through an Expand the way
    // four exact countDistincts do. Audited on the approx helper alone —
    // the full q140 keeps the exact side as its bound-check scaffold,
    // which legitimately plans q110's Expand at test scale.
    val t = graft.model.Tables(s, sfDir)
    val approx = graft.queries.Extras.approxStats(t.lineitem,
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
    val plan = approx.queryExecution.sparkPlan.toString
    assert(!plan.contains("Expand"),
      s"approx NDV profile must be a single no-Expand pass:\n$plan")
    // and the exact form DOES Expand — pinning that the contrast is real
    val exact = t.lineitem.agg(
      org.apache.spark.sql.functions.countDistinct("l_quantity"),
      org.apache.spark.sql.functions.countDistinct("l_extendedprice"),
      org.apache.spark.sql.functions.countDistinct("l_discount"),
      org.apache.spark.sql.functions.countDistinct("l_tax"))
    assert(exact.queryExecution.sparkPlan.toString.contains("Expand"),
      "expected the 4-way exact countDistinct to plan an Expand")
  }

  test("star-schema dimension joins broadcast") {
    val q02 = fmt("q02_star_revenue")
    val n = "BroadcastHashJoin".r.findAllIn(q02).size
    assert(n >= 3,
      s"q02 must broadcast its dimension joins (saw $n BroadcastHashJoin)")
  }
}
