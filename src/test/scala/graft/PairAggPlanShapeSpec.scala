package graft

import org.apache.spark.sql.catalyst.expressions.aggregate.{Final, Partial}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{LocalTableScanExec, RDDScanExec,
  SparkPlan}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_COL,
  ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
  SortMergeJoinExec}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.TextOps

/** Pins the single-pass pair-aggregate plan shape (VERDICT r12 #1, the
  * Bm25PlanShapeSpec mold).
  *
  * The round-12 fix: the shingle-fan-out pair aggregates barely reduce
  * (q29: 146.5M join rows → 120.4M groups at sf1 — shared shingles are
  * rare by construction once the df cap holds), so the map-side partial
  * aggregate built a ~4M-entry-per-task spilling map only to shuffle
  * essentially the same row count anyway. The explicit
  * `repartition(col("a.doc_id"))` before the aggregate
  * (TextOps.jaccardPairs, Retrieval q123) pre-satisfies the aggregate's
  * required distribution — hash(da) clusters every (da, db) group — so
  * EnsureRequirements drops the partial-output exchange and the whole
  * aggregate runs in ONE stage directly above the fan-out's repartition.
  * Measured (sf1, same-day min-of-paired-legs): q161 25.61 → 13.85 s,
  * q65 21.72 → 18.37, q29 18.22 → 17.07; the stage-level A/B
  * (ScaleDebug fanoutaudit) showed the agg 1.6–3.4× faster.
  *
  * Nothing in the optimizer contractually preserves this: a Spark
  * upgrade that changes EnsureRequirements' satisfies-check (or a
  * repartition rewrite) would silently reintroduce the spilling
  * partial-agg exchange on the fan-out and nothing would go red. So for
  * each pinned plan this spec asserts:
  *   (1) exactly one partial + one final pair aggregate (both grouping
  *       on two doc_id attributes), with NO shuffle exchange between
  *       them — the single-stage property;
  *   (2) the first exchange BELOW the partial is the explicit
  *       REPARTITION_BY_COL hash exchange on exactly the pair key's
  *       FIRST component (one doc_id expression, not the pair);
  *   (3) that exchange consumes the shingle fan-out (the sh-keyed
  *       self-join sits below it), i.e. it repartitions the fan-out
  *       stream, not some pre-join relation.
  *
  * Coverage: jaccardPairs' own plan (the EXACT DataFrame q161/q65/q102
  * eagerly checkpoint — their materialized job runs this plan verbatim),
  * the q29 catalog entry (consumes it in-plan), and the q123 catalog
  * entry (the same fix applied to the containment fan-out). A
  * fourth test proves q161 really does consume the audited subtree
  * through its construction-time checkpoint (RDD scan, no pair agg left
  * in the consuming plan).
  *
  * Every shipped scale up to sf0.1 builds the pair list in the driver
  * (`LocalJaccard`), so the jaccardPairs, q29 and q161 checks run the
  * distributed tier, forced with a shingle-row bound of 0, over the
  * catalog entries' own expressions. A fifth test pins the in-process
  * tier's shape: the consumers plan the pair list as a LocalTableScan
  * and no pair aggregate.
  */
class PairAggPlanShapeSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def pairAggs(plan: SparkPlan): Seq[BaseAggregateExec] =
    plan.collect {
      case a: BaseAggregateExec
          if a.aggregateExpressions.nonEmpty &&
            a.groupingExpressions.size == 2 &&
            a.groupingExpressions.forall(g =>
              g.references.nonEmpty &&
                g.references.forall(_.name == "doc_id")) => a
    }

  private def checkSinglePass(tag: String, plan: SparkPlan): Unit = {
    val aggs = pairAggs(plan)
    val fin = aggs.filter(_.aggregateExpressions.forall(_.mode == Final))
    val par = aggs.filter(_.aggregateExpressions.forall(_.mode == Partial))
    assert(fin.size == 1 && par.size == 1,
      s"$tag: expected exactly one final + one partial pair aggregate, " +
        s"saw ${fin.size} final / ${par.size} partial:\n$plan")
    val f = fin.head
    val p = par.head

    // (1) single stage: no exchange between the final and partial halves
    // (EnsureRequirements reintroducing one is exactly the regression).
    val between = f.collect {
      case e: ShuffleExchangeExec
          if e.collectFirst { case x if x eq p => x }.isDefined => e
    }
    assert(between.isEmpty,
      s"$tag: a shuffle exchange reappeared between the partial and " +
        s"final pair aggregates (the spilling two-pass shape):\n$plan")

    // (2) the exchange below the aggregate is the EXPLICIT repartition
    // on the pair key's first component.
    val below = p.collectFirst { case e: ShuffleExchangeExec => e }
    assert(below.isDefined, s"$tag: no exchange below the pair aggregate")
    val e = below.get
    assert(e.shuffleOrigin == REPARTITION_BY_COL,
      s"$tag: the exchange below the pair aggregate must be the explicit " +
        s"repartition (REPARTITION_BY_COL), saw ${e.shuffleOrigin}")
    e.outputPartitioning match {
      case h: HashPartitioning =>
        assert(h.expressions.size == 1 &&
          h.expressions.forall(_.references.forall(_.name == "doc_id")),
          s"$tag: the repartition must key on exactly the pair key's " +
            s"first doc_id component, saw ${h.expressions}")
      case o => fail(s"$tag: expected hash partitioning, saw $o")
    }

    // (3) the repartition consumes the shingle fan-out, not a pre-join
    // relation: the sh-keyed self-join sits below it.
    val fanOutBelow = e.collectFirst {
      case j: BroadcastHashJoinExec
          if j.leftKeys.exists(_.references.exists(_.name == "sh")) => j
      case j: SortMergeJoinExec
          if j.leftKeys.exists(_.references.exists(_.name == "sh")) => j
    }
    assert(fanOutBelow.isDefined,
      s"$tag: the repartition must sit ABOVE the shingle self-join " +
        s"(repartitioning the fan-out stream):\n$plan")
  }

  /** The pair list on its distributed tier. */
  private def distPairs = TextOps.jaccardPairs(s, sfDir, maxRows = 0)

  test("jaccardPairs (the subtree q161/q65/q102 checkpoint-materialize) " +
      "keeps the single-pass pair aggregate") {
    checkSinglePass("jaccardPairs", distPairs.queryExecution.sparkPlan)
  }

  test("q29 catalog plan keeps the single-pass pair aggregate") {
    // q29_jaccard_pairs' expression over the distributed tier
    checkSinglePass("q29",
      distPairs.orderBy("da", "db").queryExecution.sparkPlan)
  }

  test("q123 catalog plan keeps the single-pass pair aggregate") {
    checkSinglePass("q123",
      SparkEntry.queries("q123_containment")(s, sfDir)
        .queryExecution.sparkPlan)
  }

  test("q161 consumes the audited subtree through its construction-time " +
      "checkpoint") {
    // degreeAssortativity eagerly localCheckpoints jaccardPairs, so the
    // consuming plan must carry an RDD scan and NO pair aggregate of its
    // own — the pair-agg shape q161 runs IS the jaccardPairs plan pinned
    // above, materialized at construction.
    // q161_degree_assortativity's expression over the distributed tier
    val plan = TextOps.degreeAssortativity(
        distPairs.select(col("da").as("u"), col("db").as("v")))
      .queryExecution.sparkPlan
    assert(plan.collectFirst { case r: RDDScanExec => r }.isDefined,
      s"q161: expected the checkpointed pair list (RDD scan):\n$plan")
    assert(pairAggs(plan).isEmpty,
      s"q161: the consuming plan must not rebuild the pair aggregate")
  }

  test("the in-process tier: consumers plan the pair list as a " +
      "LocalTableScan and no pair aggregate") {
    // q29, q81 and q161 read the list in their plan; the loop consumers
    // read it during construction and plan over their own cut state
    val inPlan = Set("q29_jaccard_pairs", "q81_decontamination",
      "q161_degree_assortativity")
    for (q <- inPlan.toSeq.sorted ++ Seq("q65_dedup_clusters",
        "q102_cluster_safe_split", "q104_pagerank", "q148_triangle_count",
        "q149_kcore", "q158_personalized_pagerank", "q167_clustering_coeff",
        "q172_bfs_layers", "q181_dedup_canonical")) {
      val plan = SparkEntry.queries(q)(s, sfDir).queryExecution.sparkPlan
      if (inPlan(q))
        assert(plan.collectFirst { case l: LocalTableScanExec => l }.isDefined,
          s"$q: expected the in-process pair list (LocalTableScan):\n$plan")
      assert(pairAggs(plan).isEmpty,
        s"$q: the in-process tier must plan no pair aggregate:\n$plan")
    }
  }
}
