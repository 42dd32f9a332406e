package graft

import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.LeftOuter
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{ProjectExec, RDDScanExec, SortExec,
  SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.scalatest.funsuite.AnyFunSuite

/** Pins the BM25 locality plan shape (VERDICT r11 #3, upgraded r12).
  *
  * Two plan properties are worth 3–21× of stage CPU on the 507M-pair
  * fan-out stage (idle-host layout A/B, ScaleDebug `fanoutsort`: natural
  * order 3,808 s CPU + 39.6 GB spill, doc-clustered 491 s, doc-clustered
  * + doc-sorted 176 s at sf1):
  *
  *  (a) the per-posting contribution `c = idf·tfn` is computed at
  *      POSTING granularity — above the dl dim join (pinned by the LEFT
  *      ReorderJoin barrier) and below the qt fan-out;
  *  (b) the postings reach the fan-out doc-CLUSTERED (hash Exchange on
  *      doc_id) and doc-SORTED (local sort). The sort survives ONLY
  *      because bm25Score lazily checkpoints the scored postings:
  *      in-plan, EliminateSorts deletes a local sort whose order the
  *      aggregate above destroys.
  *
  * Nothing in the optimizer contractually preserves any of this, so the
  * spec pins both halves:
  *   Part A audits `scoredPostings`' OWN plan — the exact plan the lazy
  *   checkpoint materializes — for the c-placement, the barrier, the
  *   exchange, and the SURVIVING root-level sort.
  *   Part B audits each catalog consumer (q120 fresh-built, q131 fused,
  *   q178 parquet-fed probe): the fan-out join's streamed side must BE
  *   the checkpoint boundary (an RDD scan carrying `c`), and no
  *   projection above the fan-out may recompute c at pair granularity.
  */
class Bm25PlanShapeSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def contains(root: SparkPlan, node: SparkPlan): Boolean =
    root.collectFirst { case p if p eq node => p }.isDefined

  private def aliasesC(pr: ProjectExec): Boolean =
    pr.projectList.exists { case a: Alias => a.name == "c"; case _ => false }

  // ---- Part A: the checkpointed posting plan ----

  test("scoredPostings: c above the LEFT dim join, doc_id exchange, " +
      "surviving doc_id sort") {
    val tf = graft.queries.Retrieval.tfAndQt(s, sfDir)._1
    val qt = tf.where(org.apache.spark.sql.functions.col("doc_id") % 100 === 0)
      .select(org.apache.spark.sql.functions.col("doc_id").as("qid"),
        org.apache.spark.sql.functions.col("tok"))
    val dl = tf.groupBy("doc_id")
      .agg(org.apache.spark.sql.functions.sum("tf").as("dl"))
    val plan = graft.queries.Retrieval.scoredPostings(tf, qt, dl)
      .queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan  // unwrap: AQE's wrapper hides children from collect
        case p => p
      }

    // surviving local sort on doc_id at/near the root — this is the
    // layout the checkpoint freezes for the fan-out stage.
    val sorts = plan.collect {
      case so: SortExec if !so.global &&
        so.sortOrder.exists(_.child.references.exists(_.name == "doc_id")) => so
    }
    assert(sorts.nonEmpty,
      s"the doc_id local sort must SURVIVE in the checkpointed plan:\n$plan")

    // exactly one c projection…
    val cProjs = plan.collect { case pr: ProjectExec if aliasesC(pr) => pr }
    assert(cProjs.size == 1,
      s"c must be computed exactly once at posting granularity " +
        s"(saw ${cProjs.size})")
    val cProj = cProjs.head
    // …above the LEFT dim join (the ReorderJoin barrier carrying dl)…
    assert(cProj.collect {
      case j: BroadcastHashJoinExec if j.joinType == LeftOuter => j
    }.nonEmpty, "the LEFT dl dim join must sit below the c projection")
    // …and below the doc_id exchange feeding the sort.
    val docIdExchanges = plan.collect {
      case e: ShuffleExchangeExec => e.outputPartitioning match {
        case h: HashPartitioning
            if h.expressions.exists(_.references.exists(_.name == "doc_id"))
          => Some(e)
        case _ => None
      }
    }.flatten
    assert(docIdExchanges.exists(contains(_, cProj)),
      "the doc_id Exchange must consume the SCORED postings")
  }

  // ---- Part B: the catalog consumers ----

  private def checkBoundary(name: String): Unit = {
    // the corpus-size gate (sortedLayoutWorthwhile) correctly turns the
    // frozen layout OFF at fixture scale — force it on so the spec pins
    // the shape the gate ships at sf1+.
    s.conf.set("spark.graft.bm25.sortedLayout", "always")
    val plan =
      try SparkEntry.queries(name)(s, sfDir).queryExecution.sparkPlan
      finally s.conf.unset("spark.graft.bm25.sortedLayout")

    // the qt fan-out join(s): broadcast hash join keyed on tok whose
    // build side carries qid.
    val fanOuts = plan.collect {
      case j: BroadcastHashJoinExec
          if j.leftKeys.exists(_.references.exists(_.name == "tok")) &&
            (j.left.output.exists(_.name == "qid") ||
              j.right.output.exists(_.name == "qid")) => j
    }
    assert(fanOuts.nonEmpty, s"$name: no qt fan-out join found")

    // the BM25 arm's streamed side must be the checkpoint boundary —
    // an RDD scan whose output carries the precomputed c column.
    val bm25Boundaries = fanOuts.map { j =>
      val st = if (j.right.output.exists(_.name == "qid")) j.left else j.right
      st
    }.filter(_.collectFirst {
      case r: RDDScanExec if r.output.exists(_.name == "c") => r
    }.isDefined)
    assert(bm25Boundaries.size == 1,
      s"$name: expected exactly one fan-out streaming the checkpointed " +
        s"scored postings (RDD scan with c); saw ${bm25Boundaries.size} " +
        s"of ${fanOuts.size} fan-outs")

    // nothing above the fan-out recomputes c at pair granularity.
    val cProjs = plan.collect { case pr: ProjectExec if aliasesC(pr) => pr }
    assert(cProjs.isEmpty,
      s"$name: c must come precomputed from the checkpoint, not from a " +
        s"projection in the consuming plan (saw ${cProjs.size})")
  }

  test("q120: fan-out streams the checkpointed sorted postings") {
    checkBoundary("q120_bm25_retrieval")
  }

  test("q131: the fused BM25 arm keeps the checkpoint boundary") {
    checkBoundary("q131_rrf_fusion")
  }

  test("q178: the parquet-fed probe keeps the checkpoint boundary") {
    // the estimate-quality regime that flipped the old, luck-based shape:
    // dl's true size is KNOWN here (read from parquet), which is exactly
    // when the reorderer used to sink the dim join below the fan-out.
    checkBoundary("q178_bm25_prebuilt")
  }
}
