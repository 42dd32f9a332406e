package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionSet,
  SortOrder}
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join,
  LogicalPlan, Project, Range, Repartition, ResolvedHint, Sort}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.execution.{CoalesceExec, SortExec, SparkPlan,
  SparkStrategy}
import org.apache.spark.sql.execution.adaptive.LogicalQueryStage
import org.apache.spark.sql.internal.SQLConf

/** Sorts a small batch result in one task. Spark plans every global
  * `orderBy` as a range exchange: a RangePartitioner sampling job (which
  * re-runs the child just to pick bounds), a map job writing the
  * exchange, then the sorting result job. On this catalog's tiny results
  * (14 blob summaries, 37 kernel taps, a 55-row PageRank table, q17's
  * 57,344 parity-join cells) those jobs are the whole cost, not the data.
  *
  * A global Sort over a non-streaming child that is small plans as
  * `SortExec(global) ← CoalesceExec(1) ← child`. SinglePartition
  * satisfies the sort's OrderedDistribution, so EnsureRequirements adds
  * no exchange and nothing samples. Every other sort falls through to
  * Spark's BasicOperators. The coalesce is narrow, so the child's last
  * stage runs in that one task as well.
  *
  * Small means at most `spark.sql.autoBroadcastJoinThreshold`, the conf
  * Spark already uses to decide a relation is small enough to ship whole
  * to one place (≤ 0 turns this off too), by either of two tests:
  *  - the child's estimated size. Under AQE this is the runtime size of a
  *    materialized stage, as join selection sees it.
  *  - when the estimate carries no row count (Spark's guess, not a
  *    measurement): an upper bound on the child's rows ([[rowBound]])
  *    times the default width of its output row. Spark sizes a join as
  *    the product of its sides' bytes, so a 4,096-row range crossed
  *    with 14 broadcast rows, then joined to one row per key (the grid
  *    shape SmallSortSpec pins, q45's former plan), estimates far over
  *    the threshold once its broadcasts have run; its bound is 57,344
  *    rows × 32 B ≈ 1.8 MB. A runtime row count is not used this way,
  *    because the default width of a string underestimates wide rows.
  *
  * So a small result must not sit on heavy narrow work, and one kind is
  * left to Spark: a child that is ordered globally by construction in
  * the sort's order, a Range with a positive step seen through
  * projections and filters ([[rangeOrdered]]). Spark's range reports
  * range partitioning and ordering on its id, so its own sort adds no
  * exchange and is dropped, and the range's slices stay parallel. q46
  * is that shape: one slice per blob id, each rasterizing its blob's
  * 400² cells; under `Coalesce 1` all 14 blobs ran in one task.
  * FullScaleGoldenSpec pins its one task per blob id.
  *
  * The 64-grid queries that sort their cells (q15, q18–q22, q45) run in
  * one task with or without this rule: `Poster.grid` is one partition,
  * so the sort's child is SinglePartition already and Spark's own sort
  * adds no exchange. q17 spreads its 16M-row parity join over the
  * cores, and the rule then sorts its 57,344 aggregated cells in one
  * task.
  *
  * Injected via GraftExtensions (and ensureRegistered for sessions built
  * without the extensions conf). */
object SmallSortStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Sort(order, true, child, _) if !child.isStreaming && small(child) &&
        !rangeOrdered(child, order) =>
      SortExec(order, global = true, CoalesceExec(1, planLater(child))) :: Nil
    case _ => Nil
  }

  /** Whether `child` is ordered globally by construction in `order`: a
    * Range with a positive step, seen through projections and filters,
    * whose ordering (aliases included) satisfies the sort. Spark's range
    * reports range partitioning on that ordering, so Spark's own sort adds
    * no exchange and drops the sort, and the range's slices stay parallel.
    * The logical ordering alone is not enough: a `sortWithinPartitions`
    * child reports one too, but only within each partition. */
  private def rangeOrdered(child: LogicalPlan, order: Seq[SortOrder]): Boolean = {
    def fromRange(p: LogicalPlan): Boolean = p match {
      case r: Range => r.step > 0
      case Project(_, c) => fromRange(c)
      case Filter(_, c) => fromRange(c)
      case _ => false
    }
    fromRange(child) && SortOrder.orderingSatisfies(child.outputOrdering, order)
  }

  private def small(child: LogicalPlan): Boolean = {
    val threshold = SQLConf.get.autoBroadcastJoinThreshold
    val stats = child.stats
    threshold > 0 && (stats.sizeInBytes <= threshold ||
      stats.rowCount.isEmpty && rowBound(child).exists(
        _ * EstimationUtils.getSizePerRow(child.output) <= threshold))
  }

  /** An upper bound on the rows of `p`, if one is known: the least of
    * Spark's `maxRows` and a bound that also sees through joins. A
    * projection, filter, repartition, hint or aggregate has at most its
    * child's rows; an inner or cross join at most the product of its
    * sides'; an inner equi-join whose other side is unique on its join
    * keys at most the first side's. */
  private def rowBound(p: LogicalPlan): Option[BigInt] = {
    val derived = p match {
      case _: Project | _: Filter | _: Repartition | _: ResolvedHint |
          _: Aggregate =>
        rowBound(p.children.head)
      case ExtractEquiJoinKeys(Inner, _, rk, _, _, l, r, _) if unique(r, rk) =>
        rowBound(l)
      case ExtractEquiJoinKeys(Inner, lk, _, _, _, l, r, _) if unique(l, lk) =>
        rowBound(r)
      case Join(l, r, Inner | Cross, _, _) =>
        for (a <- rowBound(l); b <- rowBound(r)) yield a * b
      case _ => None
    }
    (derived ++ p.maxRows.map(BigInt(_))).minOption
  }

  /** Whether no two rows of `side` share a value of `keys`. A query stage
    * reports no distinct keys of its own, so read its logical plan's. */
  private def unique(side: LogicalPlan, keys: Seq[Expression]): Boolean = {
    val distinct = side match {
      case q: LogicalQueryStage => q.logicalPlan.distinctKeys
      case _ => side.distinctKeys
    }
    distinct.exists(_.subsetOf(ExpressionSet(keys)))
  }
}
