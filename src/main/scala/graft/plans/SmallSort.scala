package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sort}
import org.apache.spark.sql.execution.{CoalesceExec, SortExec, SparkPlan,
  SparkStrategy}
import org.apache.spark.sql.internal.SQLConf

/** Sorts a small batch result in one task. Spark plans every global
  * `orderBy` as a range exchange: a RangePartitioner sampling job (which
  * re-runs the child just to pick bounds), a map job writing the
  * exchange, then the sorting result job. On this catalog's tiny results
  * (14 blob summaries, 37 kernel taps, a 55-row PageRank table) those
  * jobs are the whole cost, not the data.
  *
  * A global Sort over a non-streaming child whose estimated size is at
  * most `spark.sql.autoBroadcastJoinThreshold` — the conf Spark already
  * uses to decide a relation is small enough to ship whole to one place
  * (≤ 0 turns this off too) — plans as
  * `SortExec(global) ← CoalesceExec(1) ← child`. SinglePartition
  * satisfies the sort's OrderedDistribution, so EnsureRequirements adds
  * no exchange and nothing samples. Every other sort falls through to
  * Spark's BasicOperators. The coalesce is narrow, so the child's last
  * stage runs in that one task as well; under AQE the rule also sees the
  * runtime sizes of materialized stages, as join selection does.
  *
  * So a small result must not sit on heavy narrow work. A variant of q46
  * that folded its tiles per blob inside the tile tasks, with no shuffle
  * before the 14-row sort, ran the whole 400² rasterization in 1 task
  * instead of one per core (median warm execution on local[4]:
  * 0.26–0.27 s → 0.39–0.47 s). q46 keeps its shuffle fold, and
  * FullScaleGoldenSpec pins its tile stage at min(98,
  * defaultParallelism) tasks.
  *
  * Injected via GraftExtensions (and ensureRegistered for sessions built
  * without the extensions conf). */
object SmallSortStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Sort(order, true, child, _) if !child.isStreaming && small(child) =>
      SortExec(order, global = true, CoalesceExec(1, planLater(child))) :: Nil
    case _ => Nil
  }

  private def small(child: LogicalPlan): Boolean = {
    val threshold = SQLConf.get.autoBroadcastJoinThreshold
    threshold > 0 && child.stats.sizeInBytes <= threshold
  }
}
