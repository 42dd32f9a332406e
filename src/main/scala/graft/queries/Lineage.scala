package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation

/** The house lineage-cut routed through ONE switch (VERDICT r16 #4).
  *
  * Every multi-consumer / loop-carried materialization in the query
  * paths cuts lineage with `localCheckpoint` — the right local call
  * (no checkpoint dir, executor-memory/disk blocks, plan truncation) —
  * but localCheckpointed blocks are NON-RECOVERABLE on executor loss:
  * at real cluster scale a lost executor fails the whole job instead of
  * recomputing lineage, because the lineage was cut and the blocks are
  * not replicated. A 100 TB deployment therefore wants the RELIABLE
  * `Dataset.checkpoint` (checkpoint-dir files survive executor loss)
  * for exactly these sites, at the cost of writing each cut relation to
  * the checkpoint filesystem.
  *
  * `Lineage.cut(df, eager)` is `df.localCheckpoint(eager)` unless the
  * session sets `spark.graft.lineage.reliable=true`, in which case it is
  * `df.checkpoint(eager)` against `spark.graft.lineage.checkpointDir`
  * (set lazily on first use; defaults to the run path `graft_ckpt`, which
  * is deleted at application end with the other run paths, so the flag
  * is exercisable without extra setup — a real cluster points it at
  * durable shared storage). Default OFF: the local bench contract and
  * every measured plan are byte-identical to the pre-flag tree.
  *
  * Semantics note: both calls truncate the logical plan to the same
  * LogicalRDD shape and preserve the input's partitioning, so query
  * results and downstream plan shapes do not depend on the flag — only
  * the fault-tolerance story (and the write target) does. LineageSpec
  * exercises the reliable path end-to-end.
  */
object Lineage {
  val RELIABLE_KEY = "spark.graft.lineage.reliable"
  val DIR_KEY = "spark.graft.lineage.checkpointDir"

  private def reliable(df: DataFrame): Boolean =
    df.sparkSession.conf.get(RELIABLE_KEY, "false").toBoolean

  /** A frame whose optimized plan is already a LocalRelation (an
    * in-process tier's output, such as `LocalJaccard.pairs`) comes back
    * unchanged under either flag: it has no lineage to truncate and
    * nothing to materialize, so no job runs and no checkpoint dir is
    * set. */
  def cut(df: DataFrame, eager: Boolean = true): DataFrame =
    if (isLocal(df)) df
    else if (!reliable(df)) df.localCheckpoint(eager)
    else {
      val sc = df.sparkSession.sparkContext
      if (sc.getCheckpointDir.isEmpty)
        sc.setCheckpointDir(checkpointDir(df.sparkSession))
      df.checkpoint(eager)
    }

  /** Whether `df` plans as a LocalRelation: driver-held rows, read with
    * no job. */
  private[graft] def isLocal(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  /** The reliable cut's checkpoint dir: the session's [[DIR_KEY]], else
    * a run path that application end deletes. */
  private[graft] def checkpointDir(s: SparkSession): String =
    s.conf.getOption(DIR_KEY).getOrElse(Sinks.runPath("graft_ckpt"))

  /** Size gate for the eager multi-consumer materializations (VERDICT
    * r16 #3): an EAGER cut of a huge base relation pays a full extra
    * materialization job before the first consumer can start — the one
    * suspect sf1 sample was q29's shingle cut reading ~10% hot. Above
    * the (conf-gated) planner size estimate, downgrade to a LAZY cut:
    * still one materialization of the relation for all consumers (plan
    * truncation is identical), just owned by the first consuming job
    * instead of a dedicated pass. Estimates come from
    * `optimizedPlan.stats` — driver-side arithmetic, no action. */
  val MAX_EAGER_KEY = "spark.graft.ckpt.maxEagerBytes"
  val MAX_EAGER_DEFAULT: Long = 4L << 30

  def cutBounded(df: DataFrame): DataFrame = {
    val cap = df.sparkSession.conf
      .get(MAX_EAGER_KEY, MAX_EAGER_DEFAULT.toString).toLong
    cut(df, eager = df.queryExecution.optimizedPlan.stats.sizeInBytes <= cap)
  }

  /** Sugar so call sites read like the localCheckpoint they replace. */
  implicit class LineageOps(private val df: DataFrame) extends AnyVal {
    def cut(): DataFrame = Lineage.cut(df)
    def cut(eager: Boolean): DataFrame = Lineage.cut(df, eager)
    def cutBounded(): DataFrame = Lineage.cutBounded(df)
  }
}
