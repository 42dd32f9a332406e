package graft.queries

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.storage.StorageLevel

/** The house lineage cut: every materialization a query path shares
  * between consumers or carries across loop rounds goes through
  * [[Lineage.cut]], which returns a frame whose plan is one `LogicalRDD`
  * over the materialized rows.
  *
  * An EAGER cut checkpoints the rows at once, in one job: a local
  * checkpoint (`localCheckpoint`'s executor blocks) unless the session
  * sets `spark.graft.lineage.reliable=true`, in which case it is a
  * reliable checkpoint (`checkpoint`'s files) into
  * `spark.graft.lineage.checkpointDir` (set lazily on first use;
  * defaults to the run path `graft_ckpt`, which is deleted at
  * application end with the other run paths, so the flag is exercisable
  * without extra setup — a real cluster points it at durable shared
  * storage). Local checkpoint blocks are NON-RECOVERABLE on executor
  * loss, the reliable checkpoint's files are not. Default OFF.
  * LineageSpec exercises the reliable path end-to-end.
  *
  * A LAZY cut (`eager = false`) persists the rows under the same
  * `LogicalRDD` instead of marking them for checkpoint: the first job
  * that reads them computes and caches them. A later cut of a frame
  * that reads a lazy cut checkpoints it once a job has cached all its
  * partitions, with the checkpoint the flag picks
  * ([[PlanBridge.truncate]]: a local one runs no job, a reliable one
  * one job writing the cached blocks). So a loop that cuts its state
  * each round carries a round or two of lineage, not all of them. Why
  * not Spark's lazy mark: a marked RDD is checkpointed by whichever
  * thread finishes the first job over it, and when that is a
  * broadcast-exchange thread, `RDDCheckpointData.checkpoint` (holding
  * the `RDDCheckpointData` lock, waiting on an RDD's monitor) deadlocks
  * against the DAG scheduler's event loop (holding that monitor in
  * `getCacheLocs`, waiting on the lock); its truncation also dropped
  * the plan's SQL metrics while other jobs' tasks still updated them
  * ("attempted to access non-existent accumulator"). Here a mark is
  * placed and checkpointed in one call on the thread that cuts, after
  * the jobs that cached the rows.
  *
  * Either way the cut's `LogicalRDD` is the one `Dataset.checkpoint`
  * builds: it keeps the output partitioning and ordering the input's
  * executed plan reports (a `groupBy` on the key a non-adaptive input
  * was hash-partitioned by adds no exchange; an adaptive plan reports
  * none, so under AQE a cut keeps none, as Spark's checkpoint keeps
  * none), and the input's size estimate, clamped at
  * `spark.sql.defaultSizeInBytes` (2^63 − 1 by default, so every finite
  * estimate a one-shot cut sees passes unchanged). The clamp is what
  * bounds a loop's planning cost:
  * Catalyst estimates a join as the PRODUCT of its sides, so a loop that
  * joins each round's cut state against itself or a static side would
  * otherwise compound the estimate round by round — its digit count
  * doubles per round with two references to the state, and by round ~17
  * the driver spends seconds per round multiplying BigInts. Clamped, a
  * cut's estimate stays at most 19 digits at any round depth.
  */
object Lineage {
  val RELIABLE_KEY = "spark.graft.lineage.reliable"
  val DIR_KEY = "spark.graft.lineage.checkpointDir"

  /** A frame whose optimized plan is already a LocalRelation (an
    * in-process tier's output, such as `LocalJaccard.pairs`) comes back
    * unchanged under either flag: it has no lineage to truncate and
    * nothing to materialize, so no job runs and no checkpoint dir is
    * set. */
  def cut(df: DataFrame, eager: Boolean = true): DataFrame =
    if (isLocal(df)) df
    else {
      val rel = df.sparkSession.conf.get(RELIABLE_KEY, "false").toBoolean
      val sc = df.sparkSession.sparkContext
      if (rel && sc.getCheckpointDir.isEmpty)
        sc.setCheckpointDir(checkpointDir(df.sparkSession))
      val ck = PlanBridge.cut(df) { rdd =>
        if (eager) PlanBridge.truncate(rdd, rel)
        else rdd.persist(StorageLevel.MEMORY_AND_DISK)
      }
      // the lazy cuts `df` reads that jobs have fully cached by now
      df.queryExecution.logical.foreach {
        case r: LogicalRDD if PlanBridge.cachedUnmarked(r.rdd) =>
          PlanBridge.truncate(r.rdd, rel)
        case _ =>
      }
      ck
    }

  /** Whether `df` plans as a LocalRelation: driver-held rows, read with
    * no job. */
  private[graft] def isLocal(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  /** The gate of the in-process tiers (`LocalJaccard.pairs`,
    * `LocalRank.collectBounded`): the `cols` rows of `df` if it holds at
    * most `max` of them, else None — one bounded collect either way.
    * The coalesce makes it exactly ONE job at any partition count: a
    * bare `limit(n).collect()` scans partitions in rounds (1, then ×4 …),
    * one job each, until it holds n rows or runs out — 2+ jobs on a
    * small multi-partition frame. One task reads the partitions in order
    * and stops at `max` + 1 rows. A LocalRelation frame is read with no
    * job at all. */
  private[graft] def collectBounded(df: DataFrame, cols: Seq[String],
      max: Int): Option[Array[Row]] = {
    require(max >= 0, s"an in-process bound must be >= 0, got $max")
    val sel = df.select(cols.map(df.col): _*)
    val rows =
      if (isLocal(df)) sel.collect()
      else sel.coalesce(1).limit(max + 1).collect()
    if (rows.length <= max) Some(rows) else None
  }

  /** The reliable cut's checkpoint dir: the session's [[DIR_KEY]], else
    * a run path that application end deletes. */
  private[graft] def checkpointDir(s: SparkSession): String =
    s.conf.getOption(DIR_KEY).getOrElse(Sinks.runPath("graft_ckpt"))

  /** Size gate for the eager multi-consumer materializations: an EAGER
    * cut of a huge base relation pays a full extra materialization job
    * before the first consumer can start — the one suspect sf1 sample
    * was q29's shingle cut reading ~10% hot. Above [[MaxEagerBytes]] of
    * planner size estimate, downgrade to a LAZY cut: still one
    * materialization of the relation for all consumers (plan truncation
    * is identical), just owned by the first consuming job instead of a
    * dedicated pass. Estimates come from `optimizedPlan.stats` —
    * driver-side arithmetic, no action. */
  val MaxEagerBytes: Long = 4L << 30

  def cutBounded(df: DataFrame): DataFrame =
    cut(df, eager = df.queryExecution.optimizedPlan.stats.sizeInBytes <= MaxEagerBytes)

  /** Sugar so call sites read like the localCheckpoint they replace. */
  implicit class LineageOps(private val df: DataFrame) extends AnyVal {
    def cut(eager: Boolean = true): DataFrame = Lineage.cut(df, eager)
    def cutBounded(): DataFrame = Lineage.cutBounded(df)
  }
}
