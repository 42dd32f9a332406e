package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.{BlockId, RDDBlockId, StorageLevel}

/** The one `org.apache.spark.sql.*` file in this repo (original code, NOT
  * copied from Spark): package-visibility bridges to `private[sql]` and
  * `private[spark]` members. `classic.Dataset.ofRows` — the only
  * constructor that wraps a raw `LogicalPlan` into a `DataFrame` — lets
  * a library introduce its own logical operator (graft.plans.AsOfJoinPlan);
  * `LogicalRDD`, `SQLExecution`, the checkpoint mark and the block
  * manager let `graft.queries.Lineage` build and truncate its cuts.
  * Everything else lives under `graft.*`. */
object PlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `NormalizeFloatingNumbers.normalize` is `private[sql]`; the as-of
    * operator needs it so float/double join keys get the same -0.0/NaN
    * canonicalization Spark applies to built-in join keys. */
  def normalizeFloats(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers
      .normalize(e)

  /** A lineage cut of `df`: the rows of its executed plan as an RDD,
    * `mark`ed (persisted, or checkpointed) under the plan's own SQL
    * execution id, as `Dataset.checkpoint` runs it, and the frame over
    * them whose plan is the `LogicalRDD` that `Dataset.checkpoint`
    * builds — the executed plan's output partitioning and ordering (an
    * adaptive plan reports none) — with its size estimate clamped at
    * `spark.sql.defaultSizeInBytes`. */
  def cut(df: DataFrame)(mark: RDD[InternalRow] => Unit): DataFrame = {
    val qe = classic(df).queryExecution
    val rdd = SQLExecution.withNewExecutionId(qe, Some("cut")) {
      val r = qe.executedPlan.execute().map(_.copy()); mark(r); r
    }
    val r = LogicalRDD.fromDataset(rdd, classic(df), false)
    val size = r.stats.sizeInBytes.min(qe.sparkSession.sessionState.conf.defaultSizeInBytes)
    ofRows(df.sparkSession, r.copy()(qe.sparkSession,
      Some(r.stats.copy(sizeInBytes = size)), Some(r.constraints)))
  }

  /** Whether `rdd` is persisted, not marked for checkpoint, and has a
    * cached block for every partition: a lazy cut a job has computed.
    * One block manager lookup, no job. */
  def cachedUnmarked(rdd: RDD[_]): Boolean =
    rdd.getStorageLevel != StorageLevel.NONE && rdd.checkpointData.isEmpty &&
      rdd.sparkContext.env.blockManager.master.getLocations(
        rdd.partitions.indices.map(i => RDDBlockId(rdd.id, i): BlockId).toArray)
        .forall(_.nonEmpty)

  /** Marks `rdd` for a local checkpoint, or a reliable one into the
    * context's checkpoint dir, and checkpoints it now, on this thread:
    * its lineage is truncated when this returns. A local checkpoint runs
    * a job only for partitions not cached yet; a reliable one runs one
    * job writing every partition. This calls `RDDCheckpointData
    * .checkpoint` directly, because `RDD.doCheckpoint` skips an RDD that
    * a finished job has already walked. */
  def truncate(rdd: RDD[_], reliable: Boolean): Unit = {
    if (reliable) rdd.checkpoint() else rdd.localCheckpoint()
    rdd.checkpointData.foreach(_.checkpoint())
  }

  private def classic(df: DataFrame) =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
}
