package graft.queries

import org.apache.spark.sql.DataFrame
import Lineage.LineageOps

/** Shared helper for driver-paced fixpoint loops (q104 pagerank, q65
  * star contraction, q143 BPE training): materialize a round's state
  * AND cut the plan-statistics lineage.
  *
  * Why the second half matters (round-9 finding, caught by jstack on a
  * stalled q104): `Dataset.localCheckpoint` truncates the EXECUTION
  * lineage but INHERITS the origin plan's statistics, and Catalyst's
  * SizeInBytesOnlyStatsPlanVisitor estimates a join as the PRODUCT of
  * its children's sizeInBytes (an unbounded BigInt). In a loop that
  * rebuilds joins on top of the previous round's checkpoint, the
  * inherited estimate compounds multiplicatively: with one reference to
  * the previous state the BigInt's digit count grows linearly per round
  * (quadratic total driver time — the invisible tax r8's loops paid);
  * with two references (the r9 carry-prev delta optimization) digits
  * DOUBLE per round and the driver ends up in seconds-long Toom-Cook-3
  * multiplications around round 17 (measured: 0.4 s/round flat through
  * round 16, then 3.8 → 9.2 → 22 → 58 → 151 s).
  *
  * Rebuilding the frame from the checkpointed RDD through the public
  * createDataFrame API yields a LogicalRDD with FRESH default
  * statistics — constant-size stats per round, flat round cost. The
  * Row round-trip is a linear, per-partition re-encode of already
  * materialized data (no shuffle); static auto-broadcast decisions on
  * the loop state are lost, which AQE's runtime re-planning restores
  * where warranted.
  *
  * The checkpoint is LAZY (`eager = false`): the marked RDD
  * materializes on the loop's own per-round action (q104's delta
  * aggregate, q65's sig(), q143's argmax head) and is reused by every
  * later reference, so a round stays ONE job — an eager checkpoint
  * here would silently re-add the extra job per round that the r8
  * single-job-per-round optimization removed (ADVICE r9).
  *
  * q104/q158 take these cuts only on their DISTRIBUTED tier: the
  * builders cut the pair list once and gate on one bounded collect of
  * it, and a graph of at most `LocalRank.LocalMaxPairs` pairs iterates
  * in the driver instead (`LocalRank`) — no per-round job, no
  * checkpoint, no plan statistics to reset. Larger graphs run
  * `TextOps.converge2` over this object's per-round checkpoints.
  */
object Fixpoint {
  /** Timing caveat (round-10 measurement, q149): even with
    * `eager = false`, building the rebuilt frame touches `ck.rdd`, and
    * under AQE that materializes every INTERMEDIATE query stage of the
    * input subtree right there (AdaptiveSparkPlanExec executes shuffle
    * stages eagerly to re-plan; only the final stage stays lazy). So a
    * loop's CONSTRUCTION — not its first action — pays the input
    * subtree's cost, and per-round wall timers see only final stages.
    * Harmless for correctness and for the one-job-per-round shape, but
    * anyone profiling a fixpoint should put the clock around the
    * whole build, not the first count. */
  def checkpointFresh(df: DataFrame): DataFrame = {
    val ck = df.cut(eager = false)
    ck.sparkSession.createDataFrame(ck.rdd, ck.schema)
  }

  /** Amortized reset interval for [[checkpointRound]]. Between resets
    * the inherited estimate grows ≤ RESET_EVERY doublings — a ≤ ~10³
    * digit BigInt, microseconds of planner arithmetic — and then snaps
    * back to the fresh-stats constant, so planning cost is bounded at
    * ANY round depth. */
  val RESET_EVERY = 8

  /** Per-round checkpoint for a loop's CARRIED state (r10, after a
    * measured A/B): `checkpointFresh` every round costs an extra
    * exchange per round — the createDataFrame rebuild forgets the
    * round output's hash partitioning, so the next round re-shuffles
    * state that was already partitioned on the loop key. Measured on
    * q65+q102+q143 at sf0.1 (tagged bench artifacts): 19.2 s total
    * with a reset every round vs 15.0 s with plain checkpoints vs
    * ~16.2 s amortized — and q104's per-round time is 0.3–0.4 s flat
    * through 47 rounds under the amortized form (round-10 measurement),
    * identical to the every-round-reset shape. The plain lazy
    * `localCheckpoint` keeps the partitioning but inherits compounding
    * stats; taking it RESET_EVERY−1 rounds out of RESET_EVERY bounds
    * the stats BigInt to a trivial size while keeping the
    * exchange-free round shape. Round numbers are 1-based.
    *
    * Single-step form: the loop advanced one round, so the previous
    * round is `round - 1`. */
  def checkpointRound(df: DataFrame, round: Int): DataFrame =
    checkpointRound(df, round, round - 1)

  /** Stride-aware form (ADVICE r13): a loop that materializes SEVERAL
    * rounds per job (TextOps.converge2's unroll) calls this with the
    * job's end round and the round it carried IN. The old
    * `round % RESET_EVERY == 0` test only fired when a stride happened
    * to LAND on a multiple of RESET_EVERY — for strides that don't
    * divide it (3, 5, 6, 7; unroll 6 is actively benched) the reset
    * degraded to every lcm(stride, RESET_EVERY) = 24–56 rounds,
    * re-admitting the compounding sizeInBytes growth the reset exists
    * to bound (multiplied, post-unroll, through steps+1 join references
    * per job). Firing on CROSSING a multiple — any multiple of
    * RESET_EVERY in (prevRound, round] — keeps the amortization bound
    * (≤ RESET_EVERY + stride − 1 rounds of inherited-stats growth
    * between resets) for every stride, and is identical to the old
    * test at stride 1. */
  def checkpointRound(df: DataFrame, round: Int, prevRound: Int): DataFrame =
    if (prevRound / RESET_EVERY < round / RESET_EVERY) checkpointFresh(df)
    else df.cut(eager = false)
}
