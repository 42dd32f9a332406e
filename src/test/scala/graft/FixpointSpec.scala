package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Lineage

/** Pins the plan-statistics contract the driver-paced loops (q104
  * pagerank, q65 star contraction, q143 BPE training, k-core, BFS,
  * HITS) rely on: a loop that cuts each round's state with
  * `Lineage.cut` must NOT let plan-statistics estimates compound across
  * rounds. `localCheckpoint` truncates execution lineage but inherits
  * the origin plan's stats, and Catalyst estimates a join as the
  * product of its sides, so a loop joining its state against a static
  * side multiplies the inherited sizeInBytes every round (the r9
  * forensic: seconds-long BigInt multiplications in the driver by round
  * ~17). The cut clamps its estimate at `spark.sql.defaultSizeInBytes`,
  * so a cut's estimate stays at most 19 digits at any round depth, and
  * it keeps its input's partitioning.
  *
  * The assertions are on the stats BigInt itself (deterministic), not on
  * wall-clock — the digit count IS the planning-time driver. */
class FixpointSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark

  /** One fixpoint-shaped round: compose the loop state with the base
    * edge relation (u→u+1), i.e. advance every chain one hop — the
    * q104/q65 shape of joining round state against a static side. */
  private def step(e: DataFrame, base: DataFrame): DataFrame = {
    val l = e.select(col("u").as("lu"), col("v").as("lv"))
    l.join(base, col("lv") === col("u"))
      .select(col("lu").as("u"), col("v"))
  }

  private def chain(n: Int): DataFrame =
    s.range(n).select(col("id").as("u"), (col("id") + 1).as("v"))

  private def digits(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.stats.sizeInBytes.toString.length

  // The three loop tests keep the names they had when the loops cut
  // with checkpointFresh and checkpointRound (since replaced by
  // Lineage.cut): the estimate bound they pin is the same contract.

  test("checkpointFresh keeps per-round plan-size estimates flat where " +
      "plain localCheckpoint compounds them (VERDICT r9 #2)") {
    val e0 = chain(32)
    val rounds = 12 // ~2x the shipped loops' sf0.1 round counts (5-8)

    // Foil: the inherited-stats path. Digit count must GROW: if Spark
    // ever starts resetting stats in localCheckpoint, the cut's clamp
    // (and this spec) can be retired.
    var plain = step(e0, e0).localCheckpoint(false)
    val d0 = digits(plain)
    var dPrev = d0
    var grew = false
    for (_ <- 2 to rounds) {
      plain = step(plain, e0).localCheckpoint(false)
      val d = digits(plain)
      grew ||= d > dPrev
      dPrev = d
    }
    assert(grew && dPrev > 2 * d0,
      s"foil did not compound: round-1 $d0 digits, round-$rounds $dPrev")

    // The shipped path: the cut's estimate climbs to the clamp, then
    // stays flat at it for every later round.
    val (st, ds) = cutLoop(e0, rounds, stride = 1)
    val at = ds.indexOf(19)
    assert(at >= 0, s"clamp never reached in $rounds rounds: $ds")
    assert(ds.take(at).forall(_ < 19) && ds.drop(at).forall(_ == 19),
      s"estimates not flat at the clamp: $ds")
    // and the loop still computes the right thing on the data path:
    // u -> u+rounds edges survive all rounds for the surviving range
    assertHops(st, 32, rounds)
  }

  test("checkpointRound bounds estimates to the reset window at any " +
      "depth (the shipped amortized form)") {
    // 60 rounds, a lazy cut after every step
    val e0 = chain(128)
    val (st, ds) = cutLoop(e0, 60, stride = 1)
    assert(ds.forall(_ <= 19), s"estimates escaped: $ds")
    // the clamp is doing the work: one more uncut step compounds past it
    assert(digits(step(st, e0)) > 19, s"clamp never bound: $ds")
    assertHops(st, 128, 60)
  }

  test("the stride-aware form resets on CROSSING a window boundary for " +
      "strides that don't divide RESET_EVERY (ADVICE r13)") {
    // 60 rounds, a lazy cut after every third step (converge2's shape:
    // several rounds per job)
    val e0 = chain(128)
    val (st, ds) = cutLoop(e0, 60, stride = 3)
    assert(ds.forall(_ <= 19), s"stride-3 estimates escaped: $ds")
    assert(digits(step(step(step(st, e0), e0), e0)) > 19,
      s"clamp never bound: $ds")
    assertHops(st, 128, 60)
  }

  /** Runs `rounds` steps over `e0`, a lazy `Lineage.cut` after every
    * `stride` of them; returns the final state and each cut's digits. */
  private def cutLoop(e0: DataFrame, rounds: Int, stride: Int)
      : (DataFrame, Seq[Int]) = {
    def job(st: DataFrame) = (1 to stride).foldLeft(st)((d, _) => step(d, e0))
    var st = Lineage.cut(job(e0), eager = false)
    val ds = scala.collection.mutable.ArrayBuffer(digits(st))
    for (_ <- 2 to rounds / stride) {
      st = Lineage.cut(job(st), eager = false)
      ds += digits(st)
    }
    (st, ds.toSeq)
  }

  /** `rounds` hops over an n-chain leave u -> u+rounds+1 for n-rounds u. */
  private def assertHops(st: DataFrame, n: Int, rounds: Int): Unit = {
    val got = st.orderBy("u").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == n - rounds)
    assert(got.forall { case (u, v) => v == u + rounds + 1 })
  }

  private def exchanges(df: DataFrame): Int =
    df.queryExecution.executedPlan.collect { case e: ShuffleExchangeExec => e }
      .size

  test("a cut keeps its input's hash partitioning for a groupBy") {
    // eager and lazy: a groupBy on the partitioning key adds no Exchange.
    // Non-adaptive plans: an adaptive plan reports no partitioning, so
    // under AQE neither a cut nor Spark's own checkpoint keeps any.
    val aqe = "spark.sql.adaptive.enabled"
    val prev = s.conf.getOption(aqe)
    s.conf.set(aqe, "false")
    try {
      val df = s.range(1000)
        .select((col("id") % 37).as("k"), col("id").as("x"))
        .repartition(8, col("k"))
      def agg(d: DataFrame) = d.groupBy("k").agg(sum("x").as("sx"))
      val expected = agg(df).orderBy("k").collect().toSeq
      for (eager <- Seq(true, false)) {
        val c = Lineage.cut(df, eager)
        assert(exchanges(agg(c)) === 0, s"eager=$eager")
        assert(agg(c).orderBy("k").collect().toSeq === expected)
      }
      // foil: a Row round trip of the same rows forgets the partitioning
      val c = Lineage.cut(df)
      assert(exchanges(agg(s.createDataFrame(c.rdd, c.schema))) === 1)
    } finally prev.fold(s.conf.unset(aqe))(s.conf.set(aqe, _))
  }
}
