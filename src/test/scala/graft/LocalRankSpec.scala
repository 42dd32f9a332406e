package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{Lineage, LocalRank, TextOps}

/** The in-process tier of q104/q158 against the distributed tier
  * (`converge2`, forced with bound 0), bit for bit: same rows and
  * schema, same lowest converging cap, the same cap-failure message one
  * round below it, the same empty-graph schema and the same seedless
  * failure. Graph: ConvergeUnrollSpec's path 10—1—2—3 plus the 5-cycle
  * 20…24 joined at 1—20 (two seeds, 10 and 20). */
class LocalRankSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark

  private val pairs = Seq(
    (10L, 1L), (1L, 2L), (2L, 3L),
    (1L, 20L), (20L, 21L), (21L, 22L), (22L, 23L), (23L, 24L), (24L, 20L))

  private def df(ps: Seq[(Long, Long)]): DataFrame = {
    import s.implicits._
    ps.toDF("u", "v")
  }

  private type Tier = (DataFrame, Int, Int) => DataFrame
  private val pr: Tier = (p, cap, bound) =>
    TextOps.pageRankConverged(p, cap, 1, bound)
  private val ppr: Tier = (p, cap, bound) =>
    TextOps.pprConverged(p, cap, 1, bound)
  private val local = LocalRank.LocalMaxPairs

  private def sorted(d: DataFrame): Seq[Row] =
    d.orderBy("doc_id").collect().toSeq

  private def isLocal(d: DataFrame): Boolean =
    d.queryExecution.analyzed.isInstanceOf[LocalRelation]

  /** Rows and schema of both tiers agree, and each tier really ran. */
  private def assertSameTiers(run: Tier, p: DataFrame, cap: Int): Unit = {
    val in = run(p, cap, local)
    val dist = run(p, cap, 0)
    assert(isLocal(in) && !isLocal(dist))
    assert(in.schema === dist.schema)
    assert(sorted(in) === sorted(dist))
  }

  /** The lowest cap the in-process loop converges under, found on the
    * driver-side graph alone (no Spark job per probe). */
  private def lowestCap(restart: Array[Long] => Array[Boolean],
      tag: String): Int = {
    val g = new LocalRank.Graph(df(pairs).collect())
    val mask = restart(g.ids)
    (1 to 200).find { c =>
      try { g.converge(mask, c, tag); true }
      catch { case _: IllegalStateException => false }
    }.get
  }

  private val everyNode = (ids: Array[Long]) => ids.map(_ => true)
  private val seeds = (ids: Array[Long]) =>
    ids.map(id => Math.floorMod(id, TextOps.PPR_SEED_MOD) == 0L)

  for ((tag, run, restart, cap) <- Seq(
      ("pr", pr, everyNode, TextOps.PR_CAP),
      ("ppr", ppr, seeds, TextOps.PPR_CAP))) {

    test(s"$tag: the in-process tier matches the distributed tier") {
      assertSameTiers(run, df(pairs), cap)
    }

    test(s"$tag: duplicate pairs and self-loops count as the edge union does") {
      val extra = pairs ++ Seq((1L, 2L), (22L, 22L), (30L, 31L))
      assertSameTiers(run, df(extra), cap)
    }

    test(s"$tag: both tiers converge at the lowest cap and fail one below") {
      val lowest = lowestCap(restart, tag)
      assert(lowest > 8, "the fixture must need several rounds")
      assertSameTiers(run, df(pairs), lowest)
      def failure(bound: Int) = intercept[IllegalStateException](
        run(df(pairs), lowest - 1, bound).collect()).getMessage
      val msg = failure(local)
      assert(msg.contains(s"within ${lowest - 1} iterations"))
      assert(msg === failure(0))
    }

    test(s"$tag: an empty pair list returns no rows in the same schema") {
      val empty = run(df(Nil), cap, local)
      assert(isLocal(empty))
      assert(empty.collect().isEmpty)
      assert(empty.schema === run(df(pairs), cap, 0).schema)
    }
  }

  /** 300 pairs over 123 nodes (13 seeds), uneven degrees, one
    * self-loop, read from `parts` partitions. */
  private def graph300(parts: Int): DataFrame =
    s.range(300).repartition(parts)
      .select((col("id") % 61).as("u"),
        ((col("id") * 37 + 11) % 83 + 40).as("v"))

  test("the tiers agree on a 300-pair graph over several partitions") {
    assertSameTiers(pr, graph300(3), TextOps.PR_CAP)
    assertSameTiers(ppr, graph300(3), TextOps.PPR_CAP)
  }

  test("the distributed tier is layout-free under 7 input and shuffle partitions") {
    // the catalog runs q104/q158 in-process at every tested scale, so
    // PartitionInvarianceSpec never reaches converge2: force it here,
    // at the default unroll, against the default layout
    val dist = Seq[DataFrame => DataFrame](
      TextOps.pageRankConverged(_, localMax = 0),
      TextOps.pprConverged(_, localMax = 0))
    val baseline = dist.map(run => sorted(run(graph300(3))))
    val conf = s.conf
    val prev = conf.get("spark.sql.shuffle.partitions")
    try {
      conf.set("spark.sql.shuffle.partitions", "7")
      for ((run, rows) <- dist.zip(baseline)) {
        val d = run(graph300(7))
        assert(!isLocal(d))
        assert(sorted(d) === rows)
      }
    } finally conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** The messages of the "non-existent accumulator" errors the DAG
    * scheduler logs while `body` runs: task updates to accumulators the
    * driver has already dropped, such as the SQL metrics of a plan that
    * was collected while its tasks still ran. */
  private def orphanedAccumulators(body: => Unit): Seq[String] = {
    // the root logger of the context Spark logs through (log4j picks
    // one per class loader)
    val ctx = LogManager
      .getContext(classOf[org.apache.spark.SparkContext].getClassLoader, false)
      .asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    val seen = new ConcurrentLinkedQueue[String]
    val capture = new AbstractAppender("orphaned-accumulators", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        Option(e.getThrown).map(_.getMessage)
          .filter(_.contains("non-existent accumulator")).foreach(seen.add)
    }
    capture.start()
    root.addAppender(capture, null, null)
    ctx.updateLoggers()
    try body
    finally {
      root.removeAppender(capture.getName)
      ctx.updateLoggers()
      capture.stop()
    }
    seen.asScala.toSeq
  }

  test("the distributed tier's loop orphans no accumulator") {
    // at the default unroll, as the catalog runs it: lazily checkpointed
    // round state once had its plans' metrics dropped while other jobs'
    // tasks still updated them
    val found = orphanedAccumulators {
      for (_ <- 1 to 3; p <- Seq(df(pairs), graph300(3))) {
        TextOps.pageRankConverged(p, localMax = 0).collect()
        TextOps.pprConverged(p, localMax = 0).collect()
      }
    }
    assert(found.isEmpty, s"${found.size} orphaned: ${found.take(3)}")
  }

  test("the gate: up to the bound runs in-process, one pair over does not") {
    val n = pairs.size
    assert(isLocal(pr(df(pairs), TextOps.PR_CAP, n)))
    assert(!isLocal(pr(df(pairs), TextOps.PR_CAP, n - 1)))
  }

  test("the gate is one job over a multi-partition cut, either side") {
    val p = Lineage.cut(df(pairs).repartition(4))
    assert(p.rdd.getNumPartitions === 4)
    for (bound <- Seq(0, pairs.size - 1, pairs.size, local))
      assert(TestSpark.jobsOf(LocalRank.collectBounded(p, bound)) === 1, s"bound $bound")
  }

  test("a LocalRelation pair list is cut and gated with no job") {
    // the in-process jaccardPairs tier hands q104/q158 such a list
    for (bound <- Seq(0, pairs.size - 1, pairs.size, local)) {
      var rows: Option[Array[Row]] = None
      assert(TestSpark.jobsOf {
        rows = LocalRank.collectBounded(Lineage.cut(df(pairs)), bound)
      } === 0, s"bound $bound")
      assert(rows.map(_.length) === Some(pairs.size).filter(_ <= bound))
    }
    assert(TestSpark.jobsOf(pr(df(pairs), TextOps.PR_CAP, local)) === 0)
    assert(TestSpark.jobsOf(ppr(df(pairs), TextOps.PPR_CAP, local)) === 0)
  }

  test("the in-process tier runs two jobs in all: the cut and the gate") {
    val p = Lineage.cut(df(pairs).repartition(4))
    assert(TestSpark.jobsOf(pr(p, TextOps.PR_CAP, local).collect()) === 2)
    assert(TestSpark.jobsOf(ppr(p, TextOps.PPR_CAP, local).collect()) === 2)
  }

  test("the in-process frame sorts by doc_id in one job") {
    val d = pr(df(pairs), TextOps.PR_CAP, local)
    assert(isLocal(d))
    var rows = Seq.empty[Row]
    assert(TestSpark.jobsOf { rows = sorted(d) } === 1)
    assert(rows.map(_.getAs[Long]("doc_id")) === rows.map(_.getAs[Long]("doc_id")).sorted)
  }

  test("ppr: a seedless graph fails loud in the in-process tier") {
    val e = intercept[IllegalStateException](
      ppr(df(Seq((1L, 2L), (2L, 3L))), TextOps.PPR_CAP, local).collect())
    assert(e.getMessage.contains("no seed nodes"))
  }
}
