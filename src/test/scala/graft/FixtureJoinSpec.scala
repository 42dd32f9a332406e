package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.exchange.Exchange
import org.scalatest.funsuite.AnyFunSuite

/** Joins of two fixtures run inside the fixtures' one task. Every
  * `Poster.fx` scan is one partition, and so is `Poster.grid`, which
  * explodes each blob's params row into its cells. A `shuffle_hash` join
  * of two of them needs no exchange and no broadcast: q45 (grid ⋈ vertex
  * arrays, then the point-in-polygon expression and the root sort), q14
  * (params ⋈ palette) and q79 (vertices ⋈ params) each run one job. q45
  * stays row-for-row the relational parity join q17, whose cells come
  * from a range spread over the cores, and keeps its one job whether or
  * not AQE runs and whether or not a broadcast threshold is set. */
class FixtureJoinSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val s = TestSpark.spark

  /** Catalog query `name` on `on`; these read only the fixtures, so no
    * scale-factor dir is passed. */
  private def q(name: String, on: SparkSession = s): DataFrame =
    SparkEntry.queries(name)(on, "")

  /** q45's rows from the shared session. */
  private lazy val q45Rows: Seq[Row] = q("q45_pip_expr").collect().toSeq

  test("q45 equals q17_point_in_polygon row for row, with the same schema") {
    val pip = q("q45_pip_expr")
    val parity = q("q17_point_in_polygon")
    assert(pip.schema === parity.schema)
    val rows = parity.collect().toSeq
    assert(rows.length === 14 * 64 * 64)
    assert(q45Rows === rows)
  }

  for (name <- Seq("q45_pip_expr", "q14_palette", "q79_polar_vertices"))
    test(s"$name's final plan has no broadcast and no shuffle exchange") {
      val df = q(name)
      df.collect()
      val plan = df.queryExecution.executedPlan
      assert(plan.asInstanceOf[AdaptiveSparkPlanExec].isFinalPlan, plan)
      // collect descends into the query stages of the final plan
      assert(collect(plan) { case e: Exchange => e }.isEmpty, plan)
    }

  test("q45 runs 1 stage") {
    val df = q("q45_pip_expr")
    val stages = TestSpark.stagesOf(
      df.write.format("noop").mode("overwrite").save())
    assert(stages.length === 1, stages.map(_.name))
  }

  /** q45 on a session of its own with `conf` set: the same rows as on the
    * shared session, built and collected in 1 job. */
  private def oneJobUnder(conf: (String, String)): Unit = {
    val c = s.newSession()
    c.conf.set(conf._1, conf._2)
    var rows = Seq.empty[Row]
    assert(TestSpark.jobsOf { rows = q("q45_pip_expr", c).collect().toSeq }
      === 1)
    assert(rows === q45Rows)
  }

  test("q45 keeps its rows and 1 job with AQE off") {
    oneJobUnder("spark.sql.adaptive.enabled" -> "false")
  }

  test("q45 keeps its rows and 1 job with no broadcast threshold") {
    oneJobUnder("spark.sql.autoBroadcastJoinThreshold" -> "-1")
  }
}
