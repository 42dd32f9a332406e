package graft

import scala.io.Source

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Spark job budgets from `job_budget.tsv`, whose rows are the 18
  * poster-family queries (q13–q23, q45, q46, q52, q53, q138, q141,
  * q186), the fixture join q79 and a few other catalog queries (q137,
  * q184, q194): each
  * query's construction jobs (building the DataFrame) and execution jobs
  * (a noop write, the sink Bench and `Explain stages` use) must not rise
  * above its row. The poster queries read only the fixtures, so their
  * counts do not depend on the scale factor; the others are measured at
  * sf0.001, the scale this spec reads. A query that reuses an index an
  * earlier query built runs fewer construction jobs than its row. A
  * lower count passes; lowering a budget is an edit of the file. */
class PosterJobsSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  /** (query, construction jobs, execution jobs) per row of the budget
    * file, in file order; `#` starts a comment line. */
  private val budget: Seq[(String, Int, Int)] = {
    val src = Source.fromResource("job_budget.tsv")
    try src.getLines().filterNot(l => l.isEmpty || l.startsWith("#"))
      .map { l =>
        val Array(q, c, e) = l.split("\t")
        (q, c.toInt, e.toInt)
      }.toList
    finally src.close()
  }

  for ((q, c, e) <- budget)
    test(s"$q stays within its construct and exec budget") {
      var df: DataFrame = null
      val built = TestSpark.jobsOf { df = SparkEntry.queries(q)(s, sfDir) }
      val ran = TestSpark.jobsOf(
        df.write.format("noop").mode("overwrite").save())
      info(s"$q: construct $built (budget $c), exec $ran (budget $e)")
      assert(built <= c, s"$q ran $built construction jobs, budget $c")
      assert(ran <= e, s"$q ran $ran execution jobs, budget $e")
    }
}
