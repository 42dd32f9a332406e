package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.classic
import org.apache.spark.sql.functions.desc
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftExtensions
import graft.plans.SmallSortStrategy

/** The driver contract hands SparkEntry an EXTERNALLY-built session:
  * no graft extensions conf, no nanosAsLong, nothing. This spec
  * recreates that hostile session state (fresh sessionState with the
  * native functions dropped, the legacy parquet conf unset, and the
  * optimizer rule cleared) and asserts the catalog still works — the
  * declared table schemas and idempotent function registration are
  * regression-pinned, not just claimed (r3 ADVICE). */
class BareSessionSpec extends AnyFunSuite {

  test("catalog queries run on a stripped session") {
    val bare = TestSpark.spark.newSession()
    // strip everything the builders normally provide
    bare.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    bare.experimental.extraOptimizations = Nil
    bare.experimental.extraStrategies = Nil
    Seq("point_in_polygon", "vec_dot").foreach { f =>
      bare.sessionState.functionRegistry.dropFunction(FunctionIdentifier(f))
    }
    val sf = "/root/testdata/sf0.001"
    // events path: the declared events schema needs no nanosAsLong
    assert(SparkEntry.queries("q39_tumbling_window")(bare, sf).count() > 0)
    // poster path: requires runtime point_in_polygon registration
    assert(SparkEntry.queries("q45_pip_expr")(bare, sf).count() > 0)
    // vector path: requires runtime vec_dot registration
    assert(SparkEntry.queries("q34_cosine_topk")(bare, sf).count() > 0)
    // custom-plan path: requires the as-of strategy (runtime
    // extraStrategies injection when the static extensions are absent)
    assert(SparkEntry.queries("q77_asof_native")(bare, sf).count() > 0)
    // flagship driver smoke
    assert(SparkEntry.entry(bare).count() > 0)
  }

  /** A session on the shared context built with NO extensions at all:
    * `newSession()` would inherit the context's `spark.sql.extensions`,
    * so this goes through the constructor the builder uses. */
  private def withoutExtensions(): SparkSession = {
    val parent = TestSpark.spark.asInstanceOf[classic.SparkSession]
    val ctor = classOf[classic.SparkSession].getDeclaredConstructors
      .find(_.getParameterCount == 6).get
    ctor.setAccessible(true)
    ctor.newInstance(parent.sparkContext, Some(parent.sharedState), None,
      new SparkSessionExtensions, Map.empty, Map.empty)
      .asInstanceOf[SparkSession]
  }

  test("ensureRegistered installs the small-sort strategy exactly once") {
    val bare = withoutExtensions()
    // descending: Range already reports a range partitioning ascending
    def ranged(): Boolean = bare.range(0, 10, 1, 3).orderBy(desc("id"))
      .queryExecution.executedPlan.toString.contains("rangepartitioning")
    assert(ranged(), "the bare session must start without the strategy")
    GraftExtensions.ensureRegistered(bare)
    GraftExtensions.ensureRegistered(bare)
    assert(bare.experimental.extraStrategies.count(_ eq SmallSortStrategy) === 1)
    assert(!ranged())
  }
}
