package graft

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.catalyst.expressions.{Ascending, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.SmallSortStrategy

/** SmallSortStrategy: a global sort whose input Spark would broadcast
  * plans as one task (`Sort [...], true` over `Coalesce 1`), with no
  * range exchange and no sampling job, and returns the same rows in the
  * same order as Spark's range-partitioned sort. Larger inputs, a
  * disabled threshold and streaming sorts keep Spark's plan. */
class SmallSortSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val Threshold = "spark.sql.autoBroadcastJoinThreshold"

  private def withThreshold[A](v: String)(body: => A): A = {
    val prev = s.conf.getOption(Threshold)
    s.conf.set(Threshold, v)
    try body
    finally prev.fold(s.conf.unset(Threshold))(s.conf.set(Threshold, _))
  }

  private def plan(df: Dataset[_]): String =
    df.queryExecution.executedPlan.toString

  private def ranged(df: Dataset[_]): Boolean =
    plan(df).contains("rangepartitioning")

  /** 700 rows over 7 partitions: `k` has many duplicates and nulls, `d`
    * some nulls, `id` is unique and breaks every tie. */
  private def input: DataFrame =
    s.range(0, 700, 1, 7).select(
      col("id"),
      when(col("id") % 11 === 0, lit(null)).otherwise(col("id") % 5).as("k"),
      when(col("id") % 13 === 0, lit(null))
        .otherwise((col("id") * 37 % 19).cast("double") / 4).as("d"),
      concat(lit("s"), (col("id") % 3).cast("string")).as("t"))

  test("a small sort plans as one task, with no range exchange") {
    val df = input.orderBy(col("k"), col("id"))
    val p = plan(df)
    assert(!ranged(df), p)
    assert(p.contains("Coalesce 1"), p)
    assert(df.collect().map(_.getLong(0)).toSeq ===
      (0L until 700L).sortBy(i => (if (i % 11 == 0) -1L else i % 5, i)))
  }

  test("sorting a LocalRelation runs one job") {
    import s.implicits._
    val df = Seq(3, 1, 2, 5, 4).toDF("v").orderBy(col("v").desc)
    var rows = Array.empty[Int]
    assert(TestSpark.jobsOf { rows = df.collect().map(_.getInt(0)) } === 1)
    assert(rows.toSeq === Seq(5, 4, 3, 2, 1))
  }

  test("same rows in the same order as the range-partitioned sort") {
    val orders: Seq[Seq[Column]] = Seq(
      Seq(col("k").asc_nulls_first, col("id")),
      Seq(col("k").desc_nulls_last, col("id").desc),
      Seq(col("d").asc_nulls_last, col("t").desc_nulls_first, col("id")),
      Seq(col("k").desc_nulls_first, col("d").asc_nulls_first, col("id")))
    orders.foreach { o =>
      val on = input.orderBy(o: _*)
      assert(!ranged(on))
      val off = withThreshold("-1") {
        val df = input.orderBy(o: _*)
        assert(ranged(df))
        df.collect().toSeq
      }
      assert(on.collect().toSeq === off, o.mkString(", "))
    }
  }

  test("a sort estimated above the threshold keeps RangePartitioning") {
    withThreshold("1024") {
      // 10000 longs estimate at 80000 bytes; 100 at 800
      assert(ranged(s.range(0, 10000, 1, 7).orderBy(col("id").desc)))
      assert(!ranged(s.range(0, 100, 1, 7).orderBy(col("id").desc)))
    }
  }

  test("a threshold of -1 disables the rule") {
    import s.implicits._
    withThreshold("-1") {
      assert(ranged(Seq(3, 1, 2).toDF("v").orderBy("v")))
    }
  }

  test("empty input gives 0 rows with the same schema") {
    val empty = input.where(col("id") < 0)
    val df = empty.orderBy(col("k").desc, col("id"))
    assert(!ranged(df))
    assert(df.collect().isEmpty)
    assert(df.schema === empty.schema)
  }

  test("a streaming sort is left to Spark") {
    implicit val ctx = s.sqlContext
    import s.implicits._
    val stream = MemoryStream[Int].toDF().queryExecution.analyzed
    val sort = Sort(Seq(SortOrder(stream.output.head, Ascending)),
      global = true, stream)
    assert(stream.isStreaming)
    assert(SmallSortStrategy(sort).isEmpty)
  }
}
