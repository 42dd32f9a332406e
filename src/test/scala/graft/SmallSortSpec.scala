package graft

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.catalyst.expressions.{Ascending, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField,
  StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.SmallSortStrategy

/** SmallSortStrategy: a global sort whose input Spark would broadcast
  * plans as one task (`Sort [...], true` over `Coalesce 1`), with no
  * range exchange and no sampling job, and returns the same rows in the
  * same order as Spark's range-partitioned sort. An input is small by
  * its estimated size, or, when that estimate has no row count, by a
  * bound on its rows that sees through joins. Larger inputs, a disabled
  * threshold and streaming sorts keep Spark's plan. */
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

  /** Whether the plan that ran, the final one of an adaptive plan that
    * has been executed, sorts through a range exchange. */
  private def ranRanged(df: Dataset[_]): Boolean = {
    val p = plan(df)
    assert(p.contains("isFinalPlan=true"), p)
    df.queryExecution.executedPlan.asInstanceOf[AdaptiveSparkPlanExec]
      .executedPlan.toString.contains("rangepartitioning")
  }

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

  test("a cross join estimated over the threshold but bounded under it " +
      "sorts in one task") {
    import s.implicits._
    // Spark sizes the join as 320000 B × 60 B = 19.2 MB; its rows are at
    // most 20000 × 5 = 100000, × 28 B each = 2.8 MB.
    def sorted = s.range(0, 20000, 1, 4)
      .crossJoin(Seq(1, 2, 3, 4, 5).toDF("m"))
      .select(col("id"), col("m"), (col("id") * col("m") % 7).as("r"))
      .orderBy(col("r"), col("id").desc, col("m"))
    val on = sorted
    assert(on.queryExecution.optimizedPlan.stats.sizeInBytes >
      s.sessionState.conf.autoBroadcastJoinThreshold)
    assert(!ranged(on), plan(on))
    val off = withThreshold("-1") {
      val df = sorted
      assert(ranged(df))
      df.collect().toSeq
    }
    assert(on.collect().toSeq === off)
  }

  test("q45's shape: a grid joined to a grouped broadcast side sorts in " +
      "one task, in 3 jobs") {
    // q45's plan before its grid became one partition: the grid's range
    // × broadcast params, joined to the broadcast vertex arrays grouped
    // by blob. q45 no longer takes this shape, but the shape still
    // guards rowBound's unique-side case.
    val dir = TestSpark.tempDir("smallsort_params").toString
    s.range(0, 14, 1, 1).select(col("id").as("k"), (col("id") * 3).as("v"))
      .write.mode("overwrite").parquet(dir)
    // a file scan has no row bound until its broadcast stage has run
    def params = s.read.schema("k long, v long").parquet(dir).coalesce(1)
    val df = s.range(0, 4096, 1, 4)
      .join(broadcast(params.select("k")))
      .join(broadcast(params.groupBy("k").agg(sum("v").as("sv"))), "k")
      .select(col("k"), col("id"), (col("id") + col("sv")).as("w"))
      .orderBy("k", "id")
    assert(ranged(df), "the first plan has no row bound")
    var rows = Array.empty[Row]
    assert(TestSpark.jobsOf { rows = df.collect() } === 3)
    assert(!ranRanged(df), plan(df))
    assert(plan(df).contains("Coalesce 1"), plan(df))
    assert(rows.toSeq === (for (k <- 0L until 14L; id <- 0L until 4096L)
      yield Row(k, id, id + 3 * k)))
  }

  test("a join whose other side repeats its keys keeps RangePartitioning") {
    import s.implicits._
    withThreshold("100000") {
      // each k twice on the broadcast side, so the bound is the product:
      // 2000 × 20 rows × 28 B = 1.1 MB
      val dup = (0 until 20).map(i => (i % 10L, i)).toDF("k", "v")
      val grid = s.range(0, 2000, 1, 4)
        .select((col("id") % 10).as("k"), col("id"))
      val df = grid.join(broadcast(dup), "k").orderBy("k", "id", "v")
      assert(df.collect().length === 4000)
      assert(ranRanged(df), plan(df))
    }
  }

  test("a runtime size over the threshold keeps RangePartitioning") {
    // 50000 rows of 1 KB strings: × 36 B of default row width they are
    // 1.8 MB, but the repartition stage writes about 50 MB. An RDD source
    // has no size estimate, so the first plan is ranged; once the stage
    // has run, its runtime size decides, not its row count.
    val rdd = s.sparkContext.range(0, 50000, 1, 4).map { i =>
      val r = new scala.util.Random(i)
      Row(i, r.alphanumeric.take(1024).mkString)
    }
    val schema = StructType(Seq(StructField("id", LongType, false),
      StructField("s", StringType, false)))
    val df = s.createDataFrame(rdd, schema).repartition(4)
      .orderBy(col("s"), col("id")).select(col("id"))
    assert(df.collect().length === 50000)
    assert(ranRanged(df), plan(df))
  }

  test("a sorted range's sort is left to Spark: one job, a task a slice") {
    // q46's shape: a 14-slice range, aliased and filtered. Spark's range
    // reports range partitioning and ordering on its id, so its own sort
    // needs no exchange and keeps all 14 slices.
    def rows = s.range(0, 140, 1, 14)
      .select(col("id").as("k"), (col("id") * 7 % 11).as("v"))
      .where(col("v") =!= 3)
    val df = rows.orderBy("k")
    var got = Array.empty[Row]
    var leaves = Seq.empty[Int]
    val jobs = TestSpark.jobsOf {
      leaves = TestSpark.stagesOf { got = df.collect() }
        .filter(_.parentIds.isEmpty).map(_.numTasks)
    }
    assert(jobs === 1)
    assert(leaves === Seq(14))
    val p = plan(df)
    assert(!ranRanged(df), p)
    assert(!p.contains("Coalesce"), p)
    val off = withThreshold("-1") {
      val d = rows.repartition(3).orderBy("k")
      assert(ranged(d))
      d.collect().toSeq
    }
    assert(got.toSeq === off)
    // an order the range does not have still sorts in one task
    assert(plan(rows.orderBy(col("k").desc)).contains("Coalesce 1"))
  }

  test("a small sortWithinPartitions child still sorts in one task") {
    // The local sort reports the order the global one asks for, but only
    // within each of its 7 partitions. The nondeterministic column keeps
    // the optimizer from dropping the local sort.
    val df = s.range(0, 700, 1, 7)
      .select((col("id") % 13).as("k"), col("id"))
      .sortWithinPartitions("k", "id")
      .select(col("k"), col("id"), rand(1).as("r"))
      .orderBy("k", "id")
    val p = plan(df)
    assert(p.contains("Coalesce 1"), p)
    assert(!ranged(df), p)
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      (0L until 700L).map(i => (i % 13, i)).sorted)
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
