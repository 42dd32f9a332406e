package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Tables

/** The ts-normalization contract (round-7 fix): whatever physical type the
  * events.ts column arrives as — raw nanosecond longs (timestamp[ns] files
  * read under nanosAsLong), TIMESTAMP_NTZ (timestamp[us] files from
  * pandas/pyarrow), or an already-zoned timestamp — `Tables.normalizeEventTs`
  * must produce the SAME session-zoned microsecond TimestampType column, so
  * every downstream events query is schema-generation-agnostic. */
class TablesSpec extends AnyFunSuite {
  private val s = TestSpark.spark
  import s.implicits._

  // one instant, three physical arrivals: 2024-01-15T12:34:56.789012 UTC
  private val us = 1705322096789012L

  test("LongType nanoseconds truncate to the same micros the us path yields") {
    val fromNs = Tables.normalizeEventTs(
      Seq(us * 1000L + 999L).toDF("ts")) // sub-µs digits must truncate away
    assert(fromNs.schema("ts").dataType.typeName == "timestamp")
    assert(fromNs.select(unix_micros(col("ts"))).head().getLong(0) == us)
  }

  test("TIMESTAMP_NTZ casts to session-zoned micros, identical epoch under UTC") {
    val ntz = Seq(us).toDF("us")
      .select(expr("make_timestamp_ntz(2024, 1, 15, 12, 34, 56.789012)").as("ts"))
    assert(ntz.schema("ts").dataType.typeName == "timestamp_ntz",
      "precondition: the fixture really is NTZ")
    val out = Tables.normalizeEventTs(ntz)
    assert(out.schema("ts").dataType.typeName == "timestamp")
    assert(out.select(unix_micros(col("ts"))).head().getLong(0) == us)
  }

  test("TimestampType passes through unchanged (no extra projection)") {
    val df = Seq(new Timestamp(us / 1000L)).toDF("ts")
    assert(df.schema("ts").dataType.typeName == "timestamp")
    assert(Tables.normalizeEventTs(df) eq df, "passthrough must be identity")
  }

  test("an unsupported ts type fails loudly, not silently downstream") {
    val bad = Seq("2024-01-15").toDF("ts")
    val e = intercept[IllegalStateException](Tables.normalizeEventTs(bad))
    assert(e.getMessage.contains("normalizeEventTs"))
  }

  test("ns and us parquet files of the same instants load identically") {
    val dir = TestSpark.tempDir("graft_ts_norm")
    // the us side: write TIMESTAMP_NTZ parquet (what pyarrow emits)
    val usDir = dir.resolve("us").toString
    Seq("2024-01-15 12:34:56.789012", "2024-01-15 12:34:57.789012")
      .toDF("raw")
      .select(col("raw").cast("timestamp_ntz").as("ts"))
      .write.mode("overwrite").parquet(usDir)
    // the ns side: raw long column, exactly how nanosAsLong surfaces ns data
    val nsDir = dir.resolve("ns").toString
    Seq(us * 1000L, (us + 1000000L) * 1000L).toDF("ts")
      .write.mode("overwrite").parquet(nsDir)
    val a = Tables.normalizeEventTs(s.read.parquet(usDir))
      .select(unix_micros(col("ts"))).as[Long].collect().sorted
    val b = Tables.normalizeEventTs(s.read.parquet(nsDir))
      .select(unix_micros(col("ts"))).as[Long].collect().sorted
    assert(a.sameElements(b), s"${a.toSeq} vs ${b.toSeq}")
  }
}
