package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.EventStreams
import graft.streaming.EventStreams.UserEvent

/** Structured Streaming slice tests (SURVEY §2.10): watermarked tumbling
  * windows, dedup-within-watermark, and mapGroupsWithState custom state,
  * driven through MemoryStream micro-batches. */
class StreamingSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark

  private def ts(day: Int, hour: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-$day%02d $hour%02d:00:00")

  test("tumbling window + watermark emits closed windows once") {
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val in = MemoryStream[(Long, Timestamp, String)]
    val df = in.toDF().toDF("event_id", "ts", "event_type")
    val q = EventStreams.tumblingCounts(df)
      .writeStream.format("memory").queryName("tumbling")
      .outputMode("append").start()
    // day 1: three clicks, one view
    in.addData((1L, ts(1, 1), "click"), (2L, ts(1, 2), "click"),
      (3L, ts(1, 3), "view"), (4L, ts(1, 4), "click"))
    q.processAllAvailable()
    // day 3 event pushes the watermark past day 1's window end
    in.addData((5L, ts(3, 12), "click"))
    q.processAllAvailable()
    val rows = s.table("tumbling").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    q.stop()
    assert(rows === Set(
      (ts(1, 0), "click", 3L),
      (ts(1, 0), "view", 1L)))
  }

  test("session_window stream emits the q62 batch sessions once closed " +
      "(the q145 streaming symmetry, VERDICT r9 #6)") {
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val in = MemoryStream[(Long, Timestamp)]
    val df = in.toDF().toDF("user_id", "ts")
    val q = EventStreams.sessionCounts(df)
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    // user 1: two sessions (09:00-09:20 with 3 events; 11:00 alone —
    // the 100-min gap ≫ 30 min); user 2: one single-event session.
    // Events arrive across TWO micro-batches splitting session 1, so
    // the state store must merge batch-2 rows into the open session.
    def t(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    in.addData((1L, t(9, 0)), (1L, t(9, 10)), (2L, t(9, 5)))
    q.processAllAvailable()
    in.addData((1L, t(9, 20)), (1L, t(11, 0)))
    q.processAllAvailable()
    // advance the watermark (1 h) past every session's close
    in.addData((3L, t(14, 0)))
    q.processAllAvailable()
    val got = s.table("sessions").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet
    q.stop()
    assert(got === Set(
      (1L, t(9, 0), 3L),   // merged across the micro-batch split
      (1L, t(11, 0), 1L),
      (2L, t(9, 5), 1L)))
  }

  test("sessionCounts over the REAL events table equals the q62 batch " +
      "answer once the watermark passes every session") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import org.apache.spark.sql.functions.{col, expr, lit}
    val SF = "/root/testdata/sf0.001"
    val dir = TestSpark.tempDir("graft_stream_sessions")
    Files.copy(Paths.get(s"$SF/events.parquet"),
      dir.resolve("part-0.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val raw = s.read.parquet(dir.toString)
    val stream = graft.model.Tables.normalizeEventTs(
      s.readStream.schema(raw.schema).parquet(dir.toString))
    val q = EventStreams.sessionCounts(stream)
      .writeStream.format("memory").queryName("sessions_real")
      .outputMode("append").start()
    q.processAllAvailable()
    // a far-future sentinel event (user -1) pushes the watermark past
    // every real session's close so Append mode emits them all; the
    // interval add preserves the on-disk ts type, so the file source
    // accepts the second file
    raw.limit(1)
      .withColumn("user_id", lit(-1L))
      .withColumn("ts", col("ts") + expr("INTERVAL 365 DAYS"))
      .write.mode("append").parquet(dir.toString)
    q.processAllAvailable()
    val streamed = s.table("sessions_real")
      .where(col("user_id") =!= -1L).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).sorted.toSeq
    q.stop()
    val want = SparkEntry.queries("q62_session_window")(s, SF)
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2)))
      .sorted.toSeq
    assert(want.nonEmpty)
    assert(streamed == want)
  }

  test("dropDuplicatesWithinWatermark removes repeated event ids") {
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val in = MemoryStream[(Long, Timestamp, String)]
    val df = in.toDF().toDF("event_id", "ts", "event_type")
    val q = EventStreams.dedupe(df)
      .writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    in.addData((1L, ts(1, 1), "click"), (1L, ts(1, 1), "click"),
      (2L, ts(1, 2), "view"), (1L, ts(1, 3), "click"))
    q.processAllAvailable()
    val n = s.table("dedup").count()
    q.stop()
    assert(n === 2L)
  }

  test("stream-static broadcast enrichment joins the dim every micro-batch") {
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val dim = Seq(("click", 1.5), ("view", 0.5)).toDF("event_type", "weight")
    val in = MemoryStream[(Long, Timestamp, String)]
    val df = in.toDF().toDF("event_id", "ts", "event_type")
    val q = EventStreams.enrichWithDim(df, dim)
      .writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()
    in.addData((1L, ts(1, 1), "click"), (2L, ts(1, 2), "view"))
    q.processAllAvailable()
    in.addData((3L, ts(1, 3), "click"), (4L, ts(1, 4), "signup"))
    q.processAllAvailable()
    val rows = s.table("enriched").collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[Double]("weight"))
      .toSet
    q.stop()
    // inner dim join: the un-dimensioned 'signup' event drops; both
    // batches enriched with the same static values
    assert(rows === Set(1L -> 1.5, 2L -> 0.5, 3L -> 1.5))
  }

  test("as-of enrichment picks the version effective AT the event, per micro-batch") {
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    // versioned dim: click weight changes at t=1:02 and t=1:04
    val dimHist = Seq(
      ("click", ts(1, 1), 1L, 1.0),
      ("click", ts(1, 2), 2L, 2.0),
      ("click", ts(1, 4), 3L, 4.0)
    ).toDF("d_type", "eff_ts", "ver", "weight")
    val in = MemoryStream[(Long, Timestamp, String)]
    val df = in.toDF().toDF("event_id", "ts", "event_type")
    val q = EventStreams.asOfEnrich(df, dimHist,
        "event_type", "d_type", "ts", "eff_ts", "ver")
      .select("event_id", "weight")
      .writeStream.format("memory").queryName("asof_enriched")
      .outputMode("append").start()
    in.addData((1L, ts(1, 0), "click"), (2L, ts(1, 2), "click"))
    q.processAllAvailable()
    in.addData((3L, ts(1, 3), "click"), (4L, ts(1, 5), "click"))
    q.processAllAvailable()
    val rows = s.table("asof_enriched").collect()
      .map(r => r.getAs[Long]("event_id") ->
        Option(r.getAs[java.lang.Double]("weight")).map(_.toDouble))
      .toMap
    q.stop()
    // t=1:00 precedes every version -> null-extended (NO lookahead);
    // t=1:02 matches the version effective that instant (inclusive <=);
    // t=1:03 still v2; t=1:05 (second batch) the new v3
    assert(rows === Map(1L -> None, 2L -> Some(2.0),
      3L -> Some(2.0), 4L -> Some(4.0)))
  }

  test("stream-stream interval join matches purchases within 30 min of a click") {
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val clicks = MemoryStream[(Long, Timestamp)]
    val purchases = MemoryStream[(Long, Timestamp)]
    val q = graft.streaming.EventStreams.clickToPurchase(
      clicks.toDF().toDF("user_id", "ts"),
      purchases.toDF().toDF("user_id", "ts"))
      .writeStream.format("memory").queryName("cp")
      .outputMode("append").start()
    clicks.addData((1L, ts(1, 10)), (2L, ts(1, 10)))
    purchases.addData(
      (1L, Timestamp.valueOf("2024-01-01 10:20:00")), // within 30 min -> join
      (2L, ts(1, 12)),                                // 2 h later -> no join
      (3L, ts(1, 10)))                                // no click at all
    q.processAllAvailable()
    val rows = s.table("cp").collect()
      .map(r => (r.getLong(0), r.getTimestamp(2))).toSet
    q.stop()
    assert(rows === Set((1L, Timestamp.valueOf("2024-01-01 10:20:00"))))
  }

  test("left-outer interval join: abandoned clicks emit null-padded only " +
      "after the watermark closes their 30-min window") {
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val clicks = MemoryStream[(Long, Timestamp)]
    val purchases = MemoryStream[(Long, Timestamp)]
    val q = EventStreams.clickAbandonment(
      clicks.toDF().toDF("user_id", "ts"),
      purchases.toDF().toDF("user_id", "ts"))
      .writeStream.format("memory").queryName("abandon")
      .outputMode("append").start()
    // u1 converts within 30 min; u2 never purchases
    clicks.addData((1L, ts(1, 10)), (2L, ts(1, 10)))
    purchases.addData((1L, Timestamp.valueOf("2024-01-01 10:20:00")))
    q.processAllAvailable()
    val early = s.table("abandon").collect()
      .map(r => (r.getLong(0), r.isNullAt(2))).toSet
    // the match may emit immediately; the null-padded u2 row MUST NOT —
    // the engine cannot yet rule out a future purchase
    assert(early === Set((1L, false)),
      s"abandonment asserted before the watermark allowed it: $early")
    // day-3 traffic on BOTH streams pushes the joint watermark past
    // u2's click + 30 min (+ the 1 h/2 h delays)
    clicks.addData((9L, ts(3, 12)))
    purchases.addData((9L, ts(3, 12)))
    q.processAllAvailable()
    q.processAllAvailable()
    val late = s.table("abandon").collect()
      .map(r => (r.getLong(0), r.isNullAt(2))).toSet
    q.stop()
    assert(late.contains((2L, true)),
      s"u2's abandoned click never emitted: $late")
  }

  test("streaming abandonment feed over the REAL events table equals the " +
      "q147 batch answer once the watermark passes everything") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import org.apache.spark.sql.functions.{col, expr, lit}
    val SF = "/root/testdata/sf0.001"
    val dir = TestSpark.tempDir("graft_stream_abandon")
    Files.copy(Paths.get(s"$SF/events.parquet"),
      dir.resolve("part-0.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val raw = s.read.parquet(dir.toString)
    def side(tpe: String) = graft.model.Tables.normalizeEventTs(
      s.readStream.schema(raw.schema).parquet(dir.toString))
      .where(col("event_type") === tpe)
      .select("user_id", "ts")
    val q = EventStreams.clickAbandonment(side("click"), side("purchase"))
      .writeStream.format("memory").queryName("abandon_real")
      .outputMode("append").start()
    q.processAllAvailable()
    // far-future sentinel rows of BOTH types push both sides' watermarks
    // past every real click's 30-min window
    raw.limit(1).withColumn("user_id", lit(-1L))
      .withColumn("event_type", lit("click"))
      .withColumn("ts", col("ts") + expr("INTERVAL 365 DAYS"))
      .write.mode("append").parquet(dir.toString)
    raw.limit(1).withColumn("user_id", lit(-1L))
      .withColumn("event_type", lit("purchase"))
      .withColumn("ts", col("ts") + expr("INTERVAL 365 DAYS"))
      .write.mode("append").parquet(dir.toString)
    q.processAllAvailable()
    q.processAllAvailable()
    val streamed = s.table("abandon_real")
      .where(col("purchase_ts").isNull && col("user_id") =!= -1L)
      .collect().map(r => (r.getLong(0), r.getTimestamp(1))).sorted.toSeq
    q.stop()
    val want = SparkEntry.queries("q147_click_abandonment")(s, SF)
      .collect().map(r => (r.getLong(0), r.getTimestamp(1))).sorted.toSeq
    assert(want.nonEmpty)
    assert(streamed == want)
  }

  test("mapGroupsWithState accumulates per-user totals across batches") {
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val in = MemoryStream[UserEvent]
    val q = EventStreams.runningUserTotals(in.toDS())
      .toDF("user_id", "n", "total")
      .writeStream.format("memory").queryName("running")
      .outputMode("update").start()
    in.addData(UserEvent(1L, ts(1, 1), 2.0), UserEvent(1L, ts(1, 2), 3.0),
      UserEvent(2L, ts(1, 1), 10.0))
    q.processAllAvailable()
    in.addData(UserEvent(1L, ts(1, 3), 5.0))
    q.processAllAvailable()
    val byBatch = s.table("running").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    q.stop()
    // batch 1: user1 -> (2, 5.0), user2 -> (1, 10.0); batch 2: user1 -> (3, 10.0)
    assert(byBatch.toSet === Set((1L, 2L, 5.0), (2L, 1L, 10.0), (1L, 3L, 10.0)))
  }

  test("event-time timeout expires inactive per-user state") {
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val in = MemoryStream[UserEvent]
    val q = EventStreams.runningUserTotals(in.toDS())
      .toDF("user_id", "n", "total")
      .writeStream.format("memory").queryName("running_timeout")
      .outputMode("update").start()
    in.addData(UserEvent(1L, ts(1, 1), 2.0))
    q.processAllAvailable()
    // day 3 traffic from ANOTHER user pushes the watermark far past
    // user 1's +1h timeout -> user 1's state is dropped
    in.addData(UserEvent(2L, ts(3, 12), 1.0))
    q.processAllAvailable()
    // user 1 returns: totals restart from zero, proving the state expired
    in.addData(UserEvent(1L, ts(3, 13), 7.0))
    q.processAllAvailable()
    val rows = s.table("running_timeout").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    q.stop()
    assert(rows.contains((1L, 1L, 7.0))) // fresh state, not (2, 9.0)
    assert(!rows.contains((1L, 2L, 9.0)))
  }
}
