package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.EventStreams

/** File-source replay of the real events table through the streaming
  * tumbling-window plan (SURVEY §2.10): proves the SAME plan that the
  * MemoryStream specs drive also runs against a file source, that the
  * watermark closes exactly the windows whose end precedes
  * max(ts) − 1 h (the last day stays open — append mode emits nothing
  * for it), and that the closed-window COUNT matches the batch
  * computation of the same rule. Window-content semantics are pinned
  * separately: the batch twin q39 is oracle-checked against DuckDB.
  *
  * The result is recorded in artifacts/streaming_replay.json — a
  * committed, deterministic artifact the driver can diff round-over-
  * round (VERDICT r4 "next round" #8).
  */
class StreamReplaySpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val SF_DIR = "/root/testdata/sf0.01"

  test("mapGroupsWithState state survives a query restart from checkpoint") {
    // fault-tolerance proof: run the stateful plan against a file
    // source with a checkpoint, STOP the query, land a new batch while
    // it is down, restart the same plan on the same checkpoint — the
    // restarted query must (a) process only the new file and (b) carry
    // the per-user running totals accumulated before the stop. Sink is
    // foreachBatch (the recovery-capable sink for Update mode).
    import s.implicits._
    val root = TestSpark.tempDir("graft_ckpt")
    val inDir = root.resolve("in"); Files.createDirectories(inDir)
    val ckpt = root.resolve("ckpt").toString
    def ts(h: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")
    def land(rows: Seq[(Long, java.sql.Timestamp, Double)]): Unit =
      rows.toDF("user_id", "ts", "value").coalesce(1)
        .write.mode("append").parquet(inDir.toString)
    land(Seq((1L, ts(1), 10.0), (1L, ts(2), 5.0), (2L, ts(3), 1.0)))
    val schema = s.read.parquet(inDir.toString).schema
    val out = scala.collection.mutable.Set[(Long, Long, Double)]()
    def run(): org.apache.spark.sql.streaming.StreamingQuery =
      EventStreams.runningUserTotals(
          s.readStream.schema(schema).parquet(inDir.toString)
            .as[EventStreams.UserEvent])
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[(Long, Long, Double)],
            _: Long) => out.synchronized { out ++= b.collect() }; () }
        .option("checkpointLocation", ckpt)
        .outputMode("update").start()
    val q1 = run(); q1.processAllAvailable(); q1.stop()
    val afterFirst = out.synchronized(out.toSet)
    assert(afterFirst((1L, 2L, 15.0)) && afterFirst((2L, 1L, 1.0)))
    out.synchronized(out.clear())
    // the new batch lands while the query is DOWN
    land(Seq((1L, ts(4), 2.0)))
    val q2 = run(); q2.processAllAvailable(); q2.stop()
    val afterRestart = out.synchronized(out.toSet)
    // pre-stop state recovered: user 1's totals continue (2 + 1 events,
    // 15 + 2 value); user 2 has no new events so emits nothing in Update
    assert(afterRestart((1L, 3L, 17.0)),
      s"state not recovered across restart: $afterRestart")
    assert(!afterRestart.exists(_._1 == 2L))
  }

  test("idempotent parquet sink survives a forced batch replay with no dupes") {
    // Exactly-once END-TO-END (VERDICT r7 #5): the engine's recovery
    // contract is at-least-once delivery INTO foreachBatch — a crash in
    // the window between the sink write and the checkpoint commit
    // re-runs that batchId on restart. Simulate exactly that crash:
    // run the windowed-count stream to the idempotent parquet sink,
    // stop, DELETE the newest commit marker (write happened, commit
    // didn't), land more data, restart on the same checkpoint. The
    // engine provably replays the uncommitted batch; the batch_id
    // dynamic-overwrite sink must absorb the replay so the directory
    // holds each closed window exactly once with the exact counts.
    import s.implicits._
    val root = TestSpark.tempDir("graft_eo")
    val inDir = root.resolve("in"); Files.createDirectories(inDir)
    val outDir = root.resolve("out").toString
    val ckpt = root.resolve("ckpt")
    def ts(d: Int, h: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-0$d $h%02d:00:00")
    def land(rows: Seq[(java.sql.Timestamp, String)]): Unit =
      rows.toDF("ts", "event_type").coalesce(1)
        .write.mode("append").parquet(inDir.toString)
    land(Seq((ts(1, 1), "click"), (ts(1, 2), "click"), (ts(2, 5), "view"),
      (ts(3, 8), "click"))) // watermark 03 07:00 ⇒ closes day 1 and day 2
    val schema = s.read.parquet(inDir.toString).schema
    def run(): org.apache.spark.sql.streaming.StreamingQuery =
      EventStreams.tumblingCounts(
          s.readStream.schema(schema).parquet(inDir.toString))
        .writeStream
        .foreachBatch(EventStreams.idempotentParquetSink(outDir))
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append").start()
    val q1 = run(); q1.processAllAvailable(); q1.stop()
    def sink(): Map[(java.sql.Timestamp, String), Long] =
      s.read.parquet(outDir).drop("batch_id")
        .collect()
        .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2))
        .toMap // toMap would mask dupes — row count is asserted below
    val afterFirst = s.read.parquet(outDir).drop("batch_id").collect()
    assert(afterFirst.length === 2, s"expected day1+day2 closed: ${afterFirst.toSeq}")
    // the crash window: newest commit marker vanishes, write survived
    val commits = ckpt.resolve("commits").toFile.listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    assert(commits.nonEmpty)
    val newest = commits.last
    assert(newest.delete(), "could not remove newest commit marker")
    // local-FS artifact: ChecksumFileSystem keeps a .N.crc sidecar; left
    // behind it makes the replay's atomic re-commit rename fail (the
    // "multiple queries on one checkpoint" guard). A real HDFS/S3
    // checkpoint has no such sidecar, so drop it with the marker.
    new java.io.File(newest.getParentFile, s".${newest.getName}.crc").delete()
    // new data lands while the query is down; closes day 3 after restart
    land(Seq((ts(4, 9), "purchase")))
    val q2 = run(); q2.processAllAvailable(); q2.stop()
    val rows = s.read.parquet(outDir).drop("batch_id").collect()
    // exact once: 3 closed windows, 3 rows — a replayed batch that
    // appended instead of overwriting would leave duplicates here
    assert(rows.length === 3, s"sink rows not exactly-once: ${rows.toSeq}")
    assert(sink() === Map(
      (ts(1, 0), "click") -> 2L,
      (ts(2, 0), "view") -> 1L,
      (ts(3, 0), "click") -> 1L))
  }

  test("file-source replay closes exactly the watermark-passed windows") {
    // stage the single parquet file as a file-source directory
    val dir = TestSpark.tempDir("graft_stream_replay")
    Files.copy(Paths.get(s"$SF_DIR/events.parquet"),
      dir.resolve("part-0.parquet"), StandardCopyOption.REPLACE_EXISTING)

    // ts normalization is shared with Tables.events so the stream sees
    // exactly the batch column, whatever physical type the file carries
    val fileSchema = s.read.parquet(dir.toString).schema
    val stream = graft.model.Tables.normalizeEventTs(
        s.readStream.schema(fileSchema).parquet(dir.toString))
      .select("event_id", "ts", "event_type")

    val q = EventStreams.tumblingCounts(stream)
      .writeStream.format("memory").queryName("replay")
      .outputMode("append").start()
    q.processAllAvailable()
    val closed = s.table("replay").count()
    q.stop()

    // batch expectation of the same closing rule: every (day, event_type)
    // window whose end <= the watermark. Spark FLOORS the event-time
    // watermark to milliseconds (maxEventTime ms − delay ms), so the
    // expected side must apply the same ms floor — a µs-exact watermark
    // would close one extra window whenever max(ts) carries sub-ms
    // digits and a window end lands inside the floored-away band.
    val batch = graft.model.Tables.normalizeEventTs(
      s.read.parquet(s"$SF_DIR/events.parquet"))
    val maxTs = batch.agg(max(unix_micros(col("ts")))).head().getLong(0)
    val watermarkUs = (maxTs / 1000L - 3600L * 1000L) * 1000L
    val expected = batch
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)))
      .where(unix_micros(col("window.end")) <= watermarkUs)
      .count()
    val total = batch
      .groupBy(window(col("ts"), "1 day"), col("event_type")).agg(count(lit(1)))
      .count()

    // committed, driver-diffable artifact — written BEFORE the asserts
    // so a failing run records {"match": false} instead of leaving the
    // previous run's success artifact in place
    val artifactDir = Paths.get("artifacts")
    Files.createDirectories(artifactDir)
    Files.writeString(artifactDir.resolve("streaming_replay.json"),
      s"""{"source": "sf0.01/events.parquet", "plan": "tumblingCounts",
         | "closed_windows": $closed, "expected_closed": $expected,
         | "total_windows": $total, "match": ${closed == expected}}"""
        .stripMargin.replace("\n", "") + "\n")

    assert(closed === expected,
      s"streaming emitted $closed closed windows, batch rule expects $expected")
    assert(closed < total, "the final open window(s) must NOT be emitted")
  }

  test("file-source replay: daily HLL sketch estimates equal the batch build") {
    val dir = TestSpark.tempDir("graft_stream_hll")
    Files.copy(Paths.get(s"$SF_DIR/events.parquet"),
      dir.resolve("part-0.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val fileSchema = s.read.parquet(dir.toString).schema
    val stream = graft.model.Tables.normalizeEventTs(
        s.readStream.schema(fileSchema).parquet(dir.toString))
      .select("user_id", "ts")

    val q = graft.streaming.EventStreams.dailyDistinctSketch(stream)
      .writeStream.format("memory").queryName("hll_replay")
      .outputMode("append").start()
    q.processAllAvailable()
    val got = s.table("hll_replay").collect()
      .map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    q.stop()

    // batch build of the SAME sketch per day — estimates must agree
    // exactly (identical update/union machinery on the identical
    // multiset; micro-batch partials merge through the same hll_union
    // the batch partial aggregation uses)
    val batch = graft.model.Tables.normalizeEventTs(
        s.read.parquet(s"$SF_DIR/events.parquet"))
      .groupBy(window(col("ts"), "1 day"))
      .agg(hll_sketch_estimate(
        hll_sketch_agg(col("user_id"), lit(14))).as("n_est"))
      .select(col("window.start").as("day"), col("n_est"))
      .collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap

    assert(got.nonEmpty, "no closed windows emitted")
    got.foreach { case (day, est) =>
      assert(batch(day) == est, s"day $day: stream $est vs batch ${batch(day)}")
    }
    // append mode must hold back the watermark-open tail
    assert(got.size < batch.size, "final open window(s) must NOT be emitted")
  }

  test("file-source replay: Misra-Gries heavy hitters honor the N/k guarantee in O(k) state") {
    import s.implicits._
    val K = 8
    val dir = TestSpark.tempDir("graft_stream_mg")
    Files.copy(Paths.get(s"$SF_DIR/events.parquet"),
      dir.resolve("part-0.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val fileSchema = s.read.parquet(dir.toString).schema
    val stream = s.readStream.schema(fileSchema).parquet(dir.toString)
      .select(col("event_type"), col("event_id"), col("user_id"))
      .as[graft.streaming.EventStreams.TypeEvent]

    val q = graft.streaming.EventStreams.heavyHitters(stream, K)
      .writeStream.format("memory").queryName("mg_replay")
      .outputMode("update").start()
    q.processAllAvailable()
    // last update per type = the row with the largest processed-count n
    val fin = s.table("mg_replay").collect()
      .map(r => (r.getString(0), r.getMap[Long, Long](1), r.getLong(2)))
      .groupBy(_._1).map { case (t, rows) => t -> rows.maxBy(_._3) }
    q.stop()

    val exact = s.read.parquet(s"$SF_DIR/events.parquet")
      .groupBy("event_type", "user_id").count().collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val totals = exact.groupBy(_._1._1).map { case (t, m) => t -> m.values.sum }

    assert(fin.keySet == totals.keySet, "every event_type must carry state")
    fin.foreach { case (t, (_, counters, n)) =>
      assert(n == totals(t), s"$t: processed $n of ${totals(t)} events")
      assert(counters.size <= K, s"$t: state exceeded the k-counter bound")
      // THE MG guarantee: any user with true frequency > N/k survives —
      // for any arrival order, so it must hold on the replayed fold too
      val floor = totals(t) / K
      exact.collect { case ((`t`, u), c) if c > floor => u }.foreach { u =>
        assert(counters.contains(u),
          s"$t: user $u with count > N/k=$floor missing from the summary")
      }
    }
  }
}
