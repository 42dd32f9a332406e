package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming evidence at sf0.1 (VERDICT r12 #6): the streaming slice's
  * replay + twin proofs ran at fixture/sf0.01 scale only — this suite
  * replays the REAL sf0.1 events table (100k events) through a stateful
  * op (dailyDistinctSketch: watermark + windowed HLL state) and a
  * stream-static as-of enrichment (asOfEnrich: per-micro-batch
  * BroadcastAsOfJoinExec), each asserted EQUAL to its batch twin on the
  * identical input — the unified-engine contract at a real data volume.
  * Each test records a committed, driver-diffable artifact
  * (artifacts/streaming_replay_sf01_*.json), written BEFORE the asserts
  * so a failing run records {"match": false} rather than leaving a
  * stale success artifact in place.
  */
class StreamReplayScaleSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val SF_DIR = "/root/testdata/sf0.1"

  private def stage(tag: String): String = {
    val dir = TestSpark.tempDir(s"graft_replay_$tag")
    Files.copy(Paths.get(s"$SF_DIR/events.parquet"),
      dir.resolve("part-0.parquet"), StandardCopyOption.REPLACE_EXISTING)
    dir.toString
  }

  private def artifact(name: String, json: String): Unit = {
    val d = Paths.get("artifacts")
    Files.createDirectories(d)
    Files.writeString(d.resolve(name), json + "\n")
  }

  test("sf0.1 replay: daily HLL sketch estimates equal the batch build") {
    val dir = stage("hll")
    val fileSchema = s.read.parquet(dir).schema
    val stream = graft.model.Tables.normalizeEventTs(
        s.readStream.schema(fileSchema).parquet(dir))
      .select("user_id", "ts")

    val q = graft.streaming.EventStreams.dailyDistinctSketch(stream)
      .writeStream.format("memory").queryName("hll_replay_sf01")
      .outputMode("append").start()
    q.processAllAvailable()
    val got = s.table("hll_replay_sf01").collect()
      .map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    q.stop()

    // batch twin: identical sketch parameters over the identical multiset
    val batch = graft.model.Tables.normalizeEventTs(
        s.read.parquet(s"$SF_DIR/events.parquet"))
      .groupBy(window(col("ts"), "1 day"))
      .agg(hll_sketch_estimate(
        hll_sketch_agg(col("user_id"), lit(14))).as("n_est"))
      .select(col("window.start").as("day"), col("n_est"))
      .collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap

    val matches = got.nonEmpty && got.forall { case (d, e) =>
      batch.get(d).contains(e) }
    artifact("streaming_replay_sf01_hll.json",
      s"""{"source": "sf0.1/events.parquet", "plan": "dailyDistinctSketch",
         | "closed_days": ${got.size}, "total_days": ${batch.size},
         | "match": $matches}""".stripMargin.replace("\n", ""))

    assert(got.nonEmpty, "no closed windows emitted")
    got.foreach { case (day, est) =>
      assert(batch(day) == est, s"day $day: stream $est vs batch ${batch(day)}")
    }
    assert(got.size < batch.size, "final open window(s) must NOT be emitted")
  }

  test("sf0.1 replay: stream as-of enrichment equals the batch as-of join") {
    val dir = stage("asof")
    val batchEv = graft.model.Tables.normalizeEventTs(
        s.read.parquet(s"$SF_DIR/events.parquet"))
      .select("event_id", "ts", "event_type")

    // versioned dim derived DETERMINISTICALLY from the data: per
    // event_type, three versions effective at min(ts), min + span/3 and
    // min + 2·span/3 — so the as-of cut genuinely splits the stream
    // (every version matches a nonempty time slice) at any sf.
    val b = batchEv.agg(min(unix_micros(col("ts"))).as("t0"),
      max(unix_micros(col("ts"))).as("t1")).head()
    val (t0, t1) = (b.getLong(0), b.getLong(1))
    val types = batchEv.select("event_type").distinct()
      .collect().map(_.getString(0)).sorted // bounded: event-type domain
    import s.implicits._
    val dimHist = types.zipWithIndex.flatMap { case (tpe, i) =>
      (0 to 2).map(v => (tpe, (t0 + v * ((t1 - t0) / 3)),
        v.toLong + 1, (i + 1) * 10.0 + v))
    }.toSeq.toDF("d_type", "eff_us", "ver", "weight")
      .withColumn("eff_ts", timestamp_micros(col("eff_us")))
      .select("d_type", "eff_ts", "ver", "weight")

    // the twin comparison rides a full-row fingerprint: count + an
    // order-free sum of per-row hashes over every output column, as
    // DECIMAL(38,0) so no overflow wrap can mask a mismatch.
    def fingerprint(df: DataFrame): (Long, java.math.BigDecimal) = {
      val r = df.agg(count(lit(1)),
        coalesce(sum(xxhash64(col("event_id"), col("ts"), col("ver"),
          col("weight")).cast("decimal(38,0)")), lit(0).cast("decimal(38,0)")))
        .head()
      (r.getLong(0), r.getDecimal(1))
    }

    val fileSchema = s.read.parquet(dir).schema
    val stream = graft.model.Tables.normalizeEventTs(
        s.readStream.schema(fileSchema).parquet(dir))
      .select("event_id", "ts", "event_type")
    val enriched = graft.streaming.EventStreams.asOfEnrich(
        stream, dimHist, "event_type", "d_type", "ts", "eff_ts", "ver")
      .select("event_id", "ts", "ver", "weight")

    // accumulate the fingerprint per micro-batch (order-free sum, so
    // batch boundaries cannot matter); memory-sinking 100k rows to the
    // driver would prove the same thing slower.
    var nRows = 0L
    var hashSum = java.math.BigDecimal.ZERO
    val q = enriched.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val (n, h) = fingerprint(batch)
        synchronized { nRows += n; hashSum = hashSum.add(h) }; ()
      }
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()

    val twin = graft.plans.AsOf.join(batchEv, dimHist,
        Seq("event_type"), Seq("d_type"), "ts", "eff_ts", "ver")
      .select("event_id", "ts", "ver", "weight")
    val (wantN, wantH) = fingerprint(twin)

    val ok = nRows == wantN && hashSum.compareTo(wantH) == 0
    artifact("streaming_replay_sf01_asof.json",
      s"""{"source": "sf0.1/events.parquet", "plan": "asOfEnrich",
         | "rows": $nRows, "batch_rows": $wantN,
         | "dim_versions": ${types.length * 3}, "match": $ok}"""
        .stripMargin.replace("\n", ""))

    assert(nRows == wantN, s"stream $nRows rows vs batch twin $wantN")
    assert(hashSum.compareTo(wantH) == 0,
      s"stream fingerprint $hashSum vs batch twin $wantH")
    assert(nRows >= 100000L, "every sf0.1 event must be enriched (left as-of)")
  }

  test("sf1 replay: daily HLL sketch estimates equal the batch build " +
      "on the 1M-event scaled table") {
    // One notch past the sf0.1 evidence (VERDICT r13 #6): the SAME
    // watermark + windowed-HLL plan over scaledata/sf1's 1M
    // adversarially-skewed events. scaledata is regenerable, not
    // committed (tools/gen_scale.py, seed-deterministic) — cancel, not
    // pass, when absent so a fresh checkout's CI is honest about what
    // it proved.
    val sf1 = "/root/repo/scaledata/sf1/events.parquet"
    assume(Files.exists(Paths.get(sf1)),
      "scaledata/sf1 not generated (python3 tools/gen_scale.py)")
    val dir = TestSpark.tempDir("graft_replay_hll_sf1")
    Files.copy(Paths.get(sf1), dir.resolve("part-0.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val fileSchema = s.read.parquet(dir.toString).schema
    val stream = graft.model.Tables.normalizeEventTs(
        s.readStream.schema(fileSchema).parquet(dir.toString))
      .select("user_id", "ts")

    val q = graft.streaming.EventStreams.dailyDistinctSketch(stream)
      .writeStream.format("memory").queryName("hll_replay_sf1")
      .outputMode("append").start()
    q.processAllAvailable()
    val got = s.table("hll_replay_sf1").collect()
      .map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    q.stop()

    val batch = graft.model.Tables.normalizeEventTs(s.read.parquet(sf1))
      .groupBy(window(col("ts"), "1 day"))
      .agg(hll_sketch_estimate(
        hll_sketch_agg(col("user_id"), lit(14))).as("n_est"))
      .select(col("window.start").as("day"), col("n_est"))
      .collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap

    val nEvents = s.read.parquet(sf1).count()
    val matches = got.nonEmpty && got.forall { case (d, e) =>
      batch.get(d).contains(e) }
    artifact("streaming_replay_sf1_hll.json",
      s"""{"source": "sf1/events.parquet", "plan": "dailyDistinctSketch",
         | "events": $nEvents, "closed_days": ${got.size},
         | "total_days": ${batch.size}, "match": $matches}"""
        .stripMargin.replace("\n", ""))

    assert(nEvents >= 1000000L, s"sf1 events table too small: $nEvents")
    assert(got.nonEmpty, "no closed windows emitted")
    got.foreach { case (day, est) =>
      assert(batch(day) == est, s"day $day: stream $est vs batch ${batch(day)}")
    }
    assert(got.size < batch.size, "final open window(s) must NOT be emitted")
  }
}
