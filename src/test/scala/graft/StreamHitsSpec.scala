package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStreams
import graft.streaming.EventStreams.Interaction

/** The q182 incremental-maintenance story (VERDICT r14 #6): an ordered
  * replay of the real events table drives itemTransitions →
  * transitionGraphPartials (per-micro-batch partial counts, idempotent
  * batch_id partitions), and the merge-many read must equal the batch
  * q151/q182 transition graph EXACTLY — after which Affinity.hitsTopK
  * on the streamed graph must reproduce q182's oracle-checked top-20
  * verbatim (same code, same input, by construction of both). Records
  * artifacts/streaming_replay_hits.json BEFORE asserting, so a failing
  * run commits {"match": false} rather than leaving a stale success.
  */
class StreamHitsSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  // sf0.01, not the usual sf0.001: the fixture-scale graph has ~8 edges,
  // too few to exercise the multi-batch merge; 10k events give a graph
  // with real fan-in/out while the ordered-replay collect stays tiny.
  private val SF = "/root/testdata/sf0.01"

  test("incrementally maintained transition graph + batch-side HITS " +
      "equal the q151 graph and the q182 ranking") {
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    // the same interaction extraction q151/q182 start from, replayed in
    // event-time order in 3 micro-batches split at ts changes (the
    // StreamTransitionsSpec contract: same-ts ties never straddle)
    val inter = graft.model.Tables(s, SF).events
      .where(col("event_type").isin("view", "click"))
      .select(col("user_id"), col("ts"), col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("item"))
      .where(col("item").isNotNull)
      .as[Interaction]
      .collect().sortBy(r => (r.ts.getTime, r.event_id))
    assert(inter.length > 100)
    val cut1 = inter.indices.find(i => i > inter.length / 3 &&
      inter(i).ts != inter(i - 1).ts).get
    val cut2 = inter.indices.find(i => i > 2 * inter.length / 3 &&
      inter(i).ts != inter(i - 1).ts).get

    val outDir = TestSpark.tempDir("graft_hits_graph").toString
    val in = MemoryStream[Interaction]
    val q = EventStreams.itemTransitions(in.toDS())
      .toDF("src", "dst")
      .writeStream
      .foreachBatch(EventStreams.transitionGraphPartials(outDir))
      .outputMode("append").start()
    Seq(inter.slice(0, cut1), inter.slice(cut1, cut2),
      inter.slice(cut2, inter.length)).foreach { chunk =>
      in.addData(chunk.toIndexedSeq)
      q.processAllAvailable()
    }
    q.stop()

    // 1. merged partial graph == the batch transition-count graph
    val streamed = EventStreams.mergedTransitionGraph(s, outDir)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
      .toMap
    val batchGraph = graft.queries.Affinity.transitionCounts(s, SF)
    val want = batchGraph.collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val graphMatch = streamed == want && want.nonEmpty
    val nBatches = s.read.parquet(outDir)
      .select("batch_id").distinct().count()

    // 2. HITS re-run batch-side on the streamed graph == q182 verbatim
    val gotHits = graft.queries.Affinity.hitsTopK(
        EventStreams.mergedTransitionGraph(s, outDir))
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val wantHits = SparkEntry.queries("q182_item_hits")(s, SF)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val hitsMatch = gotHits.toSeq == wantHits.toSeq && wantHits.nonEmpty

    val d = Paths.get("artifacts")
    Files.createDirectories(d)
    Files.writeString(d.resolve("streaming_replay_hits.json"),
      s"""{"source": "${SF.split('/').last}/events.parquet", "plan": "itemTransitions""" +
        s""" -> transitionGraphPartials -> hitsTopK",""" +
        s""" "edges": ${want.size}, "micro_batches": $nBatches,""" +
        s""" "graph_match": $graphMatch, "hits_topk_match": $hitsMatch,""" +
        s""" "match": ${graphMatch && hitsMatch}}""" + "\n")

    assert(nBatches >= 2, "replay must span multiple micro-batches")
    assert(graphMatch, "merged incremental graph != batch q151 graph")
    assert(hitsMatch, "HITS on the streamed graph != q182's ranking")
  }
}
