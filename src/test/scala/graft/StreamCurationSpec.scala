package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.scalatest.funsuite.AnyFunSuite

/** Batch/stream parity for the stateless curation tier: the SAME
  * projection (Curation.piiRedaction) runs once over the batch table and
  * once as a Structured Streaming file-source query, and the outputs must
  * be row-identical. This is the unified-engine contract that lets a
  * pipeline promote a backfill transform to the ingest path without a
  * rewrite — the stateful streaming ops have their own specs
  * (StreamNearDupSpec, StreamingSpec); this pins the stateless tier. */
class StreamCurationSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val SF_DIR = "/root/testdata/sf0.001"

  test("piiRedaction emits identical rows in batch and streaming execution") {
    val dir = TestSpark.tempDir("graft_stream_curation")
    Files.copy(Paths.get(s"$SF_DIR/documents.parquet"),
      dir.resolve("part-0.parquet"), StandardCopyOption.REPLACE_EXISTING)

    val schema = s.read.parquet(dir.toString).schema
    val stream = s.readStream.schema(schema).parquet(dir.toString)
    val q = graft.queries.Curation.piiRedaction(stream)
      .writeStream.format("memory").queryName("pii_stream")
      .outputMode("append").start()
    q.processAllAvailable()
    val streamed = s.table("pii_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(_._1)
    q.stop()

    val batch = graft.queries.Curation
      .piiRedaction(graft.model.Tables(s, SF_DIR).documents).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(_._1)

    assert(streamed.length === 500)
    assert(streamed === batch)
  }

  test("mix-resample keep decision is batch/stream identical (stream-static join)") {
    val dir = TestSpark.tempDir("graft_stream_mix")
    Files.copy(Paths.get(s"$SF_DIR/documents.parquet"),
      dir.resolve("part-0.parquet"), StandardCopyOption.REPLACE_EXISTING)

    val batchDocs = graft.model.Tables(s, SF_DIR).documents
    // rates computed offline on the batch table — the ingest path joins
    // the stream against this bounded static frame (stream-static join)
    val rates = graft.queries.ScaleOps.mixRates(batchDocs)

    val schema = s.read.parquet(dir.toString).schema
    val stream = s.readStream.schema(schema).parquet(dir.toString)
    val q = graft.queries.ScaleOps.keepDecision(stream, rates)
      .writeStream.format("memory").queryName("mix_stream")
      .outputMode("append").start()
    q.processAllAvailable()
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[Long]("keep"))
    val streamed = s.table("mix_stream").collect().map(key).sortBy(_._1)
    q.stop()

    val batch = graft.queries.ScaleOps.keepDecision(batchDocs, rates)
      .collect().map(key).sortBy(_._1)

    assert(streamed.length === 500)
    assert(streamed === batch)
    assert(streamed.exists(_._3 == 1L) && streamed.exists(_._3 == 0L),
      "draw degenerate — nothing kept or nothing dropped")
  }
}
