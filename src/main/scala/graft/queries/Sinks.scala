package graft.queries

import java.io.File
import java.util.concurrent.atomic.AtomicReference

import org.apache.commons.io.FileUtils
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables

/** The temp paths one run hands out, `<root>/<stem>_<token>`. Each is
  * remembered, so [[cleanup]] deletes exactly those paths and any
  * `<path>_<suffix>` sibling a caller derived from one (per-build index
  * dirs), and nothing else under `root`. */
private[graft] final class RunPaths(root: String, token: String) {
  private val issued = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  def path(stem: String): String = {
    val name = stem + "_" + token
    issued.add(name)
    root + "/" + name
  }

  def cleanup(): Unit = {
    val names = issued.toArray(Array.empty[String])
    Option(new File(root).listFiles).getOrElse(Array.empty[File])
      .filter(f => names.exists(n =>
        f.getName == n || f.getName.startsWith(n + "_")))
      .foreach(FileUtils.deleteQuietly)
  }
}

/** The engine's WRITE surface over real tables (SURVEY §2.1's sink side):
  * until r5 the only sink was Verify's flat parquet dump — this adds the
  * layout a 100 TB deployment actually writes: `documents` PARTITIONED BY
  * lang (partition pruning for per-language pipeline stages) and BUCKETED
  * by doc_id (the join/dedup key), so every downstream doc_id equi-join —
  * near-dup verification, split assignment, metadata joins — plans with
  * NO shuffle exchange on the pre-bucketed side. The pay-once-at-write,
  * join-free-forever trade is proven on this real table in BucketingSpec
  * (no `Exchange hashpartitioning` in the read-back self-join plan, and
  * partition pruning visible for a lang predicate).
  *
  * q71 is the oracle-checkable round trip: write → read back → per-lang
  * count + id-hash sum, compared against DuckDB computing the same
  * aggregate on the ORIGINAL parquet — equal output proves the
  * partitioned/bucketed layout preserved every row and every doc_id.
  */
object Sinks {

  /** Per-JVM run token suffixed onto every side-effect path and catalog
    * table name the catalog queries create (VERDICT r5 #6): two bench or
    * verify sessions sharing one host's tmpdir no longer overwrite each
    * other's indexes/round-trip dirs or fight over the bucketed table
    * name. Stable within a JVM, so build-once memoization (q78) still
    * reuses the same path across samples. */
  private[graft] lazy val runToken: String =
    java.lang.Long.toHexString(
      ProcessHandle.current().pid() ^ (System.nanoTime() << 16))

  private lazy val runPaths =
    new RunPaths(sys.props("java.io.tmpdir"), runToken)

  /** The context whose application end deletes [[runPaths]]. */
  private val cleanupOn = new AtomicReference[SparkContext]

  private val cleanup = new SparkListener {
    override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
      runPaths.cleanup()
  }

  /** A tmpdir path unique to this run: `<tmpdir>/<stem>_<runToken>`. It,
    * and every `<path>_*` a caller derives from it, is deleted when the
    * application ends: the first runPath of each SparkContext registers
    * the one listener that does it. */
  private[graft] def runPath(stem: String): String = {
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext).foreach { sc =>
        val prev = cleanupOn.get
        if ((prev ne sc) && cleanupOn.compareAndSet(prev, sc))
          sc.addSparkListener(cleanup)
      }
    runPaths.path(stem)
  }

  /** TextOps.h48 (the canonical engine-independent md5-derived 48-bit
    * hash). NOTE: a plain signed-64 SUM of these has only ~2¹⁶
    * rows-per-group headroom (mean hash ≈ 2⁴⁷) — wrap per-group sums
    * in [[h48sum]], never a bare `sum`. */
  private def h48(prefix: String, c: org.apache.spark.sql.Column) =
    TextOps.h48(prefix, c)

  /** Overflow-proof content-integrity fold (ADVICE r9): SUM the 48-bit
    * hashes in DECIMAL(38,0) — exact to ~10³⁸ total, i.e. any row count
    * — then fold mod 2⁴⁸ back to BIGINT so the output column type stays
    * long in both engines. Spark's long `sum` wraps silently past ~65k
    * rows per group while DuckDB's HUGEINT sum doesn't, so the bare-sum
    * form diverges exactly when the data grows; the mod ride-along is
    * order-free, keeps full 48-bit discrimination, and both engines
    * compute it on an exact wide sum. Oracle twin: CAST(SUM(...) %
    * 281474976710656 AS BIGINT) (DuckDB sums BIGINT into HUGEINT). */
  private[graft] def h48sum(c: org.apache.spark.sql.Column) =
    (sum(c.cast("decimal(38,0)")) % lit(281474976710656L)).cast("long")

  /** Write `documents` partitioned by lang + bucketed/sorted by doc_id as
    * a managed-metadata external table; shared by q71 and BucketingSpec. */
  private[graft] def writeDocumentsBucketed(s: SparkSession, dir: String,
      path: String, table: String, buckets: Int = 8): DataFrame = {
    Tables(s, dir).documents.write
      .partitionBy("lang")
      .bucketBy(buckets, "doc_id").sortBy("doc_id")
      .option("path", path)
      .mode("overwrite")
      .saveAsTable(table)
    s.table(table)
  }

  /** Round-trip integrity aggregate, computed on whatever frame comes
    * back from a sink: only a byte-exact text round trip reproduces the
    * md5-derived hash sum the oracle computes on the ORIGINAL parquet. */
  private def roundTripSummary(rt: DataFrame): DataFrame =
    rt.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        h48sum(h48("rt:", col("text"))).as("text_hash_sum"),
        sum(length(col("text"))).as("sum_chars"),
        min("doc_id").as("min_doc_id"), max("doc_id").as("max_doc_id"))
      .orderBy("lang")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q71_partitioned_roundtrip" -> ((s, dir) => {
      val path = runPath("graft_rt_documents")
      val rt = writeDocumentsBucketed(s, dir, path, s"graft_docs_bucketed_$runToken")
      rt.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          h48sum(h48("rt:", col("doc_id").cast("string"))).as("id_hash_sum"),
          min("doc_id").as("min_doc_id"), max("doc_id").as("max_doc_id"))
        .orderBy("lang")
    }),

    // Non-parquet source/sink formats: the same documents table pushed
    // through JSON-lines and CSV and read back with an EXPLICIT schema
    // (no inference — the production contract). The oracle computes the
    // identical per-lang text-hash aggregate from the original parquet,
    // so any escaping/encoding loss in either format fails the hash.
    "q72_json_roundtrip" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
      val path = runPath("graft_rt_json")
      docs.write.mode("overwrite").json(path)
      roundTripSummary(s.read.schema(docs.schema).json(path))
    }),

    "q73_csv_roundtrip" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
      val path = runPath("graft_rt_csv")
      docs.write.mode("overwrite")
        .option("header", "true").option("quoteAll", "true")
        .csv(path)
      roundTripSummary(s.read.schema(docs.schema)
        .option("header", "true").option("multiLine", "true")
        .csv(path))
    }),

    "q74_orc_roundtrip" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
      val path = runPath("graft_rt_orc")
      docs.write.mode("overwrite").orc(path)
      roundTripSummary(s.read.schema(docs.schema).orc(path))
    }),

    // XML (round 14) — Spark 4 absorbed spark-xml as a built-in source;
    // it is the one mainstream interchange text format the sink family
    // lacked (feeds/exports still arrive as XML at every enterprise
    // boundary). Same explicit-schema, no-inference contract and the
    // same byte-exactness gate as q72/q73: the md5-derived text hash is
    // computed against the ORIGINAL parquet by the oracle, so any
    // writer escaping loss (entity encoding, surrounding-whitespace
    // trims) fails the hash, not just the row count.
    "q180_xml_roundtrip" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
      val path = runPath("graft_rt_xml")
      docs.write.mode("overwrite")
        .option("rootTag", "docs").option("rowTag", "doc")
        .xml(path)
      // ignoreSurroundingSpaces defaults TRUE in Spark's XML reader —
      // it would silently trim whitespace-padded text on the way back
      // (a reader-config mutation the hash gate would flag as writer
      // loss). The writer emits element content verbatim, so disabling
      // the trim makes the trip exact; CodecSpec pins it on a padded row.
      // KNOWN LIMIT (differs from the q72/q73 siblings): XML 1.0 cannot
      // represent control characters (U+0000-U+0008, U+000B-U+000C,
      // U+000E-U+001F), so a corpus row containing one fails LOUDLY at
      // WRITE time (StAX throws inside the task -> TASK_WRITE_FAILED;
      // nothing partial is committed) rather than surfacing as the
      // siblings' read-back hash mismatch. CodecSpec pins this exact
      // failure mode on a U+0001 row.
      roundTripSummary(s.read.schema(docs.schema)
        .option("rowTag", "doc")
        .option("ignoreSurroundingSpaces", "false").xml(path))
    }),

    // Compression-codec round trip — at 100 TB the codec is a first-order
    // cost lever (zstd ≈ 30 % smaller than snappy at similar scan speed;
    // gzip for cold JSON archives). Same byte-exactness contract as
    // q72–q74, once per codec path, with the codec as an output column so
    // ONE hash check covers both; CodecSpec pins that the files on disk
    // really carry the codec extension (a silently-ignored option would
    // still round-trip).
    "q92_codec_roundtrip" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
      val pz = runPath("graft_rt_zstd")
      val pg = runPath("graft_rt_jsongz")
      docs.write.mode("overwrite").option("compression", "zstd").parquet(pz)
      docs.write.mode("overwrite").option("compression", "gzip").json(pg)
      val a = s.read.schema(docs.schema).parquet(pz)
        .withColumn("codec", lit("parquet_zstd"))
      val b = s.read.schema(docs.schema).json(pg)
        .withColumn("codec", lit("json_gzip"))
      a.unionByName(b)
        .groupBy("codec", "lang")
        .agg(count(lit(1)).as("n_docs"),
          h48sum(h48("rt:", col("text"))).as("text_hash_sum"),
          sum(length(col("text"))).as("sum_chars"))
        .orderBy("codec", "lang")
    }),

    // Schema evolution across landed batches — the second production
    // parquet reality after codecs: batch 1 landed before the pipeline
    // computed n_tok, batch 2 carries it. mergeSchema=true reconciles the
    // union schema at read (absent columns null-filled), and the batch=N
    // directory layout doubles as partition discovery. The aggregate pins
    // WHICH rows carry which columns — a wrong merge (dropped column,
    // wrong null-fill) shifts a count.
    "q93_schema_merge" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
      val path = runPath("graft_rt_evolve")
      docs.where(col("doc_id") % 2 === 0)
        .select("doc_id", "text", "lang")
        .write.mode("overwrite").parquet(path + "/batch=1")
      docs.where(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
        .write.mode("overwrite").parquet(path + "/batch=2")
      s.read.option("mergeSchema", "true").parquet(path)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          count(col("text")).as("n_with_text"),
          count(col("n_tok")).as("n_with_ntok"),
          sum(coalesce(col("n_tok"), lit(0L))).as("sum_ntok"))
        .orderBy("lang")
    }),

    // Corrupt-record-tolerant ingest — real JSON feeds carry malformed
    // lines, and dropping them silently (DROPMALFORMED) loses data
    // accounting. Lines for doc_id ≡ 0 (mod 7) are deliberately broken;
    // the PERMISSIVE read routes them to _corrupt_record (null lang), and
    // the aggregate proves every input line is accounted for: valid rows
    // per lang plus one null-lang row carrying exactly the corrupt count.
    "q94_corrupt_records" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
      val path = runPath("graft_rt_corrupt")
      docs.select(
        when(col("doc_id") % 7 === 0, lit("{broken json"))
          .otherwise(to_json(struct(col("doc_id"), col("lang"))))
          .as("value"))
        .write.mode("overwrite").text(path)
      s.read
        .schema("doc_id BIGINT, lang STRING, _corrupt_record STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_rows"),
          count(col("_corrupt_record")).as("n_corrupt"),
          count(col("doc_id")).as("n_parsed"))
        .orderBy(col("lang").asc_nulls_first)
    }),

    // Dynamic partition overwrite — the incremental-batch pattern every
    // production pipeline runs nightly: re-land ONE partition's corrected
    // data without touching (or even listing) the others. Write the full
    // snapshot partitioned by lang, then overwrite only lang=en with a
    // revised batch (text amended, odd doc_ids dropped — an update+delete
    // in one partition swap) using the PER-WRITE partitionOverwriteMode
    // option, not a session conf. The read-back aggregate matches the
    // oracle's original ∖ en ∪ revised-en state only if the swap replaced
    // exactly the en partition and left every other partition byte-intact.
    "q91_partition_overwrite" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
      val path = runPath("graft_rt_dynpart")
      docs.write.mode("overwrite").partitionBy("lang").parquet(path)
      val revised = docs
        .where(col("lang") === "en" && col("doc_id") % 2 === 0)
        .withColumn("text", concat(col("text"), lit(" v2")))
      revised.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("lang").parquet(path)
      roundTripSummary(
        s.read.schema(docs.schema).parquet(path)
          .select(docs.columns.toIndexedSeq.map(col): _*))
    }),

    // Small-file compaction (VERDICT r8 #6 — the OPTIMIZE every 100 TB
    // table needs nightly): land `documents` deliberately fragmented
    // (48-way shuffle before a lang-partitioned write ⇒ ~48 files per
    // lang partition), then compact: ONE shuffle keyed on the partition
    // column co-locates each lang, and maxRecordsPerFile bin-packs the
    // output into ceil(n_lang / C) target-size files (row count is the
    // proxy for target bytes — production divides target_bytes by the
    // table's avg row size from q110-style stats to get the same knob).
    // The output pins BOTH invariants cross-engine: content identity
    // (per-lang text-hash sum vs the original table) and the packed
    // file count (countDistinct(input_file_name) vs the oracle's
    // ceil(count/C) — only a correctly bin-packed layout matches).
    // CompactionSpec additionally pins files_before ≫ files_after.
    "q146_compact_small_files" -> ((s, dir) => {
      compactedDocs(s, dir)
        // non-deterministic exprs may not sit INSIDE an aggregate call —
        // project the file name first, then count it
        .withColumn("fname", input_file_name())
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          h48sum(h48("rt:", col("text"))).as("text_hash_sum"),
          countDistinct(col("fname")).as("n_files"))
        .orderBy("lang")
    }),
  )

  /** q146/CompactionSpec: target rows per compacted file (the row-count
    * proxy for a byte-size target; must match the oracle's CEIL(n/C)). */
  private[graft] val COMPACT_RECS_PER_FILE = 100

  /** Fragmented-write path for this run — shared so the spec can count
    * the before-files of the exact layout q146 compacted. */
  private[graft] def fragmentedPath: String = runPath("graft_frag_docs")

  /** Compacted-write path for this run. */
  private[graft] def compactedPath: String = runPath("graft_compact_docs")

  /** The q146 pipeline: fragment → compact → read back. Factored out so
    * CompactionSpec can drive the identical writes and inspect both
    * directories' file counts. */
  private[graft] def compactedDocs(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir).documents
    docs.repartition(48, col("doc_id"))
      .write.mode("overwrite").partitionBy("lang").parquet(fragmentedPath)
    val frag = s.read.schema(docs.schema).parquet(fragmentedPath)
    // repartition on the partition column: each lang lands in one task,
    // whose writer rolls a new file every COMPACT_RECS_PER_FILE rows —
    // exactly ceil(n_lang / C) files, no second shuffle, no global sort.
    frag.repartition(col("lang"))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", COMPACT_RECS_PER_FILE.toLong)
      .partitionBy("lang").parquet(compactedPath)
    s.read.schema(docs.schema).parquet(compactedPath)
  }

  /** The per-lang text-integrity aggregate over the ORIGINAL parquet —
    * shared by the JSON and CSV round-trip oracles. */
  private val RT_SUMMARY_SQL =
    """SELECT lang, COUNT(*) AS n_docs,
      | CAST(SUM(CAST('0x' || substr(md5('rt:' || text), 1, 12)
      |   AS BIGINT)) % 281474976710656 AS BIGINT) AS text_hash_sum,
      | CAST(SUM(length(text)) AS BIGINT) AS sum_chars,
      | MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  def oracles: Map[String, String] = Map(
    // computed on the ORIGINAL table: only a lossless round trip matches
    "q71_partitioned_roundtrip" ->
      """SELECT lang, COUNT(*) AS n_docs,
        | CAST(SUM(CAST('0x' || substr(md5('rt:' || doc_id), 1, 12)
        |   AS BIGINT)) % 281474976710656 AS BIGINT) AS id_hash_sum,
        | MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q72_json_roundtrip" -> RT_SUMMARY_SQL,
    "q73_csv_roundtrip" -> RT_SUMMARY_SQL,
    "q74_orc_roundtrip" -> RT_SUMMARY_SQL,
    "q180_xml_roundtrip" -> RT_SUMMARY_SQL,

    // one row-group per (codec, lang): identical per-lang aggregates,
    // fanned out over the two codec labels
    "q92_codec_roundtrip" ->
      """WITH c(codec) AS (VALUES ('json_gzip'), ('parquet_zstd'))
        |SELECT codec, lang, COUNT(*) AS n_docs,
        | CAST(SUM(CAST('0x' || substr(md5('rt:' || text), 1, 12)
        |   AS BIGINT)) % 281474976710656 AS BIGINT) AS text_hash_sum,
        | CAST(SUM(length(text)) AS BIGINT) AS sum_chars
        |FROM documents CROSS JOIN c
        |GROUP BY codec, lang ORDER BY codec, lang""".stripMargin,

    // which batch carries which columns is a pure doc_id-parity function
    "q93_schema_merge" ->
      """SELECT lang, COUNT(*) AS n_docs,
        | CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_with_text,
        | CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_with_ntok,
        | CAST(SUM(CASE WHEN doc_id % 2 = 1
        |   THEN len(string_split(text, ' ')) ELSE 0 END) AS BIGINT)
        |   AS sum_ntok
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    // corrupt lines lose their lang (and doc_id) by construction
    "q94_corrupt_records" ->
      """WITH rows_ AS (
        | SELECT CASE WHEN doc_id % 7 = 0 THEN NULL ELSE lang END AS lang,
        |        CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END AS corrupt
        | FROM documents)
        |SELECT lang, COUNT(*) AS n_rows,
        | CAST(SUM(corrupt) AS BIGINT) AS n_corrupt,
        | CAST(SUM(1 - corrupt) AS BIGINT) AS n_parsed
        |FROM rows_ GROUP BY lang ORDER BY lang NULLS FIRST""".stripMargin,

    // expected post-swap state: everything but en, plus the revised en
    // batch (even ids, ' v2' suffix) — computed from the ORIGINAL table
    "q91_partition_overwrite" ->
      """WITH merged AS (
        | SELECT doc_id, text, lang FROM documents WHERE lang <> 'en'
        | UNION ALL
        | SELECT doc_id, text || ' v2', lang FROM documents
        | WHERE lang = 'en' AND doc_id % 2 = 0)
        |SELECT lang, COUNT(*) AS n_docs,
        | CAST(SUM(CAST('0x' || substr(md5('rt:' || text), 1, 12)
        |   AS BIGINT)) % 281474976710656 AS BIGINT) AS text_hash_sum,
        | CAST(SUM(length(text)) AS BIGINT) AS sum_chars,
        | MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
        |FROM merged GROUP BY lang ORDER BY lang""".stripMargin,

    // content identity from the ORIGINAL table + the bin-pack arithmetic:
    // only a lossless rewrite into ceil(n/C)-file partitions matches both
    "q146_compact_small_files" ->
      s"""SELECT lang, COUNT(*) AS n_docs,
         | CAST(SUM(CAST('0x' || substr(md5('rt:' || text), 1, 12)
         |   AS BIGINT)) % 281474976710656 AS BIGINT) AS text_hash_sum,
         | CAST(CEIL(COUNT(*) / $COMPACT_RECS_PER_FILE.0) AS BIGINT)
         |   AS n_files
         |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
  )
}
