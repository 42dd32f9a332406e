package graft

import org.apache.spark.sql.SparkSession

/** One synthetic-`documents` writer for every fuzz/invariant spec
  * (Curation/Selection/Retrieval): a schema change in Tables.documents
  * lands here once instead of in N private near-copies. */
object TestDocs {
  /** Write rows (doc_id, text, lang, source) as a minimal
    * documents.parquet matching the catalog schema (n_chars derived);
    * returns the table dir. */
  def write(s: SparkSession, tag: String,
      rows: Seq[(Long, String, String, String)]): String = {
    import s.implicits._
    val dir = TestSpark.tempDir(s"graft_docs_$tag").toString
    rows.toDF("doc_id", "text", "lang", "source")
      .selectExpr("doc_id", "text", "lang", "source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .coalesce(2)
      .write.mode("overwrite").parquet(dir + "/documents.parquet")
    dir
  }
}
