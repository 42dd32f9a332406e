package graft

import java.io.File
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** File-level proof of q91's dynamic-partition-overwrite semantics: the
  * oracle hash pins the post-swap TABLE STATE, but only the filesystem can
  * show that sibling partitions were genuinely left alone (static mode
  * would have dropped them; a rewrite would change file names). */
class DynamicOverwriteSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def partFiles(root: String, lang: String): Set[String] = {
    val d = new File(s"$root/lang=$lang")
    if (!d.exists()) Set.empty
    else d.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName + ":" + f.lastModified() + ":" + f.length())
      .toSet
  }

  test("q91 overwrites only the en partition and leaves siblings byte-intact") {
    val docs = graft.model.Tables(s, sfDir).documents
    val root = TestSpark.tempDir("graft_dynpart_spec").toString
    docs.write.mode("overwrite").partitionBy("lang").parquet(root)
    val langs = docs.select("lang").distinct()
      .collect().map(_.getString(0)).sorted
    assert(langs.contains("en") && langs.length > 1, "needs sibling partitions")
    val before = langs.map(l => l -> partFiles(root, l)).toMap

    val revised = docs
      .where(col("lang") === "en" && col("doc_id") % 2 === 0)
      .withColumn("text", concat(col("text"), lit(" v2")))
    revised.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("lang").parquet(root)

    val after = langs.map(l => l -> partFiles(root, l)).toMap
    langs.filter(_ != "en").foreach { l =>
      assert(after(l) === before(l), s"partition lang=$l was touched")
    }
    assert(after("en") !== before("en"), "en partition must be replaced")

    // and the replaced partition holds exactly the revised batch
    val en = s.read.schema(docs.schema).parquet(root)
      .where(col("lang") === "en")
    assert(en.where(col("doc_id") % 2 =!= 0).count() === 0)
    assert(en.where(!col("text").endsWith(" v2")).count() === 0)
    val expectEven = docs
      .where(col("lang") === "en" && col("doc_id") % 2 === 0).count()
    assert(en.count() === expectEven)
  }
}
