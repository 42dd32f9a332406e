package graft

import java.io.File
import org.scalatest.funsuite.AnyFunSuite

/** q92's oracle proves the VALUES round-tripped; this spec proves the
  * codec actually engaged — a misspelled/ignored compression option would
  * still pass the hash check with plain files. Spark stamps the codec
  * into part-file names, so the extension is the on-disk witness. */
class CodecSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def parts(dir: String): Seq[String] =
    new File(dir).listFiles().map(_.getName).filter(_.startsWith("part-")).toSeq

  test("q92 writes genuinely zstd parquet and gzip json files") {
    SparkEntry.queries("q92_codec_roundtrip")(s, sfDir).collect()
    val pz = parts(sys.props("java.io.tmpdir") +
      s"/graft_rt_zstd_${graft.queries.Sinks.runToken}")
    val pg = parts(sys.props("java.io.tmpdir") +
      s"/graft_rt_jsongz_${graft.queries.Sinks.runToken}")
    assert(pz.nonEmpty && pz.forall(_.endsWith(".zstd.parquet")),
      s"expected .zstd.parquet parts, got $pz")
    assert(pg.nonEmpty && pg.forall(_.endsWith(".json.gz")),
      s"expected .json.gz parts, got $pg")
    // gzip magic bytes in the first json part — extension plus content
    val gz = new File(sys.props("java.io.tmpdir") +
      s"/graft_rt_jsongz_${graft.queries.Sinks.runToken}", pg.head)
    val in = new java.io.FileInputStream(gz)
    val head = try { val b = new Array[Byte](2); in.read(b); b }
    finally in.close()
    assert((head(0) & 0xff) == 0x1f && (head(1) & 0xff) == 0x8b,
      "first json part lacks the gzip magic")
  }

  test("q180 writes genuine XML on disk (root/row tags + escaped text), " +
      "and the round trip survives XML-hostile characters") {
    SparkEntry.queries("q180_xml_roundtrip")(s, sfDir).collect()
    val dir = sys.props("java.io.tmpdir") +
      s"/graft_rt_xml_${graft.queries.Sinks.runToken}"
    val ps = parts(dir).filter(_.endsWith(".xml"))
    assert(ps.nonEmpty, s"expected .xml parts under $dir")
    val body = java.nio.file.Files.readString(
      java.nio.file.Paths.get(dir, ps.head))
    assert(body.contains("<docs>") && body.contains("<doc>"),
      "part file lacks the configured root/row tags")
    assert(body.contains("<doc_id>") && body.contains("<text>"),
      "row element lacks the column child elements")
    // fidelity under markup characters AND surrounding whitespace: the
    // corpus text is markup-free and unpadded, so prove the escaping
    // path and the ignoreSurroundingSpaces=false read (the reader
    // TRIMS by default — a silent mutation the round-trip hash would
    // misattribute to the writer) separately on hostile rows
    import s.implicits._
    val hostile = Seq(
      (1L, "a <b> & \"c\" 'd' ]]> e", "xx"),
      (2L, "  padded  both  ends \n", "xx"))
      .toDF("doc_id", "text", "lang")
    val hp = TestSpark.tempDir("graft_xml_hostile").toString
    hostile.write.mode("overwrite")
      .option("rootTag", "docs").option("rowTag", "doc").xml(hp)
    val back = s.read.schema(hostile.schema).option("rowTag", "doc")
      .option("ignoreSurroundingSpaces", "false")
      .xml(hp).collect().sortBy(_.getLong(0))
    assert(back.length == 2 &&
      back(0).getString(1) == "a <b> & \"c\" 'd' ]]> e",
      s"XML escaping mangled the text: ${back.toSeq}")
    assert(back(1).getString(1) == "  padded  both  ends \n",
      s"XML read trimmed surrounding whitespace: '${back(1).getString(1)}'")
  }

  test("q180 known limit: an XML-1.0-illegal control character fails " +
      "LOUDLY at write time (never a silent round-trip mutation)") {
    // XML 1.0 has no representation for U+0000-U+0008 / U+000B-U+000C /
    // U+000E-U+001F, so this failure mode intentionally differs from the
    // q72/q73 siblings (where a codec loss surfaces as the oracle's hash
    // mismatch): the StAX writer throws inside the task and Spark
    // surfaces TASK_WRITE_FAILED before anything is committed. Pin that
    // shape — if a Spark upgrade ever starts silently dropping/entity-
    // encoding the character instead, this test catches the contract
    // change.
    val s2 = TestSpark.spark
    import s2.implicits._
    val ctl = Seq((1L, "pre" + 1.toChar + "post", "xx"))
      .toDF("doc_id", "text", "lang")
    val cp = TestSpark.tempDir("graft_xml_ctl").toString
    val e = intercept[org.apache.spark.SparkException] {
      ctl.write.mode("overwrite")
        .option("rootTag", "docs").option("rowTag", "doc").xml(cp)
    }
    assert(e.getMessage.contains("TASK_WRITE_FAILED"),
      s"expected the write-time failure mode, got: ${e.getMessage.take(200)}")
    // nothing partial committed: no part-*.xml landed
    val leftovers = Option(new File(cp).listFiles()).getOrElse(Array())
      .map(_.getName).filter(n => n.startsWith("part-") && n.endsWith(".xml"))
    assert(leftovers.isEmpty, s"aborted write left committed parts: " +
      leftovers.mkString(","))
  }
}
