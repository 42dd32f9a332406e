package graft

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Tables
import graft.queries.{LocalJaccard, TextOps}

/** The in-process tier of `TextOps.jaccardPairs` against its distributed
  * tier (forced with bound 0): the same rows, schema and nullability on
  * the shipped scales, on fuzzed corpora and on hand-built edges of every
  * filter (the df cap, shared = 2, jaccard = 0.05, a 6-dp half), plus
  * the gate's two bounds, each one job on either side. */
class LocalJaccardSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val testdata = "/root/testdata"

  private def isLocal(d: DataFrame): Boolean =
    d.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  private def sorted(d: DataFrame): Seq[Row] =
    d.orderBy("da", "db").collect().toSeq

  /** Both tiers over `dir`: each really ran, and rows and schema agree.
    * Returns the in-process rows. */
  private def assertSameTiers(dir: String): Seq[Row] = {
    val in = TextOps.jaccardPairs(s, dir)
    val dist = TextOps.jaccardPairs(s, dir, maxRows = 0)
    assert(isLocal(in) && !isLocal(dist), dir)
    assert(in.schema === dist.schema, dir)
    val rows = sorted(in)
    assert(rows === sorted(dist), dir)
    rows
  }

  /** A documents table of (doc_id, text) rows, null ids and texts
    * allowed, written with the declared schema; deleted after `body`. */
  private def withCorpus[A](tag: String, docs: Seq[(java.lang.Long, String)])(
      body: String => A): A = {
    val dir = TestSpark.tempDir(s"graft_jaccard_$tag")
    try {
      val rows = docs.map { case (id, text) =>
        Row(id, text, "en", "web",
          if (text == null) null else java.lang.Long.valueOf(text.length))
      }
      s.createDataFrame(java.util.Arrays.asList(rows: _*),
          Tables.schema("documents"))
        .coalesce(2)
        .write.parquet(dir.resolve("documents.parquet").toString)
      body(dir.toString)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  private def id(i: Long): java.lang.Long = java.lang.Long.valueOf(i)

  test("the tiers agree at sf0.001, sf0.01 and sf0.1") {
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1"))
      assert(assertSameTiers(s"$testdata/$sf").nonEmpty, sf)
  }

  test("the tiers agree on fuzzed corpora") {
    // a 5-word vocabulary makes shingles repeat within and across docs;
    // lengths 0–2 give no shingle; "" and null texts, doubled spaces
    // (empty tokens inside shingles) and a null doc_id are mixed in
    var total = 0
    for (seed <- 1 to 6) {
      val rnd = new Random(seed)
      val vocab = Seq("a", "b", "c", "d", "e")
      val docs = (1L to 80L).map { i =>
        val text = rnd.nextInt(10) match {
          case 0 => null
          case 1 => ""
          case 2 => Seq.fill(rnd.nextInt(3))(vocab(rnd.nextInt(5))).mkString(" ")
          case _ =>
            Seq.fill(3 + rnd.nextInt(25))(vocab(rnd.nextInt(5)))
              .mkString(if (rnd.nextInt(4) == 0) "  " else " ")
        }
        (if (i % 37 == 0) null else id(i * 3 + seed)) -> text
      }
      total += withCorpus(s"fuzz_$seed", docs)(assertSameTiers).size
    }
    assert(total > 0, "the fuzzed corpora must produce pairs")
  }

  /** `hot` docs share the shingle "aa bb cc" alone; docs 1 and 2 share
    * two more, and doc 1 carries the hot one too. Capped: na = 4, nb = 3,
    * jaccard 2/5; uncapped: na = 5, jaccard 2/6. */
  private def capCorpus(hot: Int): Seq[(java.lang.Long, String)] =
    Seq(id(1) -> "aa bb cc p q r s", id(2) -> "p q r s t") ++
      (1 to hot - 1).map(i => id(100 + i) -> "aa bb cc")

  test("a shingle above the df cap is dropped by both tiers, one at it is kept") {
    val cap = TextOps.DF_CAP
    val over = withCorpus("cap_over", capCorpus(cap + 1))(assertSameTiers)
    assert(over === Seq(Row(1L, 2L, 0.4)))
    val at = withCorpus("cap_at", capCorpus(cap))(assertSameTiers)
    assert(at === Seq(Row(1L, 2L, 0.333333)))
  }

  /** Two docs with `shared` shingles in common and `na`, `nb` shingles
    * each, as runs of tokens unique to the pair `tag`. */
  private def pair(tag: String, a: Long, b: Long, shared: Int, na: Int,
      nb: Int): Seq[(java.lang.Long, String)] = {
    def toks(side: String, n: Int) = (1 to n).map(i => s"$tag$side$i")
    val run = toks("s", shared + 2)
    Seq(id(a) -> (run ++ toks("a", na - shared)).mkString(" "),
      id(b) -> (run ++ toks("b", nb - shared)).mkString(" "))
  }

  test("shared = 2, the 0.05 edge and 6-dp halves filter and round alike") {
    val docs =
      pair("e", 1, 2, 2, 21, 21) ++   // 2/40 = 0.05: kept
      pair("u", 3, 4, 2, 21, 22) ++   // 2/41 = 0.0487…: dropped
      pair("h", 5, 6, 7, 67, 68) ++   // 7/128 = 0.0546875 → 0.054688
      pair("k", 7, 8, 9, 68, 69) ++   // 9/128 = 0.0703125 → 0.070313
      pair("t", 9, 10, 2, 2, 3) ++    // shared = 2: 2/3 kept
      pair("o", 11, 12, 1, 1, 2)      // shared = 1: dropped at 1/2
    val rows = withCorpus("edges", docs)(assertSameTiers)
    assert(rows === Seq(Row(1L, 2L, 0.05), Row(5L, 6L, 0.054688),
      Row(7L, 8L, 0.070313), Row(9L, 10L, 0.666667)))
  }

  test("the gate: one job on either side of each bound") {
    // raw rows and capped fan-out recomputed here from the texts
    val docs = pair("g", 1, 2, 3, 6, 5) ++ pair("g", 3, 4, 3, 4, 7) ++
      pair("x", 5, 6, 2, 3, 3) :+ (id(7) -> "a b")
    val shingles = docs.map { case (d, t) =>
      d -> t.split(" ").sliding(3).filter(_.length == 3).map(_.mkString(" "))
        .toSeq
    }
    val rawRows = shingles.map(_._2.size).sum
    val fanOut = shingles.flatMap { case (d, sh) => sh.distinct.map(_ -> d) }
      .groupBy(_._1).values.map(_.size.toLong).map(m => m * (m - 1) / 2).sum
    withCorpus("gate", docs) { dir =>
      val map = TextOps.shingleMap(Tables(s, dir).documents)
      for (r <- Seq(rawRows - 1, rawRows); f <- Seq(fanOut - 1, fanOut)) {
        var out: Option[DataFrame] = None
        assert(TestSpark.jobsOf {
          out = LocalJaccard.pairs(map, TextOps.DF_CAP, r, f)
        } === 1, s"rows $r fan-out $f")
        assert(out.isDefined === (r == rawRows && f == fanOut),
          s"rows $r fan-out $f")
      }
      assert(isLocal(TextOps.jaccardPairs(s, dir, rawRows, fanOut)))
      assert(!isLocal(TextOps.jaccardPairs(s, dir, rawRows - 1, fanOut)))
      assert(!isLocal(TextOps.jaccardPairs(s, dir, rawRows, fanOut - 1)))
    }
  }

  test("the in-process tier builds in one job and is read with none") {
    val dir = s"$testdata/sf0.001"
    var pairs: DataFrame = null
    assert(TestSpark.jobsOf { pairs = TextOps.jaccardPairs(s, dir) } === 1)
    assert(TestSpark.jobsOf(graft.queries.Lineage.cut(pairs).collect()) === 0)
  }
}
