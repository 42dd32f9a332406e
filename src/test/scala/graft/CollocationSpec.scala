package graft


import org.scalatest.funsuite.AnyFunSuite

/** q165: adjacent-pair extraction and PMI on a hand corpus where every
  * count is checkable on paper, plus the single-token-doc guard (the
  * Spark descending-sequence trap the SQL self-join never hits).
  */
class CollocationSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark

  private def pmi6(cab: Long, m: Long, n: Long, ca: Long, cb: Long) =
    BigDecimal(math.log(cab.toDouble * m * m / (n.toDouble * ca * cb)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("pair counts, ranking, ties, and PMI match the paper model") {
    import s.implicits._
    // doc1 "x y x y": pairs (x,y),(y,x),(x,y); doc2 "x y z": (x,y),(y,z)
    // doc3 "q": single token → a unigram but NO pair (the guard case:
    // the size≥2 filter must drop it before the slice/zip pair
    // extraction touches it)
    val d = TestSpark.tempDir("graft_colloc").toString
    Seq((1L, "x y x y"), (2L, "x y z"), (3L, "q"))
      .toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$d/documents.parquet")

    val got = queries.Retrieval.queries("q165_collocations")(s, d)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6)))
      .toSeq

    // M = 8 tokens, N = 5 pairs; ties at c_ab=1 order by (a, b)
    assert(got.map(r => (r._1, r._2, r._3, r._4, r._5, r._6)) === Seq(
      (1L, "x", "y", 3L, 3L, 3L),
      (2L, "y", "x", 1L, 3L, 3L),
      (3L, "y", "z", 1L, 3L, 1L)))
    assert(got.map(_._7) === Seq(
      pmi6(3, 8, 5, 3, 3), pmi6(1, 8, 5, 3, 3), pmi6(1, 8, 5, 3, 1)))
  }
}
