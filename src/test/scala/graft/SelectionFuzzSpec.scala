package graft

import org.scalatest.funsuite.AnyFunSuite

/** Randomized cross-check of the data-selection tier against LOCAL
  * reference models on adversarial synthetic tables, through the REAL
  * catalog queries (the CurationFuzzSpec contract — full plan, not a
  * re-implementation). Adversarial choices: DSIR corpora with
  * target-exclusive, raw-only, and shared tokens (the three smoothing
  * arms); merge-pair corpora dense in repeated bigrams with 0/1-token
  * docs (the guard arm); MMR corpora containing EXACT duplicate
  * vectors (score ties forced — the vec_id tie-break is the only thing
  * separating them).
  */
class SelectionFuzzSpec extends AnyFunSuite {
  import graft.queries.Selection
  private lazy val s = TestSpark.spark

  private def writeDocs(seed: Int,
      rows: Seq[(Long, String, String)]): String =
    TestDocs.write(s, s"selfuzz_$seed",
      rows.map { case (id, t, src) => (id, t, "en", src) })

  private def writeVecs(seed: Int,
      rows: Seq[(Long, Array[Float], Int)]): String = {
    import s.implicits._
    val dir = TestSpark.tempDir(s"graft_selfuzz_v$seed").toString
    rows.map { case (id, e, l) => (id, e.toSeq, l) }
      .toDF("vec_id", "embedding", "label")
      .coalesce(2)
      .write.mode("overwrite").parquet(dir + "/embeddings.parquet")
    dir
  }

  test("q115 DSIR matches a local model on skewed corpora") {
    for (seed <- 21 to 23) {
      val rnd = new scala.util.Random(seed)
      // Vocab split three ways: target-heavy, raw-only, shared.
      def tok(id: Int) = "w" + id
      val rows = (0L until 100L).map { id =>
        val src = if (rnd.nextInt(4) == 0) "src1" else "srcX"
        val pool = // target docs lean on low token ids, raw on high
          if (src == "src1") () => tok(rnd.nextInt(12))
          else () => tok(3 + rnd.nextInt(25))
        val n = 1 + rnd.nextInt(30)
        (id, Seq.fill(n)(pool()).mkString(" "), src)
      }
      val dir = writeDocs(seed, rows)
      val got = SparkEntry.queries("q115_dsir_selection")(s, dir)
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(2), r.getDouble(3))))
        .toMap
      // Local model with the query's exact smoothing + rounding.
      val toks = rows.map { case (id, t, src) =>
        (id, t.split(" ").toSeq, src) }
      val rawF = toks.flatMap(_._2).groupBy(identity)
        .map { case (k, v) => k -> v.size.toLong }
      val tgtF = toks.filter(t => Selection.DSIR_TARGET.contains(t._3)).flatMap(_._2)
        .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      val v = rawF.size.toLong
      val nR = rawF.values.sum
      val nT = tgtF.values.sum
      def lw(t: String): BigDecimal = BigDecimal(
        math.log((tgtF.getOrElse(t, 0L) + 1).toDouble / (nT + v)) -
          math.log((rawF(t) + 1).toDouble / (nR + v)))
        .setScale(12, BigDecimal.RoundingMode.HALF_UP)
      toks.foreach { case (id, ts, _) =>
        val w = BigDecimal(
          (ts.map(lw).sum.toDouble / ts.length))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        val (n, gw) = got(id)
        assert(n == ts.length, s"seed $seed doc $id token count")
        assert(math.abs(gw - w) < 1e-9, s"seed $seed doc $id weight")
      }
    }
  }

  test("q118 merge pairs match a local model incl. sub-2-token docs") {
    for (seed <- 31 to 33) {
      val rnd = new scala.util.Random(seed)
      val rows = (0L until 150L).map { id =>
        val n = rnd.nextInt(6) // 0..5 tokens: 0/1-token guard arm
        (id, Seq.fill(n)("t" + rnd.nextInt(6)).mkString(" "), "src")
      }
      val dir = writeDocs(seed, rows)
      val got = SparkEntry.queries("q118_merge_pairs")(s, dir)
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
      val counts = rows
        .map(_._2.split(" ").toSeq).filter(_.length >= 2)
        .flatMap(ts => ts.zip(ts.tail))
        .groupBy(identity).map { case ((a, b), v) =>
          (a, b, v.size.toLong) }
      val want = counts.toSeq
        .sortBy { case (a, b, c) => (-c, a, b) }.take(Selection.PAIR_K)
      assert(got == want, s"seed $seed")
    }
  }

  test("q119 MMR tie-breaks duplicate vectors on vec_id") {
    for (seed <- 41 to 42) {
      val rnd = new scala.util.Random(seed)
      val dim = 8
      // 30 vectors, only 6 DISTINCT directions: the argmax sees exact
      // score ties every round and must take the smallest vec_id.
      val dirs = Array.fill(6)(Array.fill(dim)(rnd.nextFloat() - 0.3f))
      val rows = (0L until 30L).map { id =>
        (id, dirs((id % 6).toInt).clone(), (id % 3).toInt)
      }
      val dir = writeVecs(seed, rows)
      val got = SparkEntry.queries("q119_mmr_selection")(s, dir)
        .collect().map(_.getLong(1)).toSeq
      assert(got.length == Selection.MMR_K)
      assert(got.distinct.length == Selection.MMR_K)
      // Duplicate directions tie exactly, so within a family every
      // pick must be the smallest not-yet-picked id — the pure vec_id
      // tie-break property (family repeats are legitimate when the
      // remaining directions are near-parallel to the selected set).
      val picked = scala.collection.mutable.Set.empty[Long]
      got.foreach { id =>
        val f = id % 6
        val minUnpicked =
          (0L until 30L).filter(x => x % 6 == f && !picked(x)).min
        assert(id == minUnpicked,
          s"seed $seed: pick $id is not the smallest unpicked id of " +
            s"direction family $f")
        picked += id
      }
    }
  }

  test("q117 salted join drops unmatched/null-key facts, keeps the rest") {
    // The catalog data joins totally, so the inner-join arm needs a
    // synthetic table pair: events with user_ids beyond the customer
    // range AND null user_ids, both of which the join must drop
    // without touching the matched rows' counts or sums.
    import s.implicits._
    val dir = TestSpark.tempDir("graft_selfuzz_j").toString
    val rnd = new scala.util.Random(51)
    val events = (0L until 200L).map { id =>
      val uid: java.lang.Long =
        if (id % 13 == 0) null // null keys: never equal, must drop
        else java.lang.Long.valueOf(rnd.nextInt(15).toLong) // 10..14 unmatched
      (id, id * 1000000000L, uid, "e" + (id % 3),
        (rnd.nextInt(10000) + 1) / 100.0, "{}")
    }
    events.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(2)
      .write.mode("overwrite").parquet(dir + "/events.parquet")
    (0L until 10L).map(k => (k, "c" + k, (k % 3).toInt, 0.0))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal")
      .coalesce(1)
      .write.mode("overwrite").parquet(dir + "/customer.parquet")
    val out = SparkEntry.queries("q117_salted_join")(s, dir)
      .collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val want = events
      .filter(e => e._3 != null && e._3 < 10)
      .groupBy(e => (e._3.toLong % 3).toInt)
      .map { case (nk, es) =>
        nk -> ((es.size.toLong,
          es.map(e => BigDecimal(e._5).setScale(2)).sum.toDouble))
      }
    assert(out == want,
      "salting must drop exactly the unmatched/null-key facts and " +
        "neither drop nor duplicate matched rows")
  }
}
