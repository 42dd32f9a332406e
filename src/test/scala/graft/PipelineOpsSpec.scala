package graft

import java.security.MessageDigest

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{EventOps, LocalRank, Relational, ScaleOps, TextOps}

/** Invariants and independent local models for the late-r6 pipeline
  * operators (q103–q108) — the properties the DuckDB oracles share code
  * shape with and therefore cannot independently witness: SCD2 interval
  * chaining, PageRank mass conservation + an independent Scala fixpoint,
  * Morton-cell span bounds, the A-ES sampling rule recomputed from raw
  * md5, and the ranked median/MAD recomputed from sorted arrays.
  */
class PipelineOpsSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  // --- q103 SCD2 -----------------------------------------------------

  test("q103: exactly one current row per key, intervals chain gaplessly") {
    val rows = Relational.queries("q103_scd2_history")(s, sfDir).collect()
    assert(rows.nonEmpty)
    val byKey = rows.groupBy(_.getAs[Long]("o_orderkey"))
    byKey.foreach { case (k, hist) =>
      val sorted = hist.sortBy(_.getAs[Long]("valid_from"))
      // one current row, and it is the last version
      assert(hist.count(_.getAs[Long]("is_current") == 1L) == 1, s"key $k")
      assert(sorted.last.getAs[Long]("is_current") == 1L, s"key $k")
      // valid_to of row i equals valid_from of row i+1; null only at end
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Long]("valid_to") == b.getAs[Long]("valid_from"),
            s"key $k: broken interval chain")
        case _ =>
      }
      assert(sorted.last.isNullAt(sorted.last.fieldIndex("valid_to")))
      // version count follows the CDC derivation rule
      val expected = if (k % 9 == 0) 3 else if (k % 3 == 0) 2 else 1
      assert(sorted.length == expected, s"key $k: ${sorted.length} versions")
    }
  }

  // --- q104 PageRank -------------------------------------------------

  /** The identical recurrence on Scala collections in the SAME integer
    * quanta the engine uses (q = pr·1e12; floor division — the r9 form
    * that replaced decimal rounding after the sf1 oracle caught its
    * cross-engine half-tie drift): symmetrize, then iterate
    * q' = (0.15·1e12 div n) + (17·Σ(q div deg)) div 20 up to the first
    * round whose max |Δ| ≤ max(1, 1e9 div n). Exact, so the spec
    * compares with ==, not a tolerance. */
  private def localPageRank(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val edges = pairs.flatMap { case (u, v) => Seq(u -> v, v -> u) }
    val out = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val n = out.size
    val tol = math.max(1L, 1000000000L / n)
    var q = out.keys.map(k => k -> 1000000000000L / n).toMap
    var delta = Long.MaxValue
    var round = 0
    while (delta > tol) {
      round += 1
      assert(round <= TextOps.PR_CAP, "the model did not converge")
      val contrib = edges
        .map { case (src, dst) => dst -> q(src) / out(src).size }
        .groupBy(_._1).view
        .mapValues(_.map(_._2).sum)
        .toMap
      val next = q.keys.map(k =>
        k -> (150000000000L / n + 17L * contrib(k) / 20L)).toMap
      delta = q.keys.map(k => math.abs(next(k) - q(k))).max
      q = next
    }
    q
  }

  test("q104: matches an independent Scala fixpoint on a hand graph") {
    import s.implicits._
    // triangle {1,2,3} with a pendant 4 — asymmetric degrees
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
    val df = pairs.toDF("u", "v")
    val want = localPageRank(pairs)
    // both tiers: 0 forces the distributed loop
    for (localMax <- Seq(0, LocalRank.LocalMaxPairs)) {
      val got = TextOps.pageRankConverged(df, localMax = localMax)
        .select("doc_id", "q").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got.keySet == want.keySet, s"localMax $localMax")
      got.foreach { case (k, v) =>
        assert(v == want(k), s"localMax $localMax, node $k: $v vs ${want(k)}")
      }
      // the pendant's sole neighbor is the hub
      assert(got(3L) > got(1L) && got(1L) == got(2L) && got(4L) < got(1L))
    }
  }

  test("q104: probability mass is conserved across iterations") {
    val out = TextOps.queries("q104_pagerank")(s, "/root/testdata/sf0.01")
      .agg(sum("pr")).head().getDouble(0)
    // integer floor-division quanta (10⁻¹²): each contribution and the
    // teleport term each drop < 1 quantum to the floor, so per round the
    // mass deficit is ≤ (Σdeg + n)·1e-12 — far under 1e-6 over ≤ PR_CAP
    // rounds at test scale (mass only ever LEAKS, never inflates)
    assert(math.abs(out - 1.0) < 1e-6, s"total pr mass $out")
  }

  // --- q105 cohort retention -----------------------------------------

  test("q105: offset-0 retention is 1.0 and no offset exceeds the cohort") {
    val rows = EventOps.queries("q105_cohort_retention")(s, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val off = r.getAs[Long]("week_offset")
      assert(off >= 0)
      assert(r.getAs[Long]("n_users") <= r.getAs[Long]("cohort_size"))
      if (off == 0) assert(r.getAs[Double]("retention") == 1.0)
    }
  }

  // --- q106 z-order --------------------------------------------------

  test("q106: z-cells bound BOTH dimension spans; linear bounds only x") {
    val rows = ScaleOps.queries("q106_zorder_clustering")(s, sfDir).collect()
    val (zc, lc) = rows.partition(_.getAs[String]("scheme") == "zorder")
    assert(zc.nonEmpty && lc.nonEmpty)
    zc.foreach { r =>
      assert(r.getAs[Long]("x_span") < 8192, "z-cell x span")
      assert(r.getAs[Long]("y_span") < 8192, "z-cell y span")
    }
    lc.foreach(r => assert(r.getAs[Long]("x_span") < 1024, "linear x span"))
    // both schemes partition the same rows
    assert(zc.map(_.getAs[Long]("n")).sum == lc.map(_.getAs[Long]("n")).sum)
  }

  // --- q107 A-ES weighted sample -------------------------------------

  private def md5Hex(v: String): String =
    MessageDigest.getInstance("MD5").digest(v.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  test("q107: selection matches the A-ES rule recomputed from raw md5") {
    val docs = s.read.parquet(s"$sfDir/documents.parquet")
      .select("lang", "doc_id", "n_chars").collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("n_chars")))
      .filter(_._3 > 0)
    def r12(x: Double) =
      BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
    val keyed = docs.map { case (lang, id, w) =>
      val m = java.lang.Long.parseLong(md5Hex(s"wsamp:$id").take(12), 16) %
        1000000L
      (lang, id, r12(math.log((m.toDouble + 0.5) / 1000000.0) / w))
    }
    val want = keyed.groupBy(_._1).toSeq.flatMap { case (lang, ds) =>
      ds.sortBy(d => (-d._3, d._2)).take(5).zipWithIndex
        .map { case (d, i) => (lang, i + 1L) -> d._2 }
    }.toMap
    val got = TextOps.queries("q107_weighted_sample")(s, sfDir).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("rk")) ->
        r.getAs[Long]("doc_id")).toMap
    assert(got == want)
  }

  // --- q109 funnel ----------------------------------------------------

  test("q109: stage counts match a per-user replay and never increase") {
    val out = EventOps.queries("q109_funnel")(s, sfDir).collect()
      .map(r => r.getAs[Long]("stage") -> r.getAs[Long]("n_users")).toMap
    assert(out.keySet == Set(1L, 2L, 3L))
    assert(out(1L) >= out(2L) && out(2L) >= out(3L))
    val ev = graft.model.Tables.normalizeEventTs(
        s.read.parquet(s"$sfDir/events.parquet"))
      .selectExpr("user_id", "event_type", "unix_micros(ts) as us").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type"),
        r.getAs[Long]("us")))
    val byUser = ev.groupBy(_._1)
    def firstAt(tpe: String, rows: Array[(Long, String, Long)],
        lb: Option[Long]): Option[Long] = lb.flatMap { t =>
      val c = rows.filter(r => r._2 == tpe && r._3 >= t)
      if (c.isEmpty) None else Some(c.map(_._3).min)
    }
    val views = byUser.flatMap { case (_, rows) =>
      val v = rows.filter(_._2 == "view")
      if (v.isEmpty) None else Some(rows -> v.map(_._3).min)
    }.toSeq
    val clicks = views.flatMap { case (rows, tv) =>
      firstAt("click", rows, Some(tv)).map(rows -> _) }
    val buys = clicks.flatMap { case (rows, tc) =>
      firstAt("purchase", rows, Some(tc)) }
    assert(out(1L) == views.size && out(2L) == clicks.size &&
      out(3L) == buys.size)
  }

  // --- q110 table stats ----------------------------------------------

  test("q110: stats match a collected-column model") {
    val got = graft.queries.Extras.queries("q110_table_stats")(s, sfDir)
      .collect().map(r => r.getAs[String]("col_name") ->
        (r.getAs[Long]("n"), r.getAs[Long]("n_null"),
          r.getAs[Long]("n_distinct"),
          r.getAs[Double]("min_v"), r.getAs[Double]("max_v"),
          r.getAs[Double]("mean_v"))).toMap
    val li = s.read.parquet(s"$sfDir/lineitem.parquet")
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax").foreach {
      c =>
        val raw = li.select(c).collect().map(r =>
          if (r.isNullAt(0)) None else Some(r.getDouble(0)))
        val vals = raw.flatten
        val (n, nn, nd, mn, mx, av) = got(c)
        assert(n == vals.length && nn == raw.count(_.isEmpty))
        assert(nd == vals.distinct.length)
        assert(mn == vals.min && mx == vals.max, c)
        // the query's exact arithmetic, replayed: decimal(18,4) quantize
        // per value (HALF_UP, like Spark's cast), exact sum, double
        // divide, round 6
        val want = BigDecimal(
          vals.map(v => BigDecimal(v)
            .setScale(4, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble
            / vals.length)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(av == want, s"$c mean: $av vs $want")
    }
  }

  // --- q111 fuzzy join -----------------------------------------------

  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  test("q111: pairs match a local levenshtein over the name dictionary") {
    val got = graft.queries.Extras.queries("q111_fuzzy_join")(s, sfDir)
      .collect().map(r => (r.getAs[String]("na"), r.getAs[String]("nb")) ->
        r.getAs[Int]("dist")).toMap
    val names = s.read.parquet(s"$sfDir/part.parquet")
      .select("p_name").collect().map(_.getString(0)).distinct.sorted
    val want = (for {
      a <- names; b <- names
      if a < b && math.abs(a.length - b.length) <= 2
      d = lev(a, b) if d <= 2
    } yield (a, b) -> d).toMap
    assert(got == want)
    assert(got.nonEmpty)
  }

  // --- q112 trailing window ------------------------------------------

  test("q112: trailing sums match a brute-force per-user replay") {
    val got = EventOps.queries("q112_trailing_window")(s, sfDir).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id")) ->
        (r.getAs[Long]("n_1h"), r.getAs[Double]("sum_1h"))).toMap
    val ev = graft.model.Tables.normalizeEventTs(
        s.read.parquet(s"$sfDir/events.parquet"))
      .selectExpr("user_id", "event_id", "unix_micros(ts) as us", "value")
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id"),
        r.getAs[Long]("us"), r.getAs[Double]("value")))
    ev.groupBy(_._1).foreach { case (_, rows) =>
      rows.foreach { case (u, id, us, _) =>
        val frame = rows.filter(r => r._3 <= us && r._3 >= us - 3600000000L)
        val sum = frame.map(r =>
            BigDecimal(r._4).setScale(2, BigDecimal.RoundingMode.HALF_UP))
          .sum.toDouble
        val (n, sm) = got((u, id))
        assert(n == frame.length && sm == sum, s"user $u event $id")
      }
    }
  }

  // --- q108 MAD outliers ---------------------------------------------

  test("q108: median/MAD/outlier counts match a sorted-array model") {
    val out = EventOps.queries("q108_mad_outliers")(s, sfDir).collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Double]("median_value"), r.getAs[Double]("mad_value"),
          r.getAs[Long]("n_outliers"))).toMap
    val ev = s.read.parquet(s"$sfDir/events.parquet")
      .select(col("event_type"), col("event_id"), col("value")).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("event_id"),
        r.getAs[Double]("value")))
    val want = ev.groupBy(_._1).map { case (t, rows) =>
      def mid(xs: Seq[(Double, Long)]): Double = {
        val sorted = xs.sortBy(identity)
        sorted((sorted.size + 1) / 2 - 1)._1
      }
      val med = mid(rows.toSeq.map(r => (r._3, r._2)))
      val mad = mid(rows.toSeq.map(r => (math.abs(r._3 - med), r._2)))
      val nOut = rows.count(r => math.abs(r._3 - med) > 4.4478 * mad)
      t -> (med, mad, nOut.toLong)
    }
    assert(out == want)
  }

  // --- q127 gap fill / q128 EWMA -------------------------------------

  /** Local daily rollup: user -> sorted (dayUs, sumBD scale-2). */
  private def localDaily: Map[Long, Seq[(Long, BigDecimal)]] = {
    val dayUs = 86400000000L
    graft.model.Tables.normalizeEventTs(
        s.read.parquet(s"$sfDir/events.parquet"))
      .selectExpr("user_id", "unix_micros(ts) as us", "value").collect()
      .map(r => (r.getAs[Long]("user_id"),
        r.getAs[Long]("us") / dayUs * dayUs, r.getAs[Double]("value")))
      .groupBy(r => (r._1, r._2)).toSeq
      .map { case ((u, d), rows) =>
        (u, d, rows.map(r => BigDecimal(r._3)
          .setScale(2, BigDecimal.RoundingMode.HALF_UP)).sum)
      }
      .groupBy(_._1)
      .map { case (u, rows) =>
        u -> rows.sortBy(_._2).map(r => (r._2, r._3))
      }
  }

  test("q127: grid is gapless per user and the fill replays locally") {
    val dayUs = 86400000000L
    val out = EventOps.queries("q127_gap_fill")(s, sfDir).collect()
      .map(r => (r.getAs[Long]("user_id"),
        r.getAs[java.sql.Timestamp]("day").getTime * 1000L,
        r.getAs[Boolean]("observed"), r.getAs[Long]("n_events"),
        r.getAs[Double]("value_ff"), r.getAs[Long]("days_stale")))
    assert(out.nonEmpty)
    val daily = localDaily
    out.groupBy(_._1).foreach { case (u, rows) =>
      val sorted = rows.sortBy(_._2)
      val obs = daily(u)
      // complete inclusive daily grid between first and last observed day
      assert(sorted.head._2 == obs.head._1 && sorted.last._2 == obs.last._1)
      assert(sorted.map(_._2).toSeq ==
        (obs.head._1 to obs.last._1 by dayUs).toSeq, s"user $u grid")
      sorted.foreach { case (_, d, observed, n, ff, stale) =>
        val prior = obs.filter(_._1 <= d)
        assert(observed == (prior.nonEmpty && prior.last._1 == d))
        if (!observed) assert(n == 0L)
        assert(ff == prior.last._2.toDouble, s"user $u day $d fill")
        assert(stale == (d - prior.last._1) / dayUs, s"user $u day $d stale")
      }
    }
  }

  test("q128: EWMA matches an exact-BigDecimal local model") {
    val out = EventOps.queries("q128_ewma")(s, sfDir).collect()
      .map(r => (r.getAs[Long]("user_id"),
        r.getAs[java.sql.Timestamp]("day").getTime * 1000L) ->
        (r.getAs[Long]("n_window"), r.getAs[Double]("ewma"))).toMap
    assert(out.nonEmpty)
    val wts = (0 until 8).map(k => BigDecimal(0.5).pow(k))
    localDaily.foreach { case (u, series) =>
      series.zipWithIndex.foreach { case ((d, _), t) =>
        val k = math.min(t + 1, 8)
        val window = (0 until k).map(j => series(t - j)._2)
        val num = window.zip(wts).map { case (x, w) => x * w }.sum
        val den = wts.take(k).sum
        val want = BigDecimal(num.toDouble / den.toDouble)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        val (n, e) = out((u, d))
        assert(n == k && e == want, s"user $u day $d")
      }
    }
  }
}
