package graft

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

/** Property check for q150/q151: a seeded random event log (200 users,
  * 40 items, skewed activity, random gaps straddling the 30-minute
  * horizon) recomputed by independent local Scala — plain maps and
  * sorts, no Spark, no shared helpers — must match the engine exactly.
  * Complements AffinitySpec's paper-checkable cases with breadth:
  * every count, jaccard, rank, and probability over ~3,000 events. */
class AffinityFuzzSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark

  private val CAP = graft.queries.Affinity.BASKET_CAP
  private val TOP = graft.queries.Affinity.TOP_CO
  private val GAP_US = 30L * 60L * 1000000L

  // (event_id, tsMicros, user, type, item)
  private lazy val rows: Seq[(Long, Long, Long, String, Long)] = {
    val rnd = new scala.util.Random(150)
    val types = Seq("view", "click", "purchase", "error")
    val base = 1700000000000000L
    (1L to 3000L).map { id =>
      // skew: user 7 owns ~15% of events; bot user 999 touches many items
      val user =
        if (rnd.nextDouble() < 0.15) 7L
        else if (rnd.nextDouble() < 0.05) 999L
        else rnd.nextInt(200).toLong
      val tpe = types(rnd.nextInt(types.length))
      val item =
        if (user == 999L) rnd.nextInt(40).toLong
        else rnd.nextInt(12).toLong
      // gaps cluster around the 30-min horizon so both sides get hit
      val ts = base + rnd.nextInt(3000).toLong * 91L * 1000000L
      (id, ts, user, tpe, item)
    }
  }

  private lazy val dir: String = {
    import s.implicits._
    val d = TestSpark.tempDir("graft_affinity_fuzz").toString
    rows.map { case (id, ts, u, tpe, it) =>
      (id, new Timestamp(ts / 1000L), u, tpe, 1.0, s"""{"k": $it}""")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(2).write.parquet(s"$d/events.parquet")
    d
  }

  private lazy val interactions =
    rows.filter(r => r._4 == "view" || r._4 == "click")

  test("q150 matches an independent local recomputation") {
    val baskets = interactions.map(r => (r._3, r._5)).distinct
    val byUser = baskets.groupBy(_._1).filter(_._2.size <= CAP)
    val cb = byUser.values.flatten.toSeq
    val supp = cb.groupBy(_._2).map { case (i, l) => i -> l.size.toLong }
    val pairCounts = byUser.values.toSeq
      .flatMap { b =>
        val items = b.map(_._2).sorted
        for (i <- items.indices; j <- (i + 1) until items.size)
          yield (items(i), items(j))
      }
      .groupBy(identity).map { case (p, l) => p -> l.size.toLong }
    val sym = pairCounts.toSeq.flatMap { case ((i, j), n) =>
      Seq((i, j, n), (j, i, n)) }
    val want = sym.groupBy(_._1).toSeq.flatMap { case (item, cos) =>
      cos.sortBy(c => (-c._3, c._2)).take(TOP).zipWithIndex.map {
        case ((_, co, n), idx) =>
          val j = n.toDouble / (supp(item) + supp(co) - n)
          (item, co, n,
            BigDecimal(j).setScale(6, BigDecimal.RoundingMode.HALF_UP)
              .toDouble, (idx + 1).toLong)
      }
    }.sortBy(r => (r._1, r._5))
    val got = SparkEntry.queries("q150_item_cooccurrence")(s, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4))).toSeq
    assert(want.nonEmpty && got === want)
  }

  test("q151 matches an independent local recomputation") {
    val trans = interactions
      .groupBy(_._3).toSeq.flatMap { case (_, evs) =>
        val seq = evs.sortBy(e => (e._2, e._1))
        seq.zip(seq.tail).collect {
          case (a, b) if b._2 <= a._2 + GAP_US => (a._5, b._5)
        }
      }
    val n = trans.groupBy(identity).map { case (k, l) => k -> l.size.toLong }
    val tot = n.groupBy(_._1._1).map { case (src, m) => src -> m.values.sum }
    val want = n.toSeq.sortBy(x => (x._1._1, x._1._2)).map {
      case ((a, b), c) =>
        (a, b, c, BigDecimal(c.toDouble / tot(a))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val got = SparkEntry.queries("q151_item_transitions")(s, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(want.nonEmpty && got === want)
  }
}
