package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q150 item co-occurrence + q151 item transitions on a hand-built
  * event log where every count is checkable on paper, plus the
  * no-silent-caps pin: BASKET_CAP actually binds on the shipped
  * sf0.01 data (exactly one user drops).
  */
class AffinitySpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark

  private def ts(min: Long): Timestamp =
    new Timestamp(1700000000000L + min * 60000L)

  /** Writes a synthetic events.parquet with the real table's schema and
    * returns the sf-dir path the catalog queries expect. */
  private lazy val dir: String = {
    import s.implicits._
    val d = TestSpark.tempDir("graft_affinity").toString
    var id = 0L
    def ev(user: Long, tpe: String, item: Long, atMin: Long) = {
      id += 1
      (id, ts(atMin), user, tpe, 1.0, s"""{"k": $item}""")
    }
    val rows = Seq(
      // u1: views 1, 2, 3; the 2->3 step is 40 min apart (over the gap)
      ev(1, "view", 1, 0), ev(1, "view", 2, 10), ev(1, "view", 3, 50),
      // u2: 2 then 3 within 5 min, with a PURCHASE in between — non-item
      // event types are filtered before adjacency, so 2->3 still counts
      ev(2, "view", 2, 100), ev(2, "purchase", 99, 102),
      ev(2, "click", 3, 105),
      // u3: 1 then 3 at 29 min (inside the gap)
      ev(3, "view", 1, 200), ev(3, "view", 3, 229),
      // u4: 1 then 3 at EXACTLY 30 min (boundary is inclusive)
      ev(4, "view", 1, 300), ev(4, "view", 3, 330),
      // u5: two clicks at the SAME timestamp — event_id breaks the tie
      ev(5, "click", 7, 400), ev(5, "click", 8, 400),
      // u9: a bot touching items 1..40 — basket 40 > BASKET_CAP, dropped
      // from q150 entirely (items 11..40 appear in NO other basket, so
      // any survivor among them means the cap leaked)
    ) ++ (1L to 40L).map(i => ev(9, "view", i, 500 + i))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$d/events.parquet")
    d
  }

  test("q150: pair supports, jaccard, and top ranking on paper-checkable " +
      "baskets; the bot basket is dropped whole") {
    val got = SparkEntry.queries("q150_item_cooccurrence")(s, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4)))
    // capped baskets: u1{1,2,3}, u2{2,3}, u3{1,3}, u4{1,3}, u5{7,8}
    // supports: 1->3, 2->2, 3->4, 7->1, 8->1
    // pairs: (1,2)=1 (1,3)=3 (2,3)=2 (7,8)=1
    val want = Seq(
      (1L, 3L, 3L, 0.75, 1L),      // 3/(3+4-3)
      (1L, 2L, 1L, 0.25, 2L),      // 1/(3+2-1)
      (2L, 3L, 2L, 0.5, 1L),       // 2/(2+4-2)
      (2L, 1L, 1L, 0.25, 2L),
      (3L, 1L, 3L, 0.75, 1L),
      (3L, 2L, 2L, 0.5, 2L),
      (7L, 8L, 1L, 1.0, 1L),       // 1/(1+1-1)
      (8L, 7L, 1L, 1.0, 1L))
    assert(got.toSeq === want)
    assert(!got.exists(r => r._1 > 10L || r._2 > 10L),
      "a bot-only item survived the basket cap")
  }

  test("q151: gap gating (strictly-over excluded, boundary included), " +
      "non-item events transparent, same-ts tie by event_id") {
    val got = SparkEntry.queries("q151_item_transitions")(s, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // u1: 1->2 (10 min); 2->3 at 40 min DROPPED. u2: 2->3 (5 min,
    // purchase invisible). u3 and u4: 1->3 (29 and exactly 30 min).
    // u5: 7->8 (0 min, event_id order). u9 bot: 30 consecutive 1-min
    // steps i->i+1, i in 1..39 — transitions have NO basket cap (a
    // sequence model wants the bot's steps; selection is upstream).
    // bot steps are i->i+1 for i in 1..39, so (1,2), (2,3) and (7,8)
    // each get +1 on top of the human transitions
    val n = (3L to 39L).map(i => (i, i + 1) -> 1L).toMap ++
      Map((1L, 2L) -> 2L, (2L, 3L) -> 2L, (1L, 3L) -> 2L, (7L, 8L) -> 2L)
    val tot = n.groupBy(_._1._1).map { case (src, m) => src -> m.values.sum }
    val want = n.toSeq.sortBy(x => (x._1._1, x._1._2)).map { case ((a, b), c) =>
      (a, b, c, BigDecimal(c.toDouble / tot(a))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    assert(got.toSeq === want)
  }

  test("BASKET_CAP binds on the shipped sf0.01 data: exactly one user drops " +
      "(no-silent-caps)") {
    val b = graft.model.Tables(s, "/root/testdata/sf0.01").events
      .where(col("event_type").isin("view", "click"))
      .select(col("user_id"),
        get_json_object(col("props"), "$.k").cast("long").as("item"))
      .where(col("item").isNotNull)
      .distinct()
    val dropped = b.groupBy("user_id").agg(count(lit(1)).as("bs"))
      .where(col("bs") > graft.queries.Affinity.BASKET_CAP)
      .count()
    assert(dropped === 1L,
      s"cap drop count moved — update the q150 scaladoc: $dropped")
  }
}
