package graft

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

/** q154 U-shaped attribution on hand-built journeys: every basis-point
  * allocation (single/pair/triple/five-touch with its floor-division
  * remainder), the 30-minute exclusion, and the no-touch purchase are
  * checkable on paper. */
class AttributionSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark

  private def ts(min: Long): Timestamp =
    new Timestamp(1700000000000L + min * 60000L)

  private lazy val dir: String = {
    import s.implicits._
    val d = TestSpark.tempDir("graft_attr").toString
    var id = 0L
    def ev(user: Long, tpe: String, item: Long, atMin: Long, v: Double) = {
      id += 1
      (id, ts(atMin), user, tpe, v, s"""{"k": $item}""")
    }
    val rows = Seq(
      // u1: single touch -> 10000 bp
      ev(1, "click", 1, 0, 0), ev(1, "purchase", 0, 10, 1.00),
      // u2: two touches -> 5000/5000
      ev(2, "click", 1, 100, 0), ev(2, "click", 2, 105, 0),
      ev(2, "purchase", 0, 110, 1.00),
      // u3: three touches -> 4000/2000/4000 (middle takes all of 2000)
      ev(3, "click", 1, 200, 0), ev(3, "click", 2, 205, 0),
      ev(3, "click", 3, 209, 0), ev(3, "purchase", 0, 210, 1.00),
      // u5: five touches -> 4000/666/666/668/4000 — 2000 div 3 = 666,
      // remainder 2 lands on the LAST middle (r = n-1)
      ev(5, "click", 1, 300, 0), ev(5, "click", 2, 302, 0),
      ev(5, "click", 3, 304, 0), ev(5, "click", 4, 306, 0),
      ev(5, "click", 5, 308, 0), ev(5, "purchase", 0, 310, 1.00),
      // u6: click 45 min before the purchase — outside the window
      ev(6, "click", 9, 400, 0), ev(6, "purchase", 0, 445, 1.00),
      // u7: purchase with no click at all — unattributed, absent
      ev(7, "purchase", 0, 500, 1.00)
    )
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$d/events.parquet")
    d
  }

  test("q154 allocates 10000 bp per purchase with exact integer splits") {
    val got = SparkEntry.queries("q154_touch_attribution")(s, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // credits in micro-dollars: bp x 100 cents
    val want = Seq(
      (1L, 4L, 4L, 2300000.0), // 10000 + 5000 + 4000 + 4000 bp
      (2L, 3L, 3L, 766600.0),  // 5000 + 2000 + 666
      (3L, 2L, 2L, 466600.0),  // 4000 (last of 3) + 666
      (4L, 1L, 1L, 66800.0),   // 668 (last middle takes the remainder)
      (5L, 1L, 1L, 400000.0))  // 4000 (last of 5)
    assert(got.toSeq === want)
    // item 9 (stale click) absent; every purchase's bp total is 10000
    assert(!got.exists(_._1 == 9L))
    assert(got.map(_._4).sum === 4L * 1000000.0) // 4 attributed purchases
  }
}
