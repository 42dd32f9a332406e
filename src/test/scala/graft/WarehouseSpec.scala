package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q155 snapshot diff, q156 partition manifest, q157 seasonal anomaly —
  * each pinned against an INDEPENDENT local recomputation (plain Scala
  * over collected rows), not against the query's own building blocks.
  */
class WarehouseSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val sfDir  = "/root/testdata/sf0.001"

  // ---------------------------------------------------------------- q155

  test("q155 classifies every key exactly per the derivation rules") {
    val out = queries.Warehouse.queries("q155_snapshot_diff")(s, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(4))) // (n_rows, cents_delta)
      .toMap

    // Independent model: replay the modulo rules over the raw keys.
    val rows = graft.model.Tables(s, sfDir).orders
      .select(col("o_orderkey"), col("o_orderpriority"),
        (col("o_totalprice").cast("decimal(12,2)") * 100)
          .cast("long").as("cents"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))

    def agg(f: ((Long, String, Long)) => Boolean) = {
      val sel = rows.filter(f)
      (sel.length.toLong, sel.groupBy(_._2).view.mapValues(_.length.toLong))
    }
    val (nRem, remByP) = agg { case (k, _, _) => k % 101 == 7 }
    val (nChg, chgByP) = agg { case (k, _, _) => k % 101 != 7 && k % 97 == 3 }
    val (nAdd, addByP) = agg { case (k, _, _) => k % 103 == 0 }
    val nUnch = rows.length - nRem - nChg

    // per-class totals across priorities
    def tot(ct: String) = out.collect { case ((c, _), (n, _)) if c == ct => n }.sum
    assert(tot("removed") === nRem && tot("changed") === nChg &&
      tot("added") === nAdd && tot("unchanged") === nUnch)
    assert(nRem > 0 && nChg > 0 && nAdd > 0, "every rule must bind at sf0.001")

    // per-(class, priority) counts
    for ((p, n) <- remByP) assert(out(("removed", p))._1 === n)
    for ((p, n) <- chgByP) assert(out(("changed", p))._1 === n)
    for ((p, n) <- addByP) assert(out(("added", p))._1 === n)

    // cents deltas: +500 per revised row; adds contribute their full
    // price; removals subtract theirs; unchanged must be exactly 0.
    def dtot(ct: String) = out.collect { case ((c, _), (_, d)) if c == ct => d }.sum
    assert(dtot("changed") === 500L * nChg)
    assert(dtot("added") ===
      rows.filter { case (k, _, _) => k % 103 == 0 }.map(_._3).sum)
    assert(dtot("removed") ===
      -rows.filter { case (k, _, _) => k % 101 == 7 }.map(_._3).sum)
    assert(dtot("unchanged") === 0L)
  }

  // ---------------------------------------------------------------- q156

  test("q156 root row is the exact order-free fold of its leaves") {
    val rows = queries.Warehouse.queries("q156_partition_manifest")(s, sfDir)
      .collect()
    val (leaves, roots) = rows.partition(_.getString(0) == "leaf")
    assert(roots.length === 1)
    val root = roots.head
    assert(root.getLong(2) === leaves.map(_.getLong(2)).sum)          // n_rows
    assert(root.getLong(3) ===                                        // merkle
      leaves.map(r => BigInt(r.getLong(3))).sum % BigInt(1L << 48))
    assert(root.getLong(4) === leaves.map(_.getLong(4)).sum)          // cents
    assert(leaves.map(_.getLong(1)).distinct.length === leaves.length)
  }

  test("q156 localizes a single-row change to exactly one leaf") {
    // Copy the orders table with ONE price bumped, rerun the manifest:
    // precisely that row's month leaf (and the root) may move.
    val d = TestSpark.tempDir("graft_manifest").toString
    val orig = graft.model.Tables(s, sfDir).orders
    val victim = orig.select(min("o_orderkey")).head().getLong(0)
    orig.withColumn("o_totalprice",
        when(col("o_orderkey") === victim, col("o_totalprice") + 1.0)
          .otherwise(col("o_totalprice")))
      .coalesce(1).write.parquet(s"$d/orders.parquet")

    def manifest(dir: String) =
      queries.Warehouse.queries("q156_partition_manifest")(s, dir)
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(3))
        .toMap
    val before = manifest(sfDir)
    val after  = manifest(d)
    assert(before.keySet === after.keySet)
    val moved = before.keys.filter(k => before(k) != after(k)).toSet
    val victimMonth = orig.where(col("o_orderkey") === victim)
      .select((year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
        .cast("long")).head().getLong(0)
    assert(moved === Set(("leaf", victimMonth), ("root", -1L)))
  }

  // ---------------------------------------------------------------- q157

  private def anomalyDir: String = {
    import s.implicits._
    val d = TestSpark.tempDir("graft_anomaly").toString
    val hourUs = 3600L * 1000000L
    // ts inside epoch-hour h (weekly cell = h % 168)
    def at(h: Long) = new Timestamp(h * hourUs / 1000L + 1000L)
    var id = 0L
    def ev(tpe: String, h: Long, cents: Long) = {
      id += 1; (id, at(h), 1L, tpe, cents / 100.0, "{}")
    }
    val rows =
      // cell A (click, how=0): ten at 100 + one at 5000 → the outlier
      // sits at z = 3.16σ (ten-identical-plus-one geometry) → 1 flag.
      // Spread over epoch hours 0 and 168: SAME weekly cell — pins the
      // mod-168 fold, not just the hour extraction.
      (1 to 5).map(_ => ev("click", 0, 100)) ++
        (1 to 5).map(_ => ev("click", 168, 100)) ++
        Seq(ev("click", 336, 5000)) ++
        // cell B (click, how=1): all equal → zero variance → 0 flags
        (1 to 4).map(_ => ev("click", 1, 777)) ++
        // cell C (view, how=0): n=1 → (n·v − s) = 0 → 0 flags
        Seq(ev("view", 0, 123)) ++
        // cell D (view, how=2): two points — each sits at exactly 1σ
        Seq(ev("view", 2, 100), ev("view", 2, 300))
    rows.toSeq
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$d/events.parquet")
    d
  }

  test("q157 flags exactly the >3σ outlier; ties and singletons don't flag") {
    val out = queries.Warehouse.queries("q157_seasonal_anomaly")(s, anomalyDir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    assert(out(("click", 0L)) === ((11L, 1L, 6000L, 5000L)))
    assert(out(("click", 1L)) === ((4L, 0L, 3108L, 777L)))
    assert(out(("view", 0L))  === ((1L, 0L, 123L, 123L)))
    assert(out(("view", 2L))  === ((2L, 0L, 400L, 300L)))
    assert(out.size === 4)
  }

  test("q157 matches an exact BigInt local model on the real table") {
    // sf0.01, not sf0.001: the smallest table has ~1.2 rows per weekly
    // cell, so no point can reach 3σ — the rule only binds with real
    // per-cell populations (1864 flags at sf0.1, 161 at sf0.01).
    val dir = "/root/testdata/sf0.01"
    val got = queries.Warehouse.queries("q157_seasonal_anomaly")(s, dir)
      .agg(sum("n_anomalies"), sum("n_events")).head()
    val (gotFlags, gotN) = (got.getLong(0), got.getLong(1))

    val cells = graft.model.Tables(s, dir).events
      .select(col("event_type"),
        expr("(unix_micros(ts) div 3600000000) % 168").as("how"),
        (col("value").cast("decimal(12,2)") * 100).cast("long").as("cents"))
      .collect()
      .map(r => ((r.getString(0), r.getLong(1)), BigInt(r.getLong(2))))
      .groupBy(_._1).view.mapValues(_.map(_._2))
    var flags = 0L
    var n = 0L
    for ((_, vs) <- cells) {
      val cn = BigInt(vs.length)
      val cs = vs.sum
      val cq = vs.map(v => v * v).sum
      flags += vs.count(v => {
        val l = cn * v - cs; l * l > 9 * (cn * cq - cs * cs)
      })
      n += vs.length
    }
    assert(gotN === n)
    assert(gotFlags === flags)
    assert(gotFlags > 0L, "the 3σ rule must bind on the shipped data")
  }

  // ---------------------------------------------------------------- q159

  test("q159 matches a local equi-depth model and keeps buckets contiguous") {
    val dir = "/root/testdata/sf0.01"
    val B   = queries.Warehouse.EQUIDEPTH_BUCKETS
    val got = queries.Warehouse.queries("q159_equidepth_histogram")(s, dir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))

    // Local model: value-based equi-depth over collected cents.
    val cents = graft.model.Tables(s, dir).events
      .select(col("event_type"),
        (col("value").cast("decimal(12,2)") * 100).cast("long").as("cents"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val want = cents.groupBy(_._1).flatMap { case (tpe, rows) =>
      val vs = rows.map(_._2).sorted
      val n  = vs.length.toLong
      val belowOf = vs.distinct.map(v => v -> vs.count(_ < v).toLong).toMap
      vs.groupBy(v => belowOf(v) * B / n).map { case (b, bucketVs) =>
        (tpe, b) -> (bucketVs.length.toLong, bucketVs.min, bucketVs.max,
          bucketVs.map(BigInt(_)).sum.toLong)
      }
    }
    assert(got.toMap === want)

    // Structural invariants: buckets contiguous in value, populations
    // sum to n, ids within [0, B).
    for ((tpe, rows0) <- got.groupBy(_._1._1)) {
      val rows = rows0.sortBy(_._1._2)
      assert(rows.forall { case ((_, b), _) => b >= 0 && b < B })
      for (w <- rows.sliding(2) if w.length == 2) {
        val mx = w(0)._2._3 // previous bucket's max_cents
        val mn = w(1)._2._2 // next bucket's min_cents
        assert(mx < mn, s"$tpe: bucket value ranges must not overlap")
      }
      assert(rows.map(_._2._1).sum === cents.count(_._1 == tpe).toLong)
    }
  }

  // ---------------------------------------------------------------- q160

  test("q160 matches a local multiplicity-percentile model") {
    val dir = "/root/testdata/sf0.01"
    val got = queries.Warehouse.queries("q160_key_skew_profile")(s, dir)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
      .toMap

    val keyCounts = graft.model.Tables(s, dir).events
      .select("event_type", "user_id").collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(identity).view.mapValues(_.length.toLong)
      .toSeq.groupBy(_._1._1).view.mapValues(_.map(_._2))
    for ((tpe, mults) <- keyCounts) {
      val sorted = mults.sorted
      val k = sorted.length.toLong
      val n = sorted.sum
      // p_X = min{c : (#keys with mult ≤ c)·100 ≥ X·K} — integer rule
      def pct(num: Long, den: Long) = {
        val need = sorted.indices.find(i => (i + 1).toLong * den >= k * num)
        sorted(need.get)
      }
      val want = (n, k, sorted.max, pct(1, 2), pct(9, 10), pct(99, 100),
        sorted.max * 1000000L / n)
      assert(got(tpe) === want, s"type $tpe")
    }
  }

  test("q160 surfaces a planted hot key") {
    import s.implicits._
    val d = TestSpark.tempDir("graft_skew").toString
    // 99 singleton users + ONE user with 901 rows → p99 = 1, max = 901,
    // hot_ppm = 901·10⁶/1000 = 901000
    val rows = (1L to 99L).map(u => (u, new Timestamp(1000L * u), u,
        "click", 1.0, "{}")) ++
      (1L to 901L).map(i => (1000L + i, new Timestamp(2000000L + i), 777L,
        "click", 1.0, "{}"))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$d/events.parquet")
    val r = queries.Warehouse.queries("q160_key_skew_profile")(s, d)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6), r.getLong(7))).toMap
    assert(r("click") === ((1000L, 100L, 901L, 1L, 1L, 1L, 901000L)))
  }

  // ---------------------------------------------------------------- q162

  test("q162 localizes the diff to the one manifest-changed month") {
    import queries.Warehouse.{HOT_MONTH, HOT_MOD}
    val out = queries.Warehouse.queries("q162_incremental_diff")(s, sfDir)
      .collect()
    // manifest pruning: ONLY the hot month reaches the row diff
    assert(out.length === 1)
    val r = out.head
    assert(r.getLong(0) === HOT_MONTH)

    // independent model from the raw table
    val rows = graft.model.Tables(s, sfDir).orders
      .select(col("o_orderkey"),
        (year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
          .cast("long").as("pk"))
      .collect().map(x => (x.getLong(0), x.getLong(1)))
      .filter(_._2 == HOT_MONTH)
    val nChanged = rows.count(_._1 % HOT_MOD == 3).toLong
    assert(nChanged > 0, "the correction rule must bind at sf0.001")
    assert(r.getLong(1) === rows.length.toLong)  // n_rows = month size
    assert(r.getLong(2) === nChanged)
    assert(r.getLong(3) === 500L * nChanged)     // exact money moved
  }

  // ---------------------------------------------------------------- q163

  test("q163 cascades the purge transitively and keeps exact survivors") {
    import queries.Warehouse.{DEL_MOD, DEL_RES}
    val t = graft.model.Tables(s, sfDir)
    val out = queries.Warehouse.queries("q163_delete_propagation")(s, sfDir)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap

    val delC = t.customer.select("c_custkey").collect().map(_.getLong(0))
      .filter(k => k % DEL_MOD == DEL_RES).toSet
    assert(delC.nonEmpty, "the request batch must bind at sf0.001")
    val orders = t.orders.select("o_orderkey", "o_custkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val delO = orders.filter(o => delC(o._2)).map(_._1).toSet
    val li = t.lineitem.select("l_orderkey").collect().map(_.getLong(0))
    val delL = li.count(delO)

    assert(out("customer")._2 === delC.size.toLong)
    assert(out("orders")._2 === delO.size.toLong)
    assert(out("lineitem")._2 === delL.toLong)
    // totals and keeps are consistent
    for ((_, (total, purged, kept)) <- out) assert(total === purged + kept)
    assert(out("lineitem")._1 === li.length.toLong)
  }
}
