package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.types.{ArrayType, Decimal, DecimalType, DoubleType}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.PointInPolygon
import graft.queries.PosterScale
import graft.queries.PosterScale.{Blob, Tile}

/** Golden pin for q46 — the ONE catalog query without a DuckDB oracle
  * (the 400×400 full-scale twin of the oracle-checked q22/q23 64-grid).
  * Its 14-row output is deterministic by construction: integer mask
  * counts, shade sums rounded to 3 (summation noise ~1e-11 against a
  * 0.0005 boundary), tile masses folded in sorted tile order. The rows
  * below were captured from the passing r6 build; any PIP, shading,
  * normalization, tiling, or blur regression moves them.
  *
  * Second, the physics: the σ=6 kernel is sum-normalized and every
  * blob's R=18 halo stays inside the padded bbox (pad = 0.4·extent ≫
  * 18 cells), so convolution conserves mass EXACTLY — shadow_mass must
  * equal n_mask_cells at 3 dp. A mis-normalized kernel or a tile halo
  * bug breaks conservation before it breaks anything visible.
  *
  * Third, the structure: q46 stays one pass over its blob ids (a job
  * budget) whose blobs run in parallel (a task count), each blob's tiles
  * run once, and at a small grid the tile routine equals a per-cell
  * point_in_polygon mask with a direct whole-grid dense blur.
  */
class FullScaleGoldenSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark

  test("q46 matches the golden 14 rows and conserves blur mass") {
    val got = SparkEntry.queries("q46_poster_fullscale")(s, "unused")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
      .sortBy(_._1)
    val want = Seq(
      (0L, 31455L, 23306.491, 12582.0, 31455.0),
      (1L, 32364L, 23973.893, 14439.323, 32364.0),
      (2L, 32132L, 23789.841, 15818.831, 32132.0),
      (3L, 29276L, 21816.479, 15764.0, 29276.0),
      (4L, 31177L, 23181.568, 18226.554, 31177.0),
      (5L, 29053L, 21624.521, 18325.738, 29053.0),
      (6L, 33180L, 24552.429, 22460.308, 33180.0),
      (7L, 27261L, 20353.928, 19711.8, 27261.0),
      (8L, 30416L, 22591.367, 23396.923, 30416.0),
      (9L, 31952L, 23727.259, 26053.169, 31952.0),
      (10L, 27738L, 20704.263, 23897.354, 27738.0),
      (11L, 30342L, 22561.573, 27541.2, 30342.0),
      (12L, 28730L, 21428.557, 27404.0, 28730.0),
      (13L, 30697L, 22803.162, 30697.0, 30697.0))
    assert(got.toSeq === want)
    // mass conservation, stated as the law rather than via the literals
    got.foreach { case (blob, n, _, _, mass) =>
      assert(mass === n.toDouble, s"blob $blob: blur mass $mass ≠ mask $n")
    }
  }

  test("q46 builds in 1 Spark job and runs in at most 2 in all") {
    // 1 to build (params, vertices and kernel taps in one union collect)
    // and the one stage over the blob ids: each task folds its blob's
    // tiles, and the range is already sorted by blob_id, so nothing
    // shuffles and nothing sorts
    var df: DataFrame = null
    val built = TestSpark.jobsOf {
      df = SparkEntry.queries("q46_poster_fullscale")(s, "unused")
    }
    val jobs = built + TestSpark.jobsOf(df.collect())
    info(s"q46 ran $jobs jobs, $built to build")
    assert(built === 1, s"q46 ran $built jobs to build")
    assert(jobs <= 2, s"q46 ran $jobs jobs")
  }

  test("q46 runs one task per blob id, never 1") {
    // blob ids 0…13 are the range's 14 slices. The stage must not
    // collapse into one task (a Coalesce 1 under the sort would pull it
    // in), and no stage may follow it.
    val df = SparkEntry.queries("q46_poster_fullscale")(s, "unused")
    val stages = TestSpark.stagesOf(df.collect())
    assert(stages.map(_.numTasks) === Seq(14))
    val p = df.queryExecution.executedPlan.toString
    Seq("Exchange", "Coalesce", "Sort ").foreach(op =>
      assert(!p.contains(op), s"$op in\n$p"))
  }

  test("q46 runs the tile routine exactly blobs × 7 times") {
    // 400 rows in 64-row tiles: 7 per blob, each once, whatever the
    // optimizer does with the filter on the fold's result
    TileCalls.n.set(0)
    val rows = PosterScale.fullScale(s, TileCalls.counting).collect()
    assert(rows.length === 14)
    assert(TileCalls.n.get === 14 * 7)
  }

  test("ids with no blob, and blobs with no mask, give no row") {
    // ids 3, 5 and 9 on the 400 grid over [0, 399]²: blob 5 lies outside
    // the grid, and 4 and 6…8 are not blobs
    def at(id: Long, x0: Double, x1: Double, y0: Double, y1: Double) =
      Blob(id, 0.0, 399.0, 0.0, 399.0, 200.0, 200.0, 0.1 * id, 300.0,
        -300.0, 300.0, Array(x0, x1, x1, x0), Array(y0, y0, y1, y1))
    val bs = Array(at(9, 150.5, 300.5, 20.5, 390.5),
      at(3, 10.5, 120.5, 100.5, 200.5), at(5, 500.0, 600.0, 5.0, 15.0))
    val w = (-18 to 18).map(o => math.exp(-o * o / 72.0))
    TileCalls.n.set(0)
    val got = PosterScale.summaries(s, bs, 400, w.map(_ / w.sum).toArray,
      TileCalls.counting).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(TileCalls.n.get === 3 * 7)
    // 110 × 100 and 150 × 370 cells; alpha = (0.4 + 0.6 · depth) · cells
    assert(got.toSeq === Seq((3L, 11000L, 6380.0), (9L, 55500L, 52170.0)))
  }

  test("shade units are Spark's CAST(shade AS DECIMAL(28,12)), both paths") {
    val rnd = new scala.util.Random(28)
    val ds = Seq(0.3, 1.0, 0.5000000000005, 0.7499999999995, 0.123456789012345) ++
      Seq.fill(2000)(0.3 + 0.7 * rnd.nextDouble())
    val t = DecimalType(28, 12)
    ds.foreach { d =>
      val want = Cast(Literal(d), t).eval().asInstanceOf[Decimal]
      assert(PosterScale.shadeUnits(d) === want.toUnscaledLong, s"shade $d")
    }
    import s.implicits._
    val coded = ds.toDF("d").selectExpr("d", "CAST(d AS DECIMAL(28,12)) AS c")
      .collect()
    coded.foreach { r =>
      assert(PosterScale.shadeUnits(r.getDouble(0)) ===
        r.getDecimal(1).unscaledValue.longValueExact, s"shade ${r.getDouble(0)}")
    }
  }

  // The small grid: n = 40 on [0, 39]², so cell (x, y) sits at (x, y)
  // exactly; tiles of 16 rows and a 7-tap kernel (r = 3), so tile 1's halo
  // is rows 13…34.
  private val n = 40
  private val t = 16
  private val kernel = {
    val w = (-3 to 3).map(o => math.exp(-o * o / (2 * 1.3 * 1.3)))
    w.map(_ / w.sum).toArray
  }

  private def blob(xs: Array[Double], ys: Array[Double]): Blob =
    Blob(7L, 0.0, 39.0, 0.0, 39.0, 20.0, 20.0, 0.5, 30.0, -30.0, 30.0, xs, ys)

  private def rect(x0: Double, x1: Double, y0: Double, y1: Double) =
    blob(Array(x0, x1, x1, x0), Array(y0, y0, y1, y1))

  /** Per tile: mask cells in its own rows (point_in_polygon per cell) and
    * the mass of a direct dense blur of the whole-grid mask over those rows
    * (zero padding beyond the grid). None when the tile's halo has no mask
    * cell, as the tile routine answers. */
  private def direct(b: Blob): Seq[Option[(Long, Double)]] = {
    val r = kernel.length / 2
    val arr = ArrayType(DoubleType, containsNull = false)
    val in = Array.tabulate(n, n)((y, x) =>
      PointInPolygon(Literal(x.toDouble), Literal(y.toDouble),
        Literal.create(b.xs, arr), Literal.create(b.ys, arr))
        .eval(null).asInstanceOf[Boolean])
    def conv(v: Int => Double, i: Int) =
      (-r to r).foldLeft(0.0) { (acc, o) =>
        val j = i + o
        if (j >= 0 && j < n) acc + kernel(o + r) * v(j) else acc
      }
    val hor = Array.tabulate(n, n)((y, x) =>
      conv(j => if (in(y)(j)) 1.0 else 0.0, x))
    val blur = Array.tabulate(n, n)((y, x) => conv(j => hor(j)(x), y))
    (0 to (n - 1) / t).map { k =>
      val own = k * t to math.min(n - 1, (k + 1) * t - 1)
      val halo = math.max(0, k * t - r) to math.min(n - 1, (k + 1) * t - 1 + r)
      if (!halo.exists(y => in(y).contains(true))) None
      else Some((own.map(y => in(y).count(identity).toLong).sum,
        own.foldLeft(0.0)((m, y) => (0 until n).foldLeft(m)(_ + blur(y)(_)))))
    }
  }

  private def assertTilesMatch(b: Blob): Seq[Option[Tile]] = {
    val got = (0 to (n - 1) / t).map(k => PosterScale.tile(b, k, n, t, kernel))
    assert(got.map(_.map(c => (c.cells, c.mass))) === direct(b))
    got
  }

  test("tile routine = per-cell mask + direct blur: mask only in a halo") {
    // rows 5…13: tile 0 owns them all, tile 1 sees row 13 in its halo only
    val got = assertTilesMatch(rect(10.5, 20.5, 4.5, 13.5))
    assert(got(0).map(_.cells) === Some(90L))
    assert(got(1).exists(c => c.cells == 0L && c.shadeUnits == 0L && c.mass > 0))
    assert(got(2).isEmpty)
  }

  test("tile routine = per-cell mask + direct blur: empty mask, no row") {
    for (b <- Seq(rect(50.0, 60.0, 5.0, 15.0), rect(10.2, 10.8, 5.0, 15.0),
        blob(Array.emptyDoubleArray, Array.emptyDoubleArray),
        blob(Array(5.0, 30.0), Array(5.0, 30.0))))
      assert(assertTilesMatch(b).forall(_.isEmpty))
  }

  test("tile routine = per-cell mask + direct blur: mask at the grid edge") {
    for (b <- Seq(rect(-5.0, 8.5, -5.0, 20.5), rect(30.5, 45.0, 25.5, 45.0))) {
      val got = assertTilesMatch(b).flatten
      // clipped at the edge: the blur loses mass beyond the grid
      assert(got.map(_.mass).sum < got.map(_.cells).sum.toDouble)
    }
  }
}

/** Counts calls of [[PosterScale.tile]] made through `counting`. The
  * session is local, so the tasks run in this JVM and share the count. */
private object TileCalls {
  val n = new java.util.concurrent.atomic.AtomicLong
  val counting: PosterScale.Tiler = (b, k, gridN, t, kernel) => {
    n.incrementAndGet()
    PosterScale.tile(b, k, gridN, t, kernel)
  }
}
