package graft

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types.{ArrayType, DoubleType}
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.PointInPolygon

/** Unit tests for the point_in_polygon codegen expression (SURVEY §5.4):
  * hand-checkable triangle cases, agreement between interpreted eval and
  * the SQL/codegen path, the closing-edge semantics, and the scanline
  * form (crossings + sweepRow, q46's mask) against the expression. */
class PointInPolygonSpec extends AnyFunSuite {

  private def pip(px: Double, py: Double,
      xs: Array[Double], ys: Array[Double]): Boolean =
    PointInPolygon(
      Literal(px), Literal(py),
      Literal.create(xs, ArrayType(DoubleType, containsNull = false)),
      Literal.create(ys, ArrayType(DoubleType, containsNull = false)))
      .eval(null).asInstanceOf[Boolean]

  private val triX = Array(0.0, 1.0, 0.0)
  private val triY = Array(0.0, 0.0, 1.0)

  test("unit triangle: interior and exterior points") {
    assert(pip(0.25, 0.25, triX, triY))
    assert(!pip(0.75, 0.75, triX, triY))
    assert(!pip(-0.1, 0.5, triX, triY))
    assert(!pip(0.5, -0.1, triX, triY))
    assert(pip(0.1, 0.1, triX, triY))
  }

  test("closing edge v[n-1]->v[0] is honored (square without repeat)") {
    // Open vertex list: (0,0),(1,0),(1,1),(0,1) — containment of the left
    // half requires the implicit closing edge (0,1)->(0,0).
    val sqX = Array(0.0, 1.0, 1.0, 0.0)
    val sqY = Array(0.0, 0.0, 1.0, 1.0)
    assert(pip(0.1, 0.5, sqX, sqY))
    assert(pip(0.9, 0.5, sqX, sqY))
    assert(!pip(1.1, 0.5, sqX, sqY))
    assert(!pip(-0.1, 0.5, sqX, sqY))
  }

  test("SQL/codegen path agrees with interpreted eval on a 3x3 grid") {
    val s = TestSpark.spark
    import s.implicits._
    val pts = for { y <- 0 until 3; x <- 0 until 3 }
      yield (x * 0.5 - 0.25, y * 0.5 - 0.25)
    val df = pts.toDF("px", "py")
      .selectExpr("px", "py",
        "point_in_polygon(px, py, array(0.0D, 1.0D, 0.0D), " +
          "array(0.0D, 0.0D, 1.0D)) AS inside")
    val got = df.collect().map(r =>
      (r.getDouble(0), r.getDouble(1)) -> r.getBoolean(2)).toMap
    pts.foreach { case (px, py) =>
      assert(got((px, py)) === pip(px, py, triX, triY),
        s"mismatch at ($px,$py)")
    }
  }

  /** The scanline mask of row y = q at the sorted xs `gx`. */
  private def scanRow(q: Double, gx: Array[Double],
      xs: Array[Double], ys: Array[Double]): Array[Boolean] = {
    val cross = new Array[Double](xs.length)
    val m = PointInPolygon.crossings(xs, ys, q, cross)
    val out = new Array[Boolean](gx.length)
    PointInPolygon.sweepRow(cross, m, gx, out, 0)
    out
  }

  /** Scanline ≡ expression, cell for cell, on rows at every vertex y plus a
    * lattice, and columns at every vertex x plus a lattice (so points land
    * exactly on vertices, edges and crossings). */
  private def assertScanlineAgrees(xs: Array[Double], ys: Array[Double],
      tag: String): Unit = {
    val lattice = (0 to 24).map(i => -0.1 + i * (1.2 / 24))
    val gx = (lattice ++ xs).sorted.toArray
    for (q <- (lattice ++ ys).distinct) {
      val row = scanRow(q, gx, xs, ys)
      gx.indices.foreach { i =>
        assert(row(i) === pip(gx(i), q, xs, ys),
          s"$tag: (${gx(i)}, $q) on ${xs.zip(ys).mkString(" ")}")
      }
    }
  }

  test("scanline row mask equals the expression on random polygons") {
    val rnd = new scala.util.Random(46)
    for (trial <- 0 until 300) {
      val n = rnd.nextInt(13)
      // a coarse coordinate set makes shared ys (horizontal edges, rows
      // through vertices) common rather than measure-zero
      def coord() =
        if (rnd.nextBoolean()) rnd.nextInt(9) / 8.0 else rnd.nextDouble()
      val xs = Array.fill(n)(coord())
      val ys = Array.fill(n)(coord())
      assertScanlineAgrees(xs, ys, s"trial $trial")
    }
  }

  test("scanline row mask equals the expression on degenerate polygons") {
    val cases = Seq(
      "no vertex" -> (Array.emptyDoubleArray, Array.emptyDoubleArray),
      "one vertex" -> (Array(0.5), Array(0.5)),
      "two vertices" -> (Array(0.2, 0.8), Array(0.1, 0.9)),
      "triangle" -> (triX, triY),
      "vertex on a sample row" -> (Array(0.0, 1.0, 0.5), Array(0.0, 0.5, 1.0)),
      "horizontal edges" ->
        (Array(0.0, 1.0, 1.0, 0.5, 0.5, 0.0), Array(0.0, 0.0, 0.5, 0.5, 1.0, 1.0)),
      "repeated vertices" ->
        (Array(0.0, 0.0, 1.0, 1.0, 1.0, 0.0), Array(0.0, 0.0, 0.0, 1.0, 1.0, 1.0)),
      "self-intersecting bowtie" ->
        (Array(0.0, 1.0, 0.0, 1.0), Array(0.0, 1.0, 1.0, 0.0)),
      "self-intersecting star" -> {
        val k = (0 until 5).map(i => i * 2 % 5)
        (k.map(i => 0.5 + 0.5 * math.cos(i * 2 * math.Pi / 5)).toArray,
          k.map(i => 0.5 + 0.5 * math.sin(i * 2 * math.Pi / 5)).toArray)
      })
    for ((tag, (xs, ys)) <- cases) assertScanlineAgrees(xs, ys, tag)
  }

  test("degenerate horizontal edges do not crash or miscount") {
    // Rectangle with a collinear extra vertex on the top edge.
    val xs = Array(0.0, 2.0, 2.0, 1.0, 0.0)
    val ys = Array(0.0, 0.0, 1.0, 1.0, 1.0)
    assert(pip(1.0, 0.5, xs, ys))
    assert(!pip(3.0, 0.5, xs, ys))
  }
}
