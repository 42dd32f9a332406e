package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, QuaternaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, DoubleType}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.SparkSessionExtensions

/** Native Catalyst expression for even-odd point-in-polygon — the codegen
  * variant of SURVEY §2 P18 (the reference's measured hot spot: matplotlib
  * `path.contains_points`, app.py:44, ~85% of its runtime).
  *
  * `point_in_polygon(px, py, xs, ys)`: point (px,py) against the closed
  * polygon whose vertices are the parallel double arrays xs/ys (closing
  * edge v[n-1]→v[0] implicit). The crossing formula (`crossX` in the
  * companion, which q46's scanline also uses) is textually identical to
  * the relational parity join (graft.queries.Poster) and the DuckDB
  * oracle, so all of them produce bit-identical booleans.
  *
  * Why it exists: the relational form fans every cell out to |edges| rows
  * through a join and regroups — correct, oracle-checkable, but at 400×400
  * ×14 blobs that is 627 M intermediate rows and a 2.24 M-row shuffle.
  * This expression evaluates the whole edge loop inside whole-stage
  * codegen: zero fan-out, zero shuffle, one tight JIT'd loop per cell —
  * the shape you want when the grid is 100 TB and the polygon is the
  * query. Registered via SparkSessionExtensions (GraftExtensions).
  */
case class PointInPolygon(first: Expression, second: Expression,
    third: Expression, fourth: Expression)
  extends QuaternaryExpression {

  override def prettyName: String = "point_in_polygon"
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = children.exists(_.nullable)

  /** Nullable ELEMENTS are rejected (not just nullable arrays): both eval
    * paths read raw doubles, and a null element would silently read as 0.0
    * — a wrong mask, not an error. Callers build vertex arrays with an
    * explicit coalesce so the element type is non-null by construction. */
  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = first.dataType == DoubleType && second.dataType == DoubleType &&
      third.dataType == ArrayType(DoubleType, containsNull = false) &&
      fourth.dataType == ArrayType(DoubleType, containsNull = false)
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"point_in_polygon expects (double, double, array<double not null>, " +
        s"array<double not null>), got ${children.map(_.dataType.simpleString)}")
  }

  override protected def nullSafeEval(px: Any, py: Any,
      xsA: Any, ysA: Any): Any = {
    val p = px.asInstanceOf[Double]
    val q = py.asInstanceOf[Double]
    val xs = xsA.asInstanceOf[ArrayData]
    val ys = ysA.asInstanceOf[ArrayData]
    val n = xs.numElements()
    var in = false
    if (n == 0) return false // empty polygon contains nothing
    // Carry the previous vertex instead of re-reading (and no modulo in
    // the loop): iteration i tests edge (v[i-1] -> v[i]), starting with
    // the closing edge (v[n-1] -> v[0]) — the same directed edge set,
    // bit-identical results, one array read per vertex.
    var x1 = xs.getDouble(n - 1); var y1 = ys.getDouble(n - 1)
    var i = 0
    while (i < n) {
      val x2 = xs.getDouble(i); val y2 = ys.getDouble(i)
      if (((y1 > q) != (y2 > q)) &&
          p < PointInPolygon.crossX(x1, y1, x2, y2, q)) in = !in
      x1 = x2; y1 = y2
      i += 1
    }
    in
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (px, py, xs, ys) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val x1 = ctx.freshName("x1"); val y1 = ctx.freshName("y1")
      val x2 = ctx.freshName("x2"); val y2 = ctx.freshName("y2")
      val in = ctx.freshName("in")
      s"""
         |int $n = $xs.numElements();
         |boolean $in = false;
         |if ($n > 0) {
         |  double $x1 = $xs.getDouble($n - 1); double $y1 = $ys.getDouble($n - 1);
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $x2 = $xs.getDouble($i); double $y2 = $ys.getDouble($i);
         |    if ((($y1 > $py) != ($y2 > $py)) &&
         |        $px < ${PointInPolygon.Ref}.crossX($x1, $y1, $x2, $y2, $py)) {
         |      $in = !$in;
         |    }
         |    $x1 = $x2; $y1 = $y2;
         |  }
         |}
         |${ev.value} = $in;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression,
      newFourth: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird,
      fourth = newFourth)
}

object PointInPolygon {

  /** The companion as generated Java code names it. */
  private val Ref = "graft.functions.PointInPolygon$.MODULE$"

  /** Where edge (x1,y1)→(x2,y2) crosses the horizontal line y = q. The one
    * crossing formula of every point-in-polygon path in the engine: the
    * expression's eval and codegen, the scanline below, and textually the
    * relational parity join (graft.queries.Poster) and the DuckDB oracles.
    * Strict IEEE arithmetic in a fixed order, so every caller gets the same
    * double. */
  def crossX(x1: Double, y1: Double, x2: Double, y2: Double, q: Double): Double =
    x1 + (x2 - x1) * (q - y1) / (y2 - y1)

  /** Scanline form of the expression for one row y = q: writes into `out`
    * the crossings of every edge that straddles the row, edges taken in the
    * expression's order and direction (v[i-1]→v[i], closing edge first),
    * sorted ascending; returns how many. A NaN crossing is dropped: the
    * expression's `p < NaN` never toggles. `out` needs xs.length slots. */
  def crossings(xs: Array[Double], ys: Array[Double], q: Double,
      out: Array[Double]): Int = {
    val n = xs.length
    var m = 0
    if (n > 0) {
      var x1 = xs(n - 1); var y1 = ys(n - 1)
      var i = 0
      while (i < n) {
        val x2 = xs(i); val y2 = ys(i)
        if ((y1 > q) != (y2 > q)) {
          val c = crossX(x1, y1, x2, y2, q)
          if (!c.isNaN) { out(m) = c; m += 1 }
        }
        x1 = x2; y1 = y2
        i += 1
      }
    }
    java.util.Arrays.sort(out, 0, m)
    m
  }

  /** Marks the row's inside cells: `out(off + x)` is set iff an odd number
    * of the `m` sorted crossings lie strictly right of gx(x), which is the
    * expression's parity for the point (gx(x), q). One sweep, so `gx` must
    * be nondecreasing (a linspace with hi ≥ lo). */
  def sweepRow(cross: Array[Double], m: Int, gx: Array[Double],
      out: Array[Boolean], off: Int): Unit = {
    var j = 0 // crossings at or left of gx(x)
    var x = 0
    while (x < gx.length) {
      val p = gx(x)
      while (j < m && !(p < cross(j))) j += 1
      out(off + x) = ((m - j) & 1) == 1
      x += 1
    }
  }
}

/** Session extension registering the graft native functions — wire with
  * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.entries.foreach(e.injectFunction)
    e.injectOptimizerRule(_ => VecDotRewrite)
    GraftExtensions.strategies.foreach(st => e.injectPlannerStrategy(_ => st))
  }
}

object GraftExtensions {
  private val strategies: Seq[org.apache.spark.sql.execution.SparkStrategy] =
    Seq(graft.plans.AsOfJoinStrategy, graft.plans.SmallSortStrategy)

  private val entries = Seq(
    (new FunctionIdentifier("point_in_polygon"),
      new ExpressionInfo(classOf[PointInPolygon].getName, "point_in_polygon"),
      (args: Seq[Expression]) =>
        PointInPolygon(args(0), args(1), args(2), args(3)): Expression),
    (new FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
      (args: Seq[Expression]) => VecDot(args(0), args(1)): Expression),
    // Spark ships BloomFilterMightContain for its internal runtime-filter
    // rewrite but does not expose it in the public registry; surfacing it
    // lets a query probe an explicitly-built `util.sketch.BloomFilter`
    // (serialized bytes as a literal) inside whole-stage codegen — the
    // shuffle-avoiding membership prefilter q100 is built on. Contract
    // matches the runtime filter's: arg0 = serialized bloom (binary),
    // arg1 = the LONG the build side inserted (here xxhash64 of the key).
    (new FunctionIdentifier("bloom_might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "bloom_might_contain"),
      (args: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          args(0), args(1)): Expression))

  /** Runtime registration for sessions NOT built with the static
    * `spark.sql.extensions` conf (the SparkEntry contract hands the
    * catalog an externally-constructed session, and getOrCreate silently
    * ignores static confs when a session already exists in the JVM).
    * Idempotent — safe to call on every catalog use. */
  def ensureRegistered(spark: org.apache.spark.sql.SparkSession): Unit = {
    val fr = spark.sessionState.functionRegistry
    entries.foreach { case (id, info, builder) =>
      if (!fr.functionExists(id)) fr.registerFunction(id, info, builder)
    }
    // The optimizer rule has no per-session registry to probe, but
    // experimental.extraOptimizations is runtime-mutable — the
    // extensions-built sessions get the rule twice (inject + here),
    // which is harmless: the rewrite is idempotent.
    val exp = spark.experimental
    if (!exp.extraOptimizations.contains(VecDotRewrite))
      exp.extraOptimizations = exp.extraOptimizations :+ VecDotRewrite
    // same runtime-mutable escape hatch for the planner strategies
    strategies.filterNot(exp.extraStrategies.contains).foreach { st =>
      exp.extraStrategies = exp.extraStrategies :+ st
    }
  }
}
