package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Poster

/** Kernel construction and separable-blur semantics (SURVEY §5.3/§5.4):
  * normalization, symmetry, fixture agreement, hand-computed 5-tap
  * convolution including the zero-pad edge, and mass conservation; the
  * one-job kernel against the agg-and-rejoin form it replaced. */
class KernelAndBlurSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark

  test("q13 kernel: 37 taps, sums to 1, symmetric, matches fixture") {
    val rows = Poster.queries("q13_kernel")(s, "")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rows.size === 37)
    assert(math.abs(rows.values.sum - 1.0) < 1e-9)
    (1 to 18).foreach(o => assert(rows(o.toLong) === rows(-o.toLong)))
    val fx = s.read.parquet(s"${Poster.FX}/kernel_sigma6.parquet")
      .collect().map(r => r.getInt(0).toLong -> r.getDouble(1)).toMap
    rows.foreach { case (o, w) => assert(math.abs(w - fx(o)) < 1e-11) }
  }

  test("q13 runs in 1 Spark job") {
    val jobs = TestSpark.jobsOf(Poster.queries("q13_kernel")(s, "").collect())
    assert(jobs === 1, s"q13 ran $jobs jobs")
  }

  /** The agg-and-rejoin form kernel() had before it ran in one job: a
    * 1-row total over `slices` range partitions, broadcast and
    * cross-joined back onto the taps. */
  private def rejoinKernel(sigma: Double, slices: Int): DataFrame = {
    val radius = (3.0 * sigma + 0.5).toInt
    val raw = s.range(0, 2L * radius + 1, 1, slices)
      .select((col("id") - radius).as("offset"))
      .withColumn("w", exp(-(col("offset") * col("offset")).cast("double")
        / lit(2.0 * sigma * sigma)))
    val total = raw.agg(sum("w").as("total"))
    raw.crossJoin(broadcast(total))
      .select(col("offset"), round(col("w") / col("total"), 12).as("weight"))
      .orderBy("offset")
  }

  test("kernel(σ) equals the agg-and-rejoin form: rows, schema, nullability") {
    def bits(df: DataFrame) = df.collect().toSeq.map(r =>
      (r.getLong(0), java.lang.Double.doubleToRawLongBits(r.getDouble(1))))
    for (sigma <- Seq(0.5, 2.0, 3.2, 6.0, 10.0, 20.0)) {
      val k = Poster.kernel(s, sigma)
      val got = bits(k)
      assert(got.size === 2 * (3.0 * sigma + 0.5).toInt + 1, s"σ=$sigma")
      for (slices <- Seq(1, 4, 8)) {
        val old = rejoinKernel(sigma, slices)
        assert(k.schema === old.schema, s"σ=$sigma, $slices slices")
        assert(got === bits(old), s"σ=$sigma, $slices slices")
      }
    }
  }

  test("5-tap 1-D convolution of a point mass, zero-pad edge semantics") {
    import s.implicits._
    // mask: single cell at x=0 on a 5-wide row; kernel [.1,.2,.4,.2,.1]
    val mask = Seq((0L, 0L, 0L)).toDF("blob_id", "y", "x")
    val kernel = Seq((-2, 0.1), (-1, 0.2), (0, 0.4), (1, 0.2), (2, 0.1))
      .toDF("offset", "weight")
    val out = mask.crossJoin(broadcast(kernel))
      .select(col("blob_id"), col("y"),
        (col("x") - col("offset").cast("long")).as("x"), col("weight"))
      .where(col("x").between(0, 4))
      .groupBy("blob_id", "y", "x").agg(sum("weight").as("v1"))
      .collect().map(r => r.getLong(2) -> r.getDouble(3)).toMap
    // np.convolve([1,0,0,0,0], k, mode="same") = [.4, .2, .1, 0, 0]:
    // left taps fall off the zero-padded edge and are simply absent.
    assert(out === Map(0L -> 0.4, 1L -> 0.2, 2L -> 0.1))
  }

  test("separable 2-D blur conserves mass (64-grid fixtures)") {
    val blur = Poster.queries("q21_blur_sep2d")(s, "")
      .groupBy("blob_id").agg(sum("v2").as("mass"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val mask = Poster.queries("q17_point_in_polygon")(s, "")
      .where(col("inside"))
      .groupBy("blob_id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(blur.keySet === mask.keySet)
    blur.foreach { case (b, m) =>
      assert(math.abs(m - mask(b)) < 1e-4,
        s"blob $b: blurred mass $m vs mask ${mask(b)}")
    }
  }
}
