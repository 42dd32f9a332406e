package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Poster
import graft.queries.Poster.PosterCfg

/** Property sweep over the CONTINUOUS PosterCfg space (VERDICT r8 #3):
  * the two frozen points (Default, Alt) prove the pipeline runs at two
  * samples; this spec proves it is a *function* on a grid of the
  * reference's sidebar space (app.py:107-113) by generating synthetic
  * blob fixtures for arbitrary (n_blobs, σ, light) and asserting the
  * reference's own invariants (app.py:25,28,56-60,78,81) hold at every
  * point — no frozen numpy fixture required:
  *
  *  - kernel: taps = 2·int(3σ+0.5)+1, Σw = 1, symmetric, peak at 0
  *  - per-cell: |cells| = n_blobs·64², alpha ∈ [0,1], rgb ∈ [0,1],
  *    shade ∈ [0.3, 1] on mask cells (0.3 + 0.7·(½radial + ½lightn)
  *    with both terms clipped/normalized to [0,1])
  *  - mask ⊆ bbox: an inside=true cell's grid point lies inside the
  *    UNPADDED vertex bbox (the padded grid is strictly wider, so a
  *    ray-cast leak past the polygon hull would fail this)
  *  - the two-layer composite runs end-to-end and stays on the canvas
  *    with layer ids inside the blob space
  *
  * Synthetic blobs are deterministic wobbled n-gons — every quantity is
  * a pure function of (nBlobs, blobId, vertexIdx), so the sweep is
  * reproducible without any fixture file.
  */
class PosterCfgPropertySpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark

  /** The swept grid: σ spans sub-default to super-default (taps 5..37),
    * n_blobs spans below/above both frozen points, light directions
    * cover all four sign quadrants. */
  private val GRID = Seq(
    (5, 0.5, (1.0, 0.0)),
    (9, 3.2, (0.4, -0.7)),
    (14, 2.0, (-0.6, 0.8)),
    (30, 6.0, (-0.3, -0.5)))

  private val N = 64
  private val VERTS = 16
  private val PAD = 0.1 // synthetic bbox pad fraction (any pad > 0 works)

  private case class Blob(id: Int, verts: Seq[(Double, Double)],
      vxmin: Double, vxmax: Double, vymin: Double, vymax: Double,
      cxMean: Double, cyMean: Double)

  /** Deterministic wobbled n-gon per (nBlobs, blobId). */
  private def mkBlob(n: Int, b: Int): Blob = {
    val cx = 0.25 + 0.5 * ((b * 7919 % 97) / 96.0)
    val cy = 0.25 + 0.5 * ((b * 104729 % 89) / 88.0)
    val r = 0.05 + 0.1 * ((b * 1299709 % 83) / 82.0)
    val verts = (0 until VERTS).map { k =>
      val ang = 2.0 * math.Pi * k / VERTS
      val rr = r * (1.0 + 0.2 * math.sin(3.0 * ang + b))
      (cx + rr * math.cos(ang), cy + rr * math.sin(ang))
    }
    val xs = verts.map(_._1); val ys = verts.map(_._2)
    Blob(b, verts, xs.min, xs.max, ys.min, ys.max,
      xs.sum / VERTS, ys.sum / VERTS)
  }

  /** Write a complete synthetic fixture dir for one cfg point and return
    * the cfg. The frozen 64-grid shade bounds (dist_max64 etc.) are
    * recomputed here from their DEFINITIONS (app.py:70-78) — an
    * independent twin of the engine's per-blob shade extrema,
    * driver-side over the tiny 64² bbox grid. */
  private def mkCfg(n: Int, sigma: Double, light: (Double, Double)): (PosterCfg, Seq[Blob]) = {
    import s.implicits._
    val dir = TestSpark.tempDir(s"graft_cfg_prop_${n}_").toString
    val blobs = (0 until n).map(mkBlob(n, _))
    val (lx, ly) = light
    val params = blobs.map { bl =>
      val w = bl.vxmax - bl.vxmin; val h = bl.vymax - bl.vymin
      val xmin = bl.vxmin - PAD * w; val xmax = bl.vxmax + PAD * w
      val ymin = bl.vymin - PAD * h; val ymax = bl.vymax + PAD * h
      // 64-grid shade bounds from the definition, independently of the
      // engine's shade window (`Poster.shaded`) under test
      var dmax = 0.0
      var lmin = Double.MaxValue; var lmax = Double.MinValue
      for (y <- 0 until N; x <- 0 until N) {
        val gx = xmin + x * ((xmax - xmin) / (N - 1))
        val gy = ymin + y * ((ymax - ymin) / (N - 1))
        val nx = gx - bl.cxMean; val ny = gy - bl.cyMean
        dmax = math.max(dmax, math.sqrt(nx * nx + ny * ny))
        val l = nx * lx + ny * ly
        lmin = math.min(lmin, l); lmax = math.max(lmax, l)
      }
      (bl.id.toLong, xmin, xmax, ymin, ymax, bl.cxMean, bl.cyMean,
        0.2 + 0.8 * (bl.id % 5) / 4.0, 0.2 + 0.8 * (bl.id % 7) / 6.0,
        0.2 + 0.8 * (bl.id % 3) / 2.0,
        if (n == 1) 0.0 else bl.id.toDouble / (n - 1),
        dmax, lmin, lmax)
    }
    params.toDF("blob_id", "xmin", "xmax", "ymin", "ymax",
        "cx_mean", "cy_mean", "base_r", "base_g", "base_b", "depth",
        "dist_max64", "light_min64", "light_max64")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/blob_params.parquet")
    blobs.flatMap(bl => bl.verts.zipWithIndex.map { case ((x, y), i) =>
        (bl.id.toLong, i, x, y)
      })
      .toDF("blob_id", "idx", "x", "y")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/blob_vertices.parquet")
    Poster.kernel(s, sigma)
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/kernel_prop.parquet")
    (PosterCfg(dir, lx, ly, n, "kernel_prop", sigma), blobs)
  }

  test("kernel invariants hold across the σ sweep") {
    for ((_, sigma, _) <- GRID) {
      val k = Poster.kernel(s, sigma).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val radius = (3.0 * sigma + 0.5).toInt
      assert(k.size === 2 * radius + 1, s"taps at σ=$sigma")
      assert(math.abs(k.values.sum - 1.0) < 1e-9, s"Σw at σ=$sigma")
      (1 to radius).foreach { o =>
        assert(k(o.toLong) === k(-o.toLong), s"symmetry at σ=$sigma o=$o")
        assert(k(o.toLong) <= k(o.toLong - 1) + 1e-15,
          s"monotone decay at σ=$sigma o=$o")
      }
    }
  }

  test("per-cell + composite invariants hold across the cfg grid") {
    for ((n, sigma, light) <- GRID) {
      val (cfg, blobs) = mkCfg(n, sigma, light)
      val byId = blobs.map(b => b.id.toLong -> b).toMap
      val cells = Poster.posterCells(s, cfg).collect()
      assert(cells.length === n * N * N, s"cell count at n=$n")
      cells.foreach { r =>
        val (b, y, x) = (r.getLong(0), r.getLong(1), r.getLong(2))
        val mask = r.getBoolean(3)
        val shade = r.getDouble(4)
        val (cr, cg, cb, a) =
          (r.getDouble(5), r.getDouble(6), r.getDouble(7), r.getDouble(8))
        assert(a >= 0.0 && a <= 1.0, s"alpha at n=$n cell ($b,$y,$x)")
        assert(cr >= 0 && cr <= 1 && cg >= 0 && cg <= 1 && cb >= 0 && cb <= 1,
          s"rgb at n=$n cell ($b,$y,$x)")
        if (mask) {
          assert(shade >= 0.3 - 1e-12 && shade <= 1.0 + 1e-12,
            s"shade at n=$n cell ($b,$y,$x): $shade")
          // mask ⊆ bbox: reconstruct the grid point from OUR params and
          // require it inside the unpadded vertex bbox — the padded grid
          // is wider, so any even-odd leak outside the hull fails here
          val bl = byId(b)
          val w = bl.vxmax - bl.vxmin; val h = bl.vymax - bl.vymin
          val xmin = bl.vxmin - PAD * w; val xmax = bl.vxmax + PAD * w
          val ymin = bl.vymin - PAD * h; val ymax = bl.vymax + PAD * h
          val gx = xmin + x * ((xmax - xmin) / (N - 1))
          val gy = ymin + y * ((ymax - ymin) / (N - 1))
          assert(gx >= bl.vxmin - 1e-12 && gx <= bl.vxmax + 1e-12 &&
            gy >= bl.vymin - 1e-12 && gy <= bl.vymax + 1e-12,
            s"mask outside vertex bbox at n=$n cell ($b,$y,$x)")
        }
      }
      val comp = Poster.shadowComposite(s, cfg).collect()
      assert(comp.nonEmpty && comp.length <= N * N, s"composite size at n=$n")
      comp.foreach { r =>
        Option(r.get(2)).foreach(tb => assert(
          tb.asInstanceOf[Long] >= 0 && tb.asInstanceOf[Long] < n,
          s"top_blob range at n=$n"))
        Option(r.get(7)).foreach(sb => assert(
          sb.asInstanceOf[Long] >= 0 && sb.asInstanceOf[Long] < n,
          s"sh_blob range at n=$n"))
      }
    }
  }
}
