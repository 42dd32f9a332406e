package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

/** The reference-core recast (SURVEY §7.3 step 2): everything the reference
  * actually computes — kernel construction (app.py:22-29), palette hsv→rgb
  * (app.py:11-20), grid cross-product (app.py:39-43), edge construction
  * (app.py:62-64), point-in-polygon (app.py:44), two-pass normalized
  * shading (app.py:70-81), separable Gaussian blur (app.py:31-37), and the
  * full per-cell poster pipeline with painter's-order compositing
  * (app.py:51-93,137-150) — re-expressed as Spark DataFrame queries over
  * the frozen PRNG fixtures (parquet under `fixtures/`, SURVEY §7.4).
  *
  * Cross-engine exactness: the fixtures freeze every PRNG-derived double;
  * downstream the per-cell queries use only IEEE-754 correctly-rounded
  * primitives (+ - * / sqrt compare), which Spark (JVM), DuckDB, and the
  * numpy golden evaluate bit-identically, so those outputs are compared
  * EXACTLY. Only float-ACCUMULATING outputs (kernel normalization, means,
  * blur convolutions — where summation order differs between engines) are
  * rounded at the output boundary.
  *
  * Scale stance (the 100 TB posture): the grid expands each of the 14
  * params rows into its cells; q17's parity join streams them from a
  * range against the broadcast params instead — at scale the params/edges
  * side stays broadcastable (it is the "query", cells are the data); the
  * parity join broadcasts 3,920 edges and partially aggregates map-side,
  * so the only shuffle carries one row per output cell, never the 280×
  * edge fan-out. Blur is the bounded-frame neighbor join (kernel dim table
  * broadcast, A6/J5); compositing is max_by, one shuffle on the canvas
  * cell key. No query here collects to the driver; the 400-grid q46
  * (PosterScale) collects only its small query side, in one job.
  */
object Poster {

  /** One point of the reference's sidebar parameter space (app.py:107-113).
    *
    * The pipeline below is a FUNCTION of this record — every helper takes a
    * cfg (defaulting to [[Default]]) so the same code runs any frozen
    * parameter point. [[Alt]] is a second sampled point; q138/q141 run the
    * identical pipeline over it, proving the engine implements the
    * reference's function rather than its default constants (VERDICT r7 #2).
    *
    * @param fx     fixture dir frozen at (seed, n_blobs, light) by
    *               tools/gen_fixtures.py — absolute so Spark and the DuckDB
    *               oracle resolve identical files
    * @param lx,ly  light direction (app.py:109-110)
    * @param nBlobs blob count (app.py:108) = palette size (round-robin mod)
    * @param kernel frozen shadow-blur kernel fixture at
    *               sigma = max(2, 64·blur_strength) — app.py:88's
    *               `max(2, max(W,H)*blur)` at the 64-cell oracle domain
    * @param sigma  that sigma, for the from-scratch kernel queries
    */
  final case class PosterCfg(fx: String, lx: Double, ly: Double,
      nBlobs: Int, kernel: String, sigma: Double)

  /** Reference defaults: seed=42, n_blobs=14, light=(-0.6,0.8), blur=0.015. */
  val Default: PosterCfg =
    PosterCfg("/root/repo/fixtures", -0.6, 0.8, 14, "kernel_sigma2", 2.0)

  /** Second sampled point: seed=7, n_blobs=9, light=(0.4,-0.7), blur=0.05
    * ⇒ sigma = max(2, 64·0.05) = 3.2 (21-tap kernel vs the default's 13). */
  val Alt: PosterCfg =
    PosterCfg("/root/repo/fixtures/alt", 0.4, -0.7, 9, "kernel_sigma3p2", 3.2)

  /** Third frozen point (round 15, VERDICT r14 #7): Default's geometry
    * with the blur DISABLED — exercises the reference's `sigma <= 0 →
    * identity` guard (app.py:23-24,32-33) through the FULL composite,
    * end-to-end and hash-checked, not just at plan construction. The
    * kernel name is a sentinel: blur2d's identity branch must never
    * read it (no such fixture exists — a regression that re-plans the
    * convolution fails loudly on the missing file). */
  val ZeroBlur: PosterCfg =
    Default.copy(kernel = "kernel_never_read_sigma0", sigma = 0.0)

  /** Default fixture location (external consumers: PosterScale, specs). */
  val FX: String = Default.fx

  /** The declared schema of the input fixture `name` that
    * tools/gen_fixtures.py writes (every fixture dir has the same layout).
    * Reading with it skips the Parquet schema-inference job a schema-less
    * read runs per file; FixtureSchemaSpec pins each one to the inferred
    * schema. None for any other file, such as a kernel a caller wrote from
    * `kernel(s, sigma)` (its offsets are BIGINT, not INT): that one is
    * read with inference. */
  private[graft] def fixtureSchema(name: String): Option[StructType] = {
    def fields(ts: (String, DataType)*) =
      Some(StructType(ts.map { case (n, t) => StructField(n, t) }))
    val D = DoubleType
    name match {
      case "blob_params" => fields("blob_id" -> LongType, "radius" -> D,
        "wobble" -> D, "cx" -> D, "cy" -> D, "depth" -> D, "base_r" -> D,
        "base_g" -> D, "base_b" -> D, "xmin" -> D, "xmax" -> D, "ymin" -> D,
        "ymax" -> D, "cx_mean" -> D, "cy_mean" -> D, "dist_max64" -> D,
        "light_min64" -> D, "light_max64" -> D)
      case "blob_vertices" => fields("blob_id" -> LongType,
        "idx" -> IntegerType, "angle" -> D, "rr" -> D, "x" -> D, "y" -> D)
      case "palette" => fields("i" -> LongType, "h" -> D, "s" -> D, "v" -> D,
        "r" -> D, "g" -> D, "b" -> D)
      case "kernel_sigma2" | "kernel_sigma6" | "kernel_sigma3p2" =>
        fields("offset" -> IntegerType, "weight" -> D)
      case _ => None
    }
  }

  /** Fixture `name` of `cfg`'s dir, as one partition. Each fixture is one
    * small file, so its scan is one input partition already; the
    * coalesce(1) only tells the planner so (SinglePartition). A group-by
    * or window over a fixture then plans no exchange (vertArrays, edges,
    * q18's vertex stats), which saves the shuffle's map job.
    *
    * Nor does a join of two fixtures need a broadcast: SinglePartition
    * satisfies a shuffled join's clustering on both sides, so with a
    * `shuffle_hash` hint the hash join runs inside their one task (q14,
    * q79, and the params ⋈ vertex arrays of [[cells]]). `broadcast(...)`
    * there would add a job that only ships the small side. Broadcast a
    * fixture only when the other side is spread over many partitions, as
    * q17's grid and the canvas are.
    *
    * A hash join reports its sides' partitionings as a collection, and
    * Spark joins two children without an exchange only when each
    * reports SinglePartition itself (and is estimated under
    * `spark.sql.maxSinglePartitionBytes`). So a frame built on such a
    * join that a later join reads ends in a coalesce(1), narrow on one
    * partition, which restores the label; only q18's per-blob stats,
    * joined to its vertex stats, need it. A coalesce ends the codegen
    * stage and so materializes its rows: it goes after the frame's last
    * projection. */
  private[queries] def fx(s: SparkSession, name: String,
      cfg: PosterCfg = Default): DataFrame = {
    // Defensive native-function registration — the session may not have
    // been built with the graft extensions conf (see GraftExtensions).
    graft.functions.GraftExtensions.ensureRegistered(s)
    fixtureSchema(name).fold(s.read)(t => s.read.schema(t))
      .parquet(s"${cfg.fx}/$name.parquet")
      .coalesce(1)
  }

  private val N = 64 // oracle-gate grid (same function as 400, smaller domain)

  // ---------------------------------------------------------------- helpers

  /** J1: the grid constructor — per-blob padded-bbox raster, explicit-step
    * linspace `lo + i*step, step=(hi-lo)/(n-1)` (app.py:39-43 recast).
    *
    * Each blob's bounds row expands to its n² cells (an explode of the
    * row-major cell index), so the grid is one partition, like the
    * fixture it comes from, and building it runs no job. */
  private def grid(s: SparkSession, n: Int,
      cfg: PosterCfg = Default): DataFrame =
    explodeCells(bounds(s, cfg), n).select(cellCols(n): _*)

  /** Each of `perBlob`'s rows once per cell of its blob's n×n raster, with
    * the cell's (x, y); [[grid]] and [[cells]] build on it. */
  private def explodeCells(perBlob: DataFrame, n: Int): DataFrame =
    perBlob
      .select(col("*"), explode(sequence(lit(0L), lit(n.toLong * n - 1)))
        .as("id"))
      .select(col("*") +: cellXY(n): _*)

  /** The cells of [[grid]], spread over every core: the n² range is the
    * streamed side and the 14 bounds rows are broadcast, in a job of
    * their own. Only q17 builds on it. Its parity join fans each cell out
    * to its blob's ~280 edges (16M rows), which in the grid's one task
    * runs about 1.7× slower per call on 4 cores. */
  private def spreadGrid(s: SparkSession, n: Int): DataFrame =
    s.range(n.toLong * n)
      .select(cellXY(n): _*)
      .join(broadcast(bounds(s)))
      .select(cellCols(n): _*)

  /** Each blob's padded bounding box, the grid's per-blob input. */
  private def bounds(s: SparkSession, cfg: PosterCfg = Default): DataFrame =
    fx(s, "blob_params", cfg).select("blob_id", "xmin", "xmax", "ymin", "ymax")

  /** Cell (x, y) of an n×n raster at its row-major cell index `id`; every
    * grid builder and the canvas index their cells through this. */
  private def cellXY(n: Int): Seq[Column] =
    Seq((col("id") % n).as("x"), (col("id") / n).cast("long").as("y"))

  /** A cell's (blob_id, y, x) and its linspace point (gx, gy) over its
    * blob's [[bounds]]; every grid builder ends in these columns, so they
    * compute the same doubles. */
  private def cellCols(n: Int): Seq[Column] = Seq(
    col("blob_id"), col("y"), col("x"),
    (col("xmin") + col("x").cast("double") *
      ((col("xmax") - col("xmin")) / lit((n - 1).toDouble))).as("gx"),
    (col("ymin") + col("y").cast("double") *
      ((col("ymax") - col("ymin")) / lit((n - 1).toDouble))).as("gy"))

  /** W3: vertex list → closed edge list via lead() with wraparound
    * (app.py:62-64; the MOVETO/LINETO chain closes implicitly). */
  private def edges(s: SparkSession, cfg: PosterCfg = Default): DataFrame = {
    val w = Window.partitionBy("blob_id").orderBy("idx")
    val wAll = Window.partitionBy("blob_id").orderBy("idx")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    fx(s, "blob_vertices", cfg)
      .select(col("blob_id"), col("idx").cast("long").as("idx"),
        col("x").as("x1"), col("y").as("y1"),
        coalesce(lead(col("x"), 1).over(w), first(col("x")).over(wAll)).as("x2"),
        coalesce(lead(col("y"), 1).over(w), first(col("y")).over(wAll)).as("y2"))
  }

  /** Per-blob ordered vertex arrays (xs/ys) for the codegen expression.
    * The coalesce pins the element type to `double NOT NULL` — the
    * expression rejects nullable elements (a null would silently read as
    * 0.0 inside the codegen loop); fixture vertices are never null, so
    * the NaN arm is unreachable and exists only to carry nullability.
    * One aggregate sorts each blob's (idx, x, y) by idx; both arrays are
    * read off it. */
  private def vertArrays(s: SparkSession,
      cfg: PosterCfg = Default): DataFrame =
    fx(s, "blob_vertices", cfg)
      .groupBy("blob_id")
      .agg(array_sort(collect_list(struct(col("idx"), col("x"), col("y"))))
        .as("v"))
      .select(col("blob_id"),
        transform(col("v"), v => coalesce(v.getField("x"), lit(Double.NaN)))
          .as("xs"),
        transform(col("v"), v => coalesce(v.getField("y"), lit(Double.NaN)))
          .as("ys"))

  /** The codegen point_in_polygon expression over a cell's (gx, gy) and
    * its blob's vertex arrays: the cell-local loop replaces the 280×
    * parity-join fan-out, so no mask carries a 16 M-row intermediate.
    * Bit-identical to `inside()` (proven by q45 passing q17's oracle). */
  private def pip: Column = expr("point_in_polygon(gx, gy, xs, ys)")

  /** A cell's raw shade inputs (app.py:70-76): its distance from its
    * blob's vertex centroid and its light term. */
  private def distLight(cfg: PosterCfg): Seq[Column] = {
    val nx = col("gx") - col("cx_mean")
    val ny = col("gy") - col("cy_mean")
    Seq(sqrt(nx * nx + ny * ny).as("dist"),
      (nx * lit(cfg.lx) + ny * lit(cfg.ly)).as("light"))
  }

  /** A cell's `radial`, `lightn` and `shade` (app.py:77-81): its dist and
    * light normalized by its blob's bounds. */
  private def shadeCols(distMax: Column, lightMin: Column,
      lightMax: Column): Seq[Column] = {
    val radial = clip01(lit(1.0) - col("dist") / distMax)
    val lightn = (col("light") - lightMin) / (lightMax - lightMin)
    Seq(radial.as("radial"), lightn.as("lightn"),
      (lit(0.3) + lit(0.7) * (lit(0.5) * radial + lit(0.5) * lightn))
        .as("shade"))
  }

  /** Every cell of each blob's n-grid with what the grid queries read of
    * it, in one pass (q18–q22, q45): its (blob_id, y, x, gx, gy) as in
    * [[grid]], its mask bit `inside`, its raw shade inputs (`dist`,
    * `light`), and its blob's `base_r/g/b` and `depth`. One read of the
    * params joins the vertex arrays (a `shuffle_hash` join of two
    * one-partition sides, inside their one task; see [[fx]]) before the
    * explode, so the cells are one partition and building them runs no
    * job. Columns a query does not read are pruned, down to the params
    * scan; the vertex join is inner, so it stays. */
  private[queries] def cells(s: SparkSession, n: Int,
      cfg: PosterCfg = Default): DataFrame =
    explodeCells(fx(s, "blob_params", cfg)
        .join(vertArrays(s, cfg).hint("shuffle_hash"), "blob_id"), n)
      .select(cellCols(n) ++ Seq("cx_mean", "cy_mean", "xs", "ys", "base_r",
        "base_g", "base_b", "depth").map(col): _*)
      .select(Seq(col("blob_id"), col("y"), col("x"), col("gx"), col("gy"),
        pip.as("inside")) ++ distLight(cfg) ++
        Seq("base_r", "base_g", "base_b", "depth").map(col): _*)

  /** P18a: even-odd ray cast of cells against edges — the crossing count
    * parity join (app.py:44 recast; formula identical in all engines).
    * The oracle-facing relational form (q17); [[pip]] is the hot path. */
  private def inside(s: SparkSession, cells: DataFrame): DataFrame = {
    val straddle = (col("y1") > col("gy")) =!= (col("y2") > col("gy"))
    val xint = col("x1") + (col("x2") - col("x1")) *
      (col("gy") - col("y1")) / (col("y2") - col("y1"))
    cells.join(broadcast(edges(s)), "blob_id")
      .select(col("blob_id"), col("y"), col("x"), col("gx"), col("gy"),
        when(straddle && col("gx") < xint, 1L).otherwise(0L).as("c"))
      .groupBy("blob_id", "y", "x", "gx", "gy")
      .agg((sum("c") % 2 === 1).as("inside"))
  }

  /** P2–P5 + A3/A4 via J2: the shade field with its two-pass normalize
    * (app.py:70-81) — each cell's dist/light divided by its blob's
    * extrema, taken over a window per blob. The cells are one partition,
    * so the window plans no exchange, only a local sort; min/max are
    * order-independent, so the result stays bit-exact cross-engine. */
  private def shaded(s: SparkSession, n: Int,
      cfg: PosterCfg = Default): DataFrame = {
    val w = Window.partitionBy("blob_id")
    cells(s, n, cfg)
      .select(col("*"), max("dist").over(w).as("dist_max"),
        min("light").over(w).as("light_min"),
        max("light").over(w).as("light_max"))
      .select(col("*") +: shadeCols(col("dist_max"), col("light_min"),
        col("light_max")): _*)
  }

  private def clip01(c: Column): Column = least(lit(1.0), greatest(lit(0.0), c))

  /** One 1-D pass of the separable blur — np.convolve(…, "same") as a
    * kernel-offset join: shift `coord` by the kernel offset, weight the
    * carried value, re-aggregate per cell. Absent neighbors ≡ zero
    * padding (the .where drops out-of-range shifts); round(…, 9) makes
    * the pass output a deterministic cross-engine intermediate. ONE
    * definition for q20/q21/q53 (and their oracle CTEs' shape) so the
    * rounding scale, clip bounds, and offset sign can never drift apart. */
  private def blurPass(in: DataFrame, k: DataFrame, coord: String,
      value: Column, out: String): DataFrame = {
    val keep = Seq("blob_id", "y", "x").filterNot(_ == coord)
      .map(col) :+ (col(coord) - col("offset").cast("long")).as(coord)
    in.crossJoin(broadcast(k))
      .select(keep :+ value.as("p"): _*)
      .where(col(coord).between(0, N - 1))
      .groupBy("blob_id", "y", "x")
      .agg(round(sum("p"), 9).as(out))
  }

  /** Full separable 2-D blur of a (blob_id, y, x) mask: horizontal then
    * vertical 1-D pass (app.py:31-37). The reference's `sigma <= 0 →
    * identity` guard (app.py:23-24,32-33; SURVEY P11/O3) is decided at
    * PLAN-BUILD time: a non-positive sigma means no kernel fixture is
    * read and no convolution join is planned — the "blur" IS the input
    * mask (weight 1.0 per cell), exactly the reference's passthrough. */
  private def blur2d(s: SparkSession, mask: DataFrame,
      cfg: PosterCfg = Default): DataFrame =
    if (cfg.sigma <= 0)
      mask.select(col("blob_id"), col("y"), col("x"), lit(1.0).as("v2"))
    else {
      val k = fx(s, cfg.kernel, cfg)
      val p1 = blurPass(mask, k, "x", col("weight"), "v1")
      blurPass(p1, k, "y", col("weight") * col("v1"), "v2")
    }

  /** The common [0,1]² canvas raster (shared by compositing queries). */
  private def canvas(s: SparkSession): DataFrame =
    s.range(N.toLong * N)
      .select(cellXY(N): _*)
      .select(col("y"), col("x"),
        (col("x").cast("double") / lit((N - 1).toDouble)).as("gx"),
        (col("y").cast("double") / lit((N - 1).toDouble)).as("gy"))

  /** Every (blob, canvas cell) with its inside-mask bit — the shared
    * front half of the compositing queries. The canvas is spread over the
    * cores, so the blob ids and the vertex arrays are broadcast. */
  private def canvasInside(s: SparkSession,
      cfg: PosterCfg = Default): DataFrame =
    canvas(s)
      .crossJoin(broadcast(fx(s, "blob_params", cfg).select("blob_id")))
      .join(broadcast(vertArrays(s, cfg)), "blob_id")
      .withColumn("inside", pip)
      .drop("xs", "ys")

  /** W2: the blob layer of the composite — per canvas cell, the visible
    * (painter's-order max_by) blob and its shaded rgba (app.py:93,137).
    * Shade normalizers are each blob's frozen bbox-grid bounds (the
    * reference shades in blob-local raster space). */
  private def blobLayer(s: SparkSession,
      cfg: PosterCfg = Default): DataFrame = {
    val p = fx(s, "blob_params", cfg)
    val in = canvasInside(s, cfg).where(col("inside"))
    val lit01 = in.join(broadcast(p), "blob_id")
      .select(col("*") +: distLight(cfg): _*)
      .select(col("*") +: shadeCols(col("dist_max64"), col("light_min64"),
        col("light_max64")): _*)
    lit01.groupBy("y", "x").agg(
      max("blob_id").as("top_blob"),
      max_by(clip01(col("base_r") * col("shade")), col("blob_id")).as("r"),
      max_by(clip01(col("base_g") * col("shade")), col("blob_id")).as("g"),
      max_by(clip01(col("base_b") * col("shade")), col("blob_id")).as("b"),
      max_by(lit(0.4) + lit(0.6) * col("depth"), col("blob_id")).as("a"))
  }

  /** Reference background themes (app.py:127-131), hex pairs decoded to
    * 0-255 channel values once here: cool #a2cffe→#f7faff,
    * warm #ffdfba→#fffaf0, neutral #e8e8e8→#ffffff. */
  private val THEMES = Seq(
    ("cool", 162.0, 207.0, 254.0, 247.0, 250.0, 255.0),
    ("warm", 255.0, 223.0, 186.0, 255.0, 250.0, 240.0),
    ("neutral", 232.0, 232.0, 232.0, 255.0, 255.0, 255.0))

  /** S3+P1+A5: gaussian kernel from scratch as a function of sigma
    * (app.py:22-29): radius = int(3σ+0.5), taps = 2·radius+1, sequence
    * source, elementwise gaussian, sum-normalize.
    * exp() differs by ≤1 ulp between JVM and DuckDB libm → round(…,12).
    *
    * One job: the taps are one partition, collected into one array in
    * offset order; the total is that array's left fold (the order a
    * one-partition `sum` adds in) and each tap is divided by it inside
    * the same row, then inlined back to rows. There is no 1-row total to
    * broadcast and rejoin, and the root sort is one task (SmallSort).
    * KernelAndBlurSpec checks the rows, schema and nullability against
    * the agg-and-rejoin form at several sigmas and slice counts. */
  private[graft] def kernel(s: SparkSession, sigma: Double): DataFrame = {
    val radius = (3.0 * sigma + 0.5).toInt
    val offset = col("id") - radius
    s.range(0, 2L * radius + 1, 1, 1)
      .select(struct(offset.as("offset"),
        exp(-(offset * offset).cast("double") / lit(2.0 * sigma * sigma))
          .as("w")).as("t"))
      .agg(collect_list(col("t")).as("k"))
      .select(col("k"),
        aggregate(col("k"), lit(0.0), (acc, t) => acc + t.getField("w"))
          .as("total"))
      .select(inline(transform(col("k"), t => struct(
        t.getField("offset").as("offset"),
        round(t.getField("w") / col("total"), 12).as("weight")))))
      .orderBy("offset")
  }

  /** P14: the full two-layer composite (q53/q138 body) — each blob's
    * blurred mask drawn as a shadow at the (+0.02, −0.02) offset UNDER the
    * blob layer (app.py:87-91, zorder 0 vs 1), alpha 0.25·(1−depth). The
    * continuous 0.02 offset is discretized to one canvas cell
    * (round(0.02·63) = 1) — the raster-aligned recast of the reference's
    * continuous `extent` shift; per-layer visibility is painter's-order
    * max_by, consistent with q23. Cells may carry a shadow, a blob, or
    * both (full outer join of the two layers). */
  private[graft] def shadowComposite(s: SparkSession, cfg: PosterCfg): DataFrame = {
    val p2 = blur2d(s, canvasInside(s, cfg).where(col("inside"))
      .select("blob_id", "y", "x"), cfg)
    // +0.02 right, −0.02 down (origin lower): content at blur cell
    // (y, x) lands on canvas cell (y − 1, x + 1).
    val shifted = p2.select(col("blob_id"), (col("y") - 1).as("y"),
        (col("x") + 1).as("x"), col("v2"))
      .where(col("y").between(0, N - 1) && col("x").between(0, N - 1))
    val shadow = shifted
      .join(broadcast(fx(s, "blob_params", cfg).select("blob_id", "depth")),
        "blob_id")
      .groupBy("y", "x").agg(
        max("blob_id").as("sh_blob"),
        max_by(col("v2"), col("blob_id")).as("sh_v"),
        max_by(lit(0.25) * (lit(1.0) - col("depth")), col("blob_id"))
          .as("sh_a"))
    blobLayer(s, cfg).join(shadow, Seq("y", "x"), "full_outer")
      .select(col("y"), col("x"), col("top_blob"), col("r"), col("g"),
        col("b"), col("a"), col("sh_blob"), col("sh_v"), col("sh_a"))
      .orderBy("y", "x")
  }

  /** The full per-cell pipeline (q22 body): mask and shade → rgba, as a
    * function of the parameter point — golden-checked at BOTH points
    * (GoldenPosterSpec / PosterAltSpec) against their numpy-frozen cell
    * tables. A projection of [[shaded]]: no join. */
  private[graft] def posterCells(s: SparkSession, cfg: PosterCfg): DataFrame =
    shaded(s, N, cfg)
      .select(col("blob_id"), col("y"), col("x"), col("inside").as("mask"),
        col("shade"),
        clip01(col("base_r") * col("shade")).as("r"),
        clip01(col("base_g") * col("shade")).as("g"),
        clip01(col("base_b") * col("shade")).as("b"),
        when(col("inside"), lit(0.4) + lit(0.6) * col("depth"))
          .otherwise(0.0).as("a"))
      .orderBy("blob_id", "y", "x")

  // ---------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // S3+P1+A5: gaussian kernel from scratch at the default shadow sigma.
    "q13_kernel" -> ((s, _) => kernel(s, 6.0)),

    // The same kernel pipeline at Alt's sigma (21 taps, not 37): the
    // radius/tap count is COMPUTED from sigma, not baked in.
    "q141_kernel_alt" -> ((s, _) => kernel(s, Alt.sigma)),

    // P9+P15+J3: hsv→rgb as pure arithmetic+CASE (colorsys recast), palette
    // looked up through the round-robin modulo equi-join (app.py:19,146).
    "q14_palette" -> ((s, _) => {
      val sector = (floor(col("h") * 6.0).cast("long") % 6).as("sector")
      val f = col("h") * 6.0 - floor(col("h") * 6.0).cast("double")
      val pp = col("v") * (lit(1.0) - col("s"))
      val qq = col("v") * (lit(1.0) - col("s") * f)
      val tt = col("v") * (lit(1.0) - col("s") * (lit(1.0) - f))
      fx(s, "blob_params").select("blob_id")
        .join(fx(s, "palette").hint("shuffle_hash"),
          pmod(col("blob_id"), lit(14)) === col("i"))
        .withColumn("sec", sector)
        .select(col("blob_id"), col("i"),
          when(col("sec") === 0, col("v")).when(col("sec") === 1, qq)
            .when(col("sec") === 2, pp).when(col("sec") === 3, pp)
            .when(col("sec") === 4, tt).otherwise(col("v")).as("r"),
          when(col("sec") === 0, tt).when(col("sec") === 1, col("v"))
            .when(col("sec") === 2, col("v")).when(col("sec") === 3, qq)
            .when(col("sec") === 4, pp).otherwise(pp).as("g"),
          when(col("sec") === 0, pp).when(col("sec") === 1, pp)
            .when(col("sec") === 2, tt).when(col("sec") === 3, col("v"))
            .when(col("sec") === 4, col("v")).otherwise(qq).as("b"))
        .orderBy("blob_id")
    }),

    // J1+S3: the grid constructor itself (app.py:39-43).
    "q15_grid" -> ((s, _) =>
      grid(s, N).orderBy("blob_id", "y", "x")),

    // W3 (+J4): positional vertex→edge zip with closing edge.
    "q16_blob_edges" -> ((s, _) =>
      edges(s).orderBy("blob_id", "idx")),

    // P18a: even-odd parity join — the reference's measured hot spot
    // (85% of its runtime, BASELINE.md).
    "q17_point_in_polygon" -> ((s, _) =>
      inside(s, spreadGrid(s, N))
        .select(col("blob_id"), col("y"), col("x"), col("inside"))
        .orderBy("blob_id", "y", "x")),

    // A1+A2+A3+A4+A7: the reference's scalar aggregates, per blob — bbox,
    // centroid, normalizer bounds, mask cardinality (app.py:56-76).
    // Double means are summation-order-dependent → round(…,9).
    "q18_mask_stats" -> ((s, dir) => {
      val vstats = fx(s, "blob_vertices").groupBy("blob_id").agg(
        min("x").as("px_min"), max("x").as("px_max"),
        min("y").as("py_min"), max("y").as("py_max"),
        round(sum("x") / count(lit(1)), 9).as("cx_mean"),
        round(sum("y") / count(lit(1)), 9).as("cy_mean"))
      // count(when…) keeps BIGINT on both sides — DuckDB's SUM(int) would
      // widen to INT128 and break the dtype compare.
      val gstats = cells(s, N).groupBy("blob_id").agg(
        max("dist").as("dist_max"), min("light").as("light_min"),
        max("light").as("light_max"),
        count(when(col("inside"), lit(1))).as("n_mask_cells"))
      // one partition again for the join (see fx)
      vstats.join(gstats.coalesce(1).hint("shuffle_hash"), "blob_id")
        .orderBy("blob_id")
    }),

    // P2–P7+J2: the shade field, normalized by per-blob window extrema.
    "q19_shading" -> ((s, _) =>
      shaded(s, N)
        .select(col("blob_id"), col("y"), col("x"),
          col("radial"), col("lightn"), col("shade"))
        .orderBy("blob_id", "y", "x")),

    // A6/J5/W1 (first pass): horizontal bounded-frame weighted sum of the
    // mask — np.convolve(row, k, "same") recast as a kernel-offset join;
    // absent neighbors ≡ zero padding. σ=2 kernel (13 taps) at the 64 grid
    // per app.py:88 (max(2, 64·0.015)=2).
    "q20_blur_pass1" -> ((s, _) => {
      val m = cells(s, N).where(col("inside")).select("blob_id", "y", "x")
      blurPass(m, fx(s, "kernel_sigma2"), "x", col("weight"), "v1")
        .orderBy("blob_id", "y", "x")
    }),

    // A6/O1: full separable 2-D blur — two 1-D passes (app.py:31-37), the
    // reference's hand-rolled optimization preserved structurally. The
    // rounded pass-1 value is the deterministic cross-engine intermediate.
    "q21_blur_sep2d" -> ((s, _) =>
      blur2d(s, cells(s, N).where(col("inside"))
        .select("blob_id", "y", "x"))
        .orderBy("blob_id", "y", "x")),

    // The full per-cell pipeline (app.py:51-93): mask and shade → rgba.
    // Golden-checked against fixtures/golden_cells_64.parquet in the test
    // suite AND oracle-checked against DuckDB — all elementwise, exact.
    "q22_poster_cells" -> ((s, _) => posterCells(s, Default)),

    // W2: painter's-order compositing on the common [0,1]² canvas — blobs
    // are drawn in index order (app.py:137,93), so the visible layer per
    // cell is max_by(·, blob_id).
    "q23_poster_composite" -> ((s, _) =>
      blobLayer(s).orderBy("y", "x")),

    // P10 (completed): the theme→background-gradient lookup (app.py:
    // 126-133) — 3-theme 2-color table, 600-sample linspace ramp, linear
    // channel interpolation in 0-255 space then normalized, alpha 0.2.
    // Pure IEEE primitives in identical op order → exact cross-engine.
    "q52_background" -> ((s, _) => {
      import s.implicits._
      val themes = THEMES.toDF("theme", "r1", "g1", "b1", "r2", "g2", "b2")
      val ramp = s.range(600).select(col("id").as("i"),
        (col("id").cast("double") / lit(599.0)).as("t"))
      def ch(a: String, b: String): Column =
        (col(a) + col("t") * (col(b) - col(a))) / lit(255.0)
      ramp.crossJoin(broadcast(themes))
        .select(col("theme"), col("i"), col("t"),
          ch("r1", "r2").as("r"), ch("g1", "g2").as("g"),
          ch("b1", "b2").as("b"), lit(0.2).as("a"))
        .orderBy("theme", "i")
    }),

    // P14 (completed): the full two-layer composite — see shadowComposite.
    "q53_shadow_composite" -> ((s, _) => shadowComposite(s, Default)),

    // S1 closed (VERDICT r7 #2): the ENTIRE two-layer composite pipeline —
    // grid, edges, point-in-polygon, two-pass shading, separable blur with
    // a 21-tap σ=3.2 kernel, shadow shift, painter's-order compositing —
    // re-run at a second point of the reference's sidebar space
    // (seed=7, n_blobs=9, light=(0.4,−0.7), blur=0.05). Identical code
    // path as q53; only the PosterCfg differs.
    "q138_poster_alt" -> ((s, _) => shadowComposite(s, Alt)),

    // O3 end-to-end (round 15): the SAME composite pipeline at the
    // ZeroBlur point — the σ≤0 identity guard as a FROZEN fixture run,
    // not a plan-construction argument. The shadow layer degenerates to
    // the shifted raw mask (v2 ≡ 1.0); everything else — grid, PIP,
    // shading, painter's order, the full-outer layer merge — runs
    // unchanged, and the oracle states the identity in SQL (no kernel
    // table anywhere in either plan; ZeroBlurSpec pins the short-circuit
    // structurally).
    "q186_poster_zeroblur" -> ((s, _) => shadowComposite(s, ZeroBlur)),

    // P8 polar→Cartesian EXECUTED (VERDICT r5 #4): recompute every vertex
    // px = cx + rr·cos(θ), py = cy + rr·sin(θ) (app.py:143-144) from the
    // fixture's frozen (angle, rr) + params (cx, cy), and pin the trig
    // against the numpy-frozen x/y at 6 dp — matches_frozen = 1 on every
    // row, asserted identically by the DuckDB oracle, so a libm
    // divergence in ANY engine flips the hash. Closes SURVEY §2.2 P8's
    // "frozen-by-design" partial: the trig now runs under the oracle
    // gate instead of only inside the scalacheck generator.
    "q79_polar_vertices" -> ((s, _) => {
      val px = col("cx") + col("rr") * cos(col("angle"))
      val py = col("cy") + col("rr") * sin(col("angle"))
      fx(s, "blob_vertices")
        .join(fx(s, "blob_params").select("blob_id", "cx", "cy")
          .hint("shuffle_hash"), "blob_id")
        .select(col("blob_id"), col("idx").cast("long").as("idx"),
          round(px, 6).as("px"), round(py, 6).as("py"),
          (round(px, 6) === round(col("x"), 6) &&
           round(py, 6) === round(col("y"), 6)).cast("long")
            .as("matches_frozen"))
        .orderBy("blob_id", "idx")
    }),
  )

  // ------------------------------------------------------------- oracles
  // DuckDB dialect, value-identical by construction. Shared CTE fragments
  // keep the two sides from drifting.

  private def P(cfg: PosterCfg = Default) =
    s"read_parquet('${cfg.fx}/blob_params.parquet')"
  private def V(cfg: PosterCfg = Default) =
    s"read_parquet('${cfg.fx}/blob_vertices.parquet')"
  private def K(cfg: PosterCfg = Default) =
    s"read_parquet('${cfg.fx}/${cfg.kernel}.parquet')"
  private val PAL = s"read_parquet('$FX/palette.parquet')"

  private def GRID_CTE(cfg: PosterCfg = Default) =
    s"""grid AS (
       | SELECT blob_id, ty.y, tx.x,
       |  xmin + CAST(tx.x AS DOUBLE) * ((xmax - xmin) / 63.0) AS gx,
       |  ymin + CAST(ty.y AS DOUBLE) * ((ymax - ymin) / 63.0) AS gy
       | FROM ${P(cfg)}, range(64) ty(y), range(64) tx(x))""".stripMargin

  private def EDGES_CTE(cfg: PosterCfg = Default) =
    s"""edges AS (
       | SELECT blob_id, CAST(idx AS BIGINT) AS idx, x AS x1, y AS y1,
       |  COALESCE(LEAD(x) OVER w, FIRST_VALUE(x) OVER w2) AS x2,
       |  COALESCE(LEAD(y) OVER w, FIRST_VALUE(y) OVER w2) AS y2
       | FROM ${V(cfg)}
       | WINDOW w AS (PARTITION BY blob_id ORDER BY idx),
       |  w2 AS (PARTITION BY blob_id ORDER BY idx
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))"""
      .stripMargin

  private val INSIDE_CTE =
    """inside AS (
      | SELECT g.blob_id, g.y, g.x, g.gx, g.gy,
      |  SUM(CASE WHEN ((e.y1 > g.gy) != (e.y2 > g.gy))
      |            AND g.gx < e.x1 + (e.x2 - e.x1) * (g.gy - e.y1) / (e.y2 - e.y1)
      |       THEN 1 ELSE 0 END) % 2 = 1 AS inside
      | FROM grid g JOIN edges e USING (blob_id)
      | GROUP BY g.blob_id, g.y, g.x, g.gx, g.gy)""".stripMargin

  private def SHADED_CTE(cfg: PosterCfg = Default) =
    s"""pre AS (
       | SELECT g.blob_id, g.y, g.x, g.gx, g.gy,
       |  g.gx - p.cx_mean AS nx, g.gy - p.cy_mean AS ny,
       |  SQRT((g.gx - p.cx_mean)*(g.gx - p.cx_mean)
       |     + (g.gy - p.cy_mean)*(g.gy - p.cy_mean)) AS dist,
       |  (g.gx - p.cx_mean)*(${cfg.lx}) + (g.gy - p.cy_mean)*(${cfg.ly}) AS light
       | FROM grid g JOIN ${P(cfg)} p USING (blob_id)),
       |stats AS (
       | SELECT blob_id, MAX(dist) AS dist_max, MIN(light) AS light_min,
       |        MAX(light) AS light_max
       | FROM pre GROUP BY blob_id),
       |shadedc AS (
       | SELECT pre.*,
       |  LEAST(1.0, GREATEST(0.0, 1.0 - dist / dist_max)) AS radial,
       |  (light - light_min) / (light_max - light_min) AS lightn,
       |  0.3 + 0.7 * (0.5 * LEAST(1.0, GREATEST(0.0, 1.0 - dist / dist_max))
       |             + 0.5 * (light - light_min) / (light_max - light_min)) AS shade
       | FROM pre JOIN stats USING (blob_id))""".stripMargin

  /** Canvas-space CTE chain shared by the compositing oracles. */
  private def CANVAS_CTES(cfg: PosterCfg = Default) =
    s"""canvas AS (
       | SELECT ty.y, tx.x,
       |  CAST(tx.x AS DOUBLE) / 63.0 AS gx,
       |  CAST(ty.y AS DOUBLE) / 63.0 AS gy
       | FROM range(64) ty(y), range(64) tx(x)),
       |grid AS (
       | SELECT p.blob_id, c.y, c.x, c.gx, c.gy FROM ${P(cfg)} p, canvas c),
       |${EDGES_CTE(cfg)}, $INSIDE_CTE""".stripMargin

  /** The blob (zorder-1) layer of the composite, ending in CTE `bl`. */
  private def BLOBLAYER_CTES(cfg: PosterCfg = Default) =
    s"""lit01 AS (
       | SELECT i.y, i.x, i.blob_id,
       |  LEAST(1.0, GREATEST(0.0,
       |    1.0 - SQRT((i.gx - p.cx_mean)*(i.gx - p.cx_mean)
       |             + (i.gy - p.cy_mean)*(i.gy - p.cy_mean)) / p.dist_max64))
       |    AS radial,
       |  ((i.gx - p.cx_mean)*(${cfg.lx}) + (i.gy - p.cy_mean)*(${cfg.ly})
       |    - p.light_min64)
       |    / (p.light_max64 - p.light_min64) AS lightn,
       |  p.base_r, p.base_g, p.base_b, p.depth
       | FROM inside i JOIN ${P(cfg)} p USING (blob_id) WHERE i.inside),
       |shl AS (
       | SELECT y, x, blob_id,
       |  0.3 + 0.7 * (0.5 * radial + 0.5 * lightn) AS shade,
       |  base_r, base_g, base_b, depth
       | FROM lit01),
       |bl AS (
       | SELECT y, x, MAX(blob_id) AS top_blob,
       |  MAX_BY(LEAST(1.0, GREATEST(0.0, base_r * shade)), blob_id) AS r,
       |  MAX_BY(LEAST(1.0, GREATEST(0.0, base_g * shade)), blob_id) AS g,
       |  MAX_BY(LEAST(1.0, GREATEST(0.0, base_b * shade)), blob_id) AS b,
       |  MAX_BY(0.4 + 0.6 * depth, blob_id) AS a
       | FROM shl GROUP BY y, x)""".stripMargin

  /** DuckDB VALUES rows generated from the same THEMES constant. */
  private val THEME_VALUES = THEMES.map { case (t, r1, g1, b1, r2, g2, b2) =>
    s"('$t', $r1, $g1, $b1, $r2, $g2, $b2)"
  }.mkString(",\n ")

  /** q13/q141's SQL twin, the same function of sigma as kernel(). */
  private def kernelSql(sigma: Double): String = {
    val r = (3.0 * sigma + 0.5).toInt
    s"""WITH raw AS (
       | SELECT CAST(x - $r AS BIGINT) AS "offset",
       |  EXP(-(CAST((x-$r)*(x-$r) AS DOUBLE)) / (2.0*$sigma*$sigma)) AS w
       | FROM range(${2 * r + 1}) t(x))
       |SELECT "offset", ROUND(w / SUM(w) OVER (), 12) AS weight
       |FROM raw ORDER BY "offset"""".stripMargin
  }

  /** q53/q138/q186's SQL twin as a function of the parameter point. The
    * σ≤0 branch states the reference's identity guard in SQL: p2 IS the
    * mask at weight 1.0 — no kernel table in the plan, mirroring
    * blur2d's plan-build short-circuit. */
  private def shadowCompositeSql(cfg: PosterCfg): String = {
    val blurCtes =
      if (cfg.sigma <= 0)
        """p2 AS (
          | SELECT blob_id, y, x, 1.0 AS v2 FROM m)""".stripMargin
      else
        s"""p1 AS (
           | SELECT m.blob_id, m.y, m.x - k."offset" AS x,
           |        ROUND(SUM(k.weight), 9) AS v1
           | FROM m, ${K(cfg)} k
           | WHERE m.x - k."offset" BETWEEN 0 AND 63
           | GROUP BY m.blob_id, m.y, m.x - k."offset"),
           |p2 AS (
           | SELECT p1.blob_id, p1.y - k."offset" AS y, p1.x,
           |        ROUND(SUM(k.weight * p1.v1), 9) AS v2
           | FROM p1, ${K(cfg)} k
           | WHERE p1.y - k."offset" BETWEEN 0 AND 63
           | GROUP BY p1.blob_id, p1.y - k."offset", p1.x)""".stripMargin
    s"""WITH ${CANVAS_CTES(cfg)},
       |${BLOBLAYER_CTES(cfg)},
       |m AS (SELECT blob_id, y, x FROM inside WHERE inside),
       |$blurCtes,
       |shifted AS (
       | SELECT blob_id, y - 1 AS y, x + 1 AS x, v2 FROM p2
       | WHERE y - 1 BETWEEN 0 AND 63 AND x + 1 BETWEEN 0 AND 63),
       |shadow AS (
       | SELECT s.y, s.x, MAX(s.blob_id) AS sh_blob,
       |  MAX_BY(s.v2, s.blob_id) AS sh_v,
       |  MAX_BY(0.25 * (1.0 - p.depth), s.blob_id) AS sh_a
       | FROM shifted s JOIN ${P(cfg)} p USING (blob_id)
       | GROUP BY s.y, s.x)
       |SELECT COALESCE(bl.y, shadow.y) AS y, COALESCE(bl.x, shadow.x) AS x,
       | top_blob, r, g, b, a, sh_blob, sh_v, sh_a
       |FROM bl FULL OUTER JOIN shadow
       |  ON bl.y = shadow.y AND bl.x = shadow.x
       |ORDER BY y, x""".stripMargin
  }

  def oracles: Map[String, String] = Map(
    "q13_kernel" -> kernelSql(6.0),
    "q141_kernel_alt" -> kernelSql(Alt.sigma),
    "q138_poster_alt" -> shadowCompositeSql(Alt),
    "q186_poster_zeroblur" -> shadowCompositeSql(ZeroBlur),

    "q14_palette" ->
      s"""WITH pal AS (
         | SELECT i, h, s, v,
         |  CAST(FLOOR(h*6.0) AS BIGINT) % 6 AS sec,
         |  h*6.0 - FLOOR(h*6.0) AS f
         | FROM $PAL),
         |conv AS (
         | SELECT i,
         |  v*(1.0 - s) AS pp, v*(1.0 - s*f) AS qq, v*(1.0 - s*(1.0-f)) AS tt,
         |  v, sec
         | FROM pal)
         |SELECT b.blob_id, c.i,
         | CASE c.sec WHEN 0 THEN v WHEN 1 THEN qq WHEN 2 THEN pp
         |            WHEN 3 THEN pp WHEN 4 THEN tt ELSE v END AS r,
         | CASE c.sec WHEN 0 THEN tt WHEN 1 THEN v WHEN 2 THEN v
         |            WHEN 3 THEN qq WHEN 4 THEN pp ELSE pp END AS g,
         | CASE c.sec WHEN 0 THEN pp WHEN 1 THEN pp WHEN 2 THEN tt
         |            WHEN 3 THEN v WHEN 4 THEN v ELSE qq END AS b
         |FROM (SELECT blob_id FROM ${P()}) b
         |JOIN conv c ON b.blob_id % 14 = c.i
         |ORDER BY b.blob_id""".stripMargin,

    "q15_grid" ->
      s"""WITH ${GRID_CTE()}
         |SELECT blob_id, y, x, gx, gy FROM grid
         |ORDER BY blob_id, y, x""".stripMargin,

    "q16_blob_edges" ->
      s"""WITH ${EDGES_CTE()}
         |SELECT blob_id, idx, x1, y1, x2, y2 FROM edges
         |ORDER BY blob_id, idx""".stripMargin,

    "q17_point_in_polygon" ->
      s"""WITH ${GRID_CTE()}, ${EDGES_CTE()}, $INSIDE_CTE
         |SELECT blob_id, y, x, inside FROM inside
         |ORDER BY blob_id, y, x""".stripMargin,

    "q18_mask_stats" ->
      s"""WITH ${GRID_CTE()}, ${EDGES_CTE()}, $INSIDE_CTE, ${SHADED_CTE()},
         |vstats AS (
         | SELECT blob_id,
         |  MIN(x) AS px_min, MAX(x) AS px_max,
         |  MIN(y) AS py_min, MAX(y) AS py_max,
         |  ROUND(SUM(x) / COUNT(*), 9) AS cx_mean,
         |  ROUND(SUM(y) / COUNT(*), 9) AS cy_mean
         | FROM ${V()} GROUP BY blob_id),
         |gstats AS (
         | SELECT blob_id, MAX(dist) AS dist_max, MIN(light) AS light_min,
         |        MAX(light) AS light_max
         | FROM pre GROUP BY blob_id),
         |m AS (
         | SELECT blob_id, COUNT(*) FILTER (WHERE inside) AS n_mask_cells
         | FROM inside GROUP BY blob_id)
         |SELECT blob_id, px_min, px_max, py_min, py_max, cx_mean, cy_mean,
         |       dist_max, light_min, light_max, n_mask_cells
         |FROM vstats JOIN gstats USING (blob_id) JOIN m USING (blob_id)
         |ORDER BY blob_id""".stripMargin,

    "q19_shading" ->
      s"""WITH ${GRID_CTE()}, ${SHADED_CTE()}
         |SELECT blob_id, y, x, radial, lightn, shade FROM shadedc
         |ORDER BY blob_id, y, x""".stripMargin,

    "q20_blur_pass1" ->
      s"""WITH ${GRID_CTE()}, ${EDGES_CTE()}, $INSIDE_CTE,
         |m AS (SELECT blob_id, y, x FROM inside WHERE inside)
         |SELECT m.blob_id, m.y, m.x - k."offset" AS x,
         |       ROUND(SUM(k.weight), 9) AS v1
         |FROM m, ${K()} k
         |WHERE m.x - k."offset" BETWEEN 0 AND 63
         |GROUP BY m.blob_id, m.y, m.x - k."offset"
         |ORDER BY blob_id, y, x""".stripMargin,

    "q21_blur_sep2d" ->
      s"""WITH ${GRID_CTE()}, ${EDGES_CTE()}, $INSIDE_CTE,
         |m AS (SELECT blob_id, y, x FROM inside WHERE inside),
         |p1 AS (
         | SELECT m.blob_id, m.y, m.x - k."offset" AS x,
         |        ROUND(SUM(k.weight), 9) AS v1
         | FROM m, ${K()} k
         | WHERE m.x - k."offset" BETWEEN 0 AND 63
         | GROUP BY m.blob_id, m.y, m.x - k."offset")
         |SELECT p1.blob_id, p1.y - k."offset" AS y, p1.x,
         |       ROUND(SUM(k.weight * p1.v1), 9) AS v2
         |FROM p1, ${K()} k
         |WHERE p1.y - k."offset" BETWEEN 0 AND 63
         |GROUP BY p1.blob_id, p1.y - k."offset", p1.x
         |ORDER BY blob_id, y, x""".stripMargin,

    "q22_poster_cells" ->
      s"""WITH ${GRID_CTE()}, ${EDGES_CTE()}, $INSIDE_CTE, ${SHADED_CTE()}
         |SELECT s.blob_id, s.y, s.x, i.inside AS mask, s.shade,
         | LEAST(1.0, GREATEST(0.0, p.base_r * s.shade)) AS r,
         | LEAST(1.0, GREATEST(0.0, p.base_g * s.shade)) AS g,
         | LEAST(1.0, GREATEST(0.0, p.base_b * s.shade)) AS b,
         | CASE WHEN i.inside THEN 0.4 + 0.6 * p.depth ELSE 0.0 END AS a
         |FROM shadedc s
         |JOIN inside i ON s.blob_id = i.blob_id AND s.y = i.y AND s.x = i.x
         |JOIN ${P()} p ON s.blob_id = p.blob_id
         |ORDER BY s.blob_id, s.y, s.x""".stripMargin,

    "q23_poster_composite" ->
      s"""WITH ${CANVAS_CTES()},
         |${BLOBLAYER_CTES()}
         |SELECT y, x, top_blob, r, g, b, a FROM bl
         |ORDER BY y, x""".stripMargin,

    "q52_background" ->
      s"""WITH themes(theme, r1, g1, b1, r2, g2, b2) AS (VALUES
         | $THEME_VALUES),
         |ramp AS (
         | SELECT x AS i, CAST(x AS DOUBLE) / 599.0 AS t FROM range(600) t(x))
         |SELECT theme, i, t,
         | (r1 + t * (r2 - r1)) / 255.0 AS r,
         | (g1 + t * (g2 - g1)) / 255.0 AS g,
         | (b1 + t * (b2 - b1)) / 255.0 AS b,
         | 0.2 AS a
         |FROM ramp, themes ORDER BY theme, i""".stripMargin,

    "q53_shadow_composite" -> shadowCompositeSql(Default),

    // the same trig + frozen-value pin, in DuckDB's libm
    "q79_polar_vertices" ->
      s"""SELECT v.blob_id, CAST(v.idx AS BIGINT) AS idx,
         | ROUND(p.cx + v.rr * cos(v.angle), 6) AS px,
         | ROUND(p.cy + v.rr * sin(v.angle), 6) AS py,
         | CAST(ROUND(p.cx + v.rr * cos(v.angle), 6) = ROUND(v.x, 6)
         |  AND ROUND(p.cy + v.rr * sin(v.angle), 6) = ROUND(v.y, 6)
         |  AS BIGINT) AS matches_frozen
         |FROM ${V()} v JOIN ${P()} p USING (blob_id)
         |ORDER BY v.blob_id, v.idx""".stripMargin,
  )
}
