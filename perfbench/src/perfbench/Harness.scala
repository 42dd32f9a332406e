package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.perfbench.ListenerDrain

import perfbench.Json.Raw

/** One benchmark run: a closed loop with one client thread over a list of
  * catalog queries.
  *
  * Each query call goes through the three public layer boundaries, timed
  * from outside the program:
  *   - construct: `SparkEntry.queries(name)(spark, dir)`;
  *   - plan:      `df.queryExecution.executedPlan`;
  *   - exec:      `df.write.format("noop").mode("overwrite").save()`.
  *
  * Order of a run: session build and untimed warm-up passes (together
  * they are the set-up), timed passes until `--seconds` have elapsed (a
  * started pass always completes, and is followed by a full collection
  * that reads the retained heap), then an untimed correctness pass that
  * reports each query's row count and order-insensitive fingerprint.
  *
  * With `--trace 1` the timed passes mix untraced and traced ones: a
  * traced pass tags every job with its query and phase through local
  * properties, and [[PhaseListener]] attributes the job's work to that
  * tag. The untraced passes give the same run's baseline for the tracing
  * overhead.
  *
  * The harness only measures. It writes the raw samples as one JSON file
  * and the spans as JSONL; `perfbench/stats.py` computes every statistic.
  */
object Harness {

  final case class Args(
      queries: Seq[String],
      seed: Long,
      seconds: Double,
      trace: Boolean,
      data: String,
      out: String,
      spans: Option[String],
      dump: Option[String])

  private def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map { case Array(k, v) => k -> v }.toMap
    Args(
      queries = kv("--queries").split(",").toSeq,
      seed = kv("--seed").toLong,
      seconds = kv("--seconds").toDouble,
      trace = kv.get("--trace").contains("1"),
      data = kv("--data"),
      out = kv("--out"),
      spans = kv.get("--spans"),
      dump = kv.get("--dump"))
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def loadAvg(): String =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg")),
      StandardCharsets.US_ASCII).trim

  /** CPU time the hypervisor gave to other guests, summed over all CPUs,
    * in seconds (the `steal` column of /proc/stat, in 1/100 s ticks). */
  private def stealS(): Double =
    new String(Files.readAllBytes(Paths.get("/proc/stat")),
      StandardCharsets.US_ASCII).linesIterator.next()
      .split("\\s+")(8).toDouble / 100.0

  val Phases: Seq[String] = Seq("construct", "plan", "exec")

  /** After one warm-up pass the next pass still ran up to 30% slower than
    * the one after it (JIT compilation); a second takes most of that
    * trend out of the timed passes. */
  val WarmupPasses = 2

  /** Heap in use after a full collection, in MB: what the session and the
    * program retain between passes. Taken outside the timed wall. */
  private def retainedHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** One query call, in seconds on the run's clock: its span and the four
    * marks that bound its three phases. The marks sit inside the span, so
    * tagging and error handling show as the part no phase covers. */
  final case class Call(name: String, start: Double, end: Double,
      marks: Seq[Double], error: Option[String]) {
    def phaseS(i: Int): Double = marks(i + 1) - marks(i)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val clock = new Clock
    // Fixture-backed queries read a fixed absolute directory; the
    // benchmark serves it from the checkout (see RebasedLocalFs).
    System.setProperty(RebasedLocalFs.FromKey, graft.queries.Poster.FX)

    val cores = Runtime.getRuntime.availableProcessors
    val t0 = clock.nowS()
    val spark = session(cores)
    val sessionS = clock.nowS() - t0
    val listener = new PhaseListener
    if (a.trace) spark.sparkContext.addSparkListener(listener)
    val jobs = new JobCounter
    spark.sparkContext.addSparkListener(jobs)
    val warm = (1 to WarmupPasses).flatMap(_ =>
      a.queries.map(q => runQuery(spark, a.data, q, clock, None)))
    val setupS = clock.nowS() - t0
    System.gc() // every timed pass starts from a collected heap
    ListenerDrain.drain(spark.sparkContext)

    val rng = new Random(a.seed)
    val passes = ArrayBuffer.empty[Raw]
    val spans = ArrayBuffer.empty[Raw]
    val deadline = clock.nowS() + a.seconds
    var pass = 0
    // A traced run needs an untraced and a traced pass, however slow.
    while (clock.nowS() < deadline || (a.trace && pass < 2)) {
      // Untraced and traced passes alternate; with an odd pass count a
      // linear trend across passes cancels out of the tracing overhead.
      val traced = a.trace && pass % 2 == 1
      val order = rng.shuffle(a.queries)
      val loadBefore = loadAvg()
      val steal0 = stealS()
      val cpu0 = osBean.getProcessCpuTime
      val jobs0 = jobs.count
      val w0 = clock.nowS()
      val calls = order.map { q =>
        runQuery(spark, a.data, q, clock,
          if (traced) Some(s"p$pass-$q") else None)
      }
      val wallS = clock.nowS() - w0
      val cpuS = (osBean.getProcessCpuTime - cpu0) / 1e9
      val stealPassS = stealS() - steal0
      val heapMb = retainedHeapMb()
      ListenerDrain.drain(spark.sparkContext)
      val passJobs = jobs.count - jobs0
      if (traced) calls.foreach(c => spans ++= querySpans(pass, c, clock))
      passes += Json.obj(
        "pass" -> pass, "traced" -> traced, "wall_s" -> wallS,
        "cpu_s" -> cpuS, "steal_s" -> stealPassS, "heap_mb" -> heapMb,
        "jobs" -> passJobs,
        "loadavg_before" -> loadBefore, "loadavg_after" -> loadAvg(),
        "queries" -> Json.arr(calls.map(callJson)))
      pass += 1
    }
    if (a.trace) {
      spans ++= listener.jobSpans()
      spark.sparkContext.removeSparkListener(listener)
    }

    val checks = a.queries.map(q => check(spark, a.data, q, a.dump))
    spark.stop()
    a.dump.foreach { d =>
      val oracles = graft.SparkEntry.oracleSql.toSeq
        .filter(o => a.queries.contains(o._1)).sorted
      Files.write(Paths.get(d, "oracle_sql.json"),
        Json.obj(oracles: _*).text.getBytes(StandardCharsets.UTF_8))
    }

    a.spans.foreach(p => Files.write(Paths.get(p),
      spans.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)))
    val result = Json.obj(
      "cores" -> cores, "master" -> s"local[$cores]",
      "session_s" -> sessionS, "setup_s" -> setupS,
      "warmup" -> Json.arr(warm.map(callJson)),
      "passes" -> Json.arr(passes.toSeq),
      "checks" -> Json.arr(checks))
    Files.write(Paths.get(a.out),
      result.text.getBytes(StandardCharsets.UTF_8))
  }

  /** The session `graft.Bench` builds, with the run's private local and
    * warehouse dirs (passed as `perfbench.`-prefixed system properties). */
  private def session(cores: Int): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
    Seq("spark.local.dir", "spark.sql.warehouse.dir")
      .foreach(k => sys.props.get(s"perfbench.$k").foreach(b.config(k, _)))
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** One closed-loop call. `span` tags the call's jobs when traced. */
  private def runQuery(spark: SparkSession, dir: String, name: String,
      clock: Clock, span: Option[String]): Call = {
    val sc = spark.sparkContext
    val start = clock.nowS()
    def phase(p: String): Unit = span.foreach { id =>
      sc.setLocalProperty(PhaseListener.SpanKey, id)
      sc.setLocalProperty(PhaseListener.PhaseKey, p)
    }
    var marks = Vector.empty[Double]
    def mark(): Unit = marks :+= clock.nowS()
    val error = try {
      phase("construct")
      mark()
      val df = graft.SparkEntry.queries(name)(spark, dir)
      mark()
      phase("plan")
      df.queryExecution.executedPlan
      mark()
      phase("exec")
      df.write.format("noop").mode("overwrite").save()
      mark()
      None
    } catch {
      case e: Throwable => Some(describe(e))
    } finally {
      sc.setLocalProperty(PhaseListener.SpanKey, null)
      sc.setLocalProperty(PhaseListener.PhaseKey, null)
    }
    // A failed call keeps the phases it finished; the rest read as 0.
    while (marks.size < 4) mark()
    Call(name, start, clock.nowS(), marks, error)
  }

  private def describe(e: Throwable): String =
    e.getClass.getName + ": " + String.valueOf(e.getMessage).linesIterator
      .take(3).mkString(" | ")

  /** The query span and its three phase spans, all under one trace id. */
  private def querySpans(pass: Int, c: Call, clock: Clock): Seq[Raw] = {
    val id = s"p$pass-${c.name}"
    val phaseSpans = Phases.indices.map { i =>
      Json.obj("trace" -> id, "span" -> s"$id/${Phases(i)}", "parent" -> id,
        "kind" -> "phase", "name" -> Phases(i), "pass" -> pass,
        "start_ms" -> clock.epochMs(c.marks(i)),
        "end_ms" -> clock.epochMs(c.marks(i + 1)))
    }
    Json.obj("trace" -> id, "span" -> id, "parent" -> null,
      "kind" -> "query", "name" -> c.name, "pass" -> pass,
      "start_ms" -> clock.epochMs(c.start), "end_ms" -> clock.epochMs(c.end),
      "ok" -> c.error.isEmpty) +: phaseSpans
  }

  private def callJson(c: Call): Raw = Json.obj(
    "name" -> c.name, "wall_s" -> (c.end - c.start),
    "construct_s" -> c.phaseS(0), "plan_s" -> c.phaseS(1),
    "exec_s" -> c.phaseS(2), "error" -> c.error.orNull)

  /** Row count and an order-insensitive fingerprint of one query's result:
    * the sum, modulo 2^64, of a 64-bit hash of every row. With `dump`, the
    * result is also written as parquet for the DuckDB oracle and the
    * fingerprint is taken from the parquet read back, so the expected
    * value is exactly what the oracle saw. */
  private def check(spark: SparkSession, dir: String, name: String,
      dump: Option[String]): Raw = {
    try {
      val df = graft.SparkEntry.queries(name)(spark, dir)
      val checked = dump match {
        case None => df
        case Some(d) =>
          val path = s"$d/$name"
          df.coalesce(1).write.mode("overwrite").parquet(path)
          spark.read.parquet(path)
      }
      val (rows, fp) = fingerprint(checked)
      Json.obj("name" -> name, "rows" -> rows, "fingerprint" -> fp,
        "error" -> null)
    } catch {
      case e: Throwable =>
        Json.obj("name" -> name, "rows" -> -1L, "fingerprint" -> null,
          "error" -> describe(e))
    }
  }

  private def fingerprint(df: DataFrame): (Long, String) = {
    // Hash each column through its JSON text: map columns cannot be
    // hashed directly, and the text of a double is exact.
    val cols = df.schema.fields.toIndexedSeq.map(f =>
      to_json(struct(col(s"`${f.name}`").as("v"))))
    val h = xxhash64(cols: _*).cast("decimal(38,0)")
    val r = df.agg(count(lit(1)), sum(h)).head()
    val total = Option(r.getDecimal(1)).map(d => BigInt(d.toBigInteger))
      .getOrElse(BigInt(0))
    (r.getLong(0), total.mod(BigInt(2).pow(64)).toString(16))
  }
}

/** Counts the Spark jobs a session submits: the unit of scheduling work
  * on this catalog, and exact from run to run. */
final class JobCounter extends org.apache.spark.scheduler.SparkListener {
  private val n = new java.util.concurrent.atomic.AtomicLong
  override def onJobStart(
      e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
    n.incrementAndGet()
  def count: Long = n.get
}

/** Seconds on a monotonic clock, plus their epoch-millisecond reading for
  * spans, so phase spans and the scheduler's job times share one axis. */
final class Clock {
  private val n0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  def nowS(): Double = (System.nanoTime() - n0) / 1e9
  def epochMs(s: Double): Double = epoch0 + s * 1000.0
}

/** Just enough JSON output for the harness's records. */
object Json {
  final case class Raw(text: String) {
    override def toString: String = text
  }

  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => str(k) + ":" + value(v) }
      .mkString("{", ",", "}"))

  def arr(items: Seq[Raw]): Raw = Raw(items.mkString("[", ",", "]"))

  private def value(v: Any): String = v match {
    case null => "null"
    case Raw(t) => t
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case o => str(o.toString)
  }

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
