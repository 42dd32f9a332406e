package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.CountMinSketch
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.ScaleOps

/** Invariants of the q98–q101 sketch/serving tier that the DuckDB
  * oracles cannot see (oracles pin exact sides + asserted bounds; these
  * tests pin the sketch-side contracts the bounds rely on). */
class ScaleOpsSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("q98: CMS never undercounts — est ≥ exact for EVERY token") {
    import s.implicits._
    val toks = s.read.parquet(s"$sfDir/documents.parquet")
      .select(explode(split(col("text"), " ")).as("tok"))
    val bytes = toks
      .agg(count_min_sketch(col("tok"), lit(0.001), lit(0.99), lit(42)))
      .head().getAs[Array[Byte]](0)
    val cms = CountMinSketch.readFrom(new ByteArrayInputStream(bytes))
    val exact = toks.groupBy("tok").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect()
    assert(exact.nonEmpty)
    exact.foreach { case (tok, n) =>
      assert(cms.estimateCount(tok) >= n,
        s"CMS undercounted '$tok': ${cms.estimateCount(tok)} < $n")
    }
  }

  test("q98: within_bound is 1 for all reported heavy hitters") {
    val out = ScaleOps.queries("q98_cms_heavy_hitters")(s, sfDir).collect()
    assert(out.length == 8)
    assert(out.forall(_.getAs[Long]("within_bound") == 1L))
  }

  test("q99: quantized cosine stays within the int8 fidelity floor") {
    val out = ScaleOps.queries("q99_embedding_quantization")(s, sfDir)
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val c = r.getAs[Double]("cos_q")
      assert(c >= 0.999 && c <= 1.000001,
        s"vec ${r.get(0)}: cos_q $c outside [0.999, 1]")
      assert(r.getAs[Long]("within_bound") == 1L)
    }
  }

  test("q100: bloom prefilter has no false negatives and drops rows") {
    import s.implicits._
    val orders = s.read.parquet(s"$sfDir/orders.parquet")
    val lineitem = s.read.parquet(s"$sfDir/lineitem.parquet")
    val urgentKeys = orders
      .where(col("o_orderpriority") === "1-URGENT")
      .select(xxhash64(col("o_orderkey")).as("h"))
    val bf = urgentKeys.stat.bloomFilter("h", urgentKeys.count(), 0.01)
    val bos = new ByteArrayOutputStream(); bf.writeTo(bos)
    graft.functions.GraftExtensions.ensureRegistered(s)
    val pass = call_function("bloom_might_contain",
      lit(bos.toByteArray), xxhash64(col("l_orderkey")))

    // no false negatives: every true member passes the bloom
    val trueMembers = lineitem.join(
      orders.where(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey"),
      lineitem("l_orderkey") === col("o_orderkey"), "left_semi")
    assert(trueMembers.where(!pass).count() == 0L)

    // and the prefilter genuinely reduces the probe set (~82 % of rows
    // are non-urgent; 1 % fpp cannot resurrect them)
    val total = lineitem.count()
    val kept = lineitem.where(pass).count()
    val members = trueMembers.count()
    assert(kept < total, "bloom filtered nothing")
    assert(kept >= members, "bloom dropped a true member")
    assert(kept - members <= math.max(50L, (0.03 * total).toLong),
      s"false-positive volume implausibly high: $kept passed, $members true")
  }

  test("q101 matches a local reference model on skewed random corpora") {
    import s.implicits._
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      // adversarial volumes: a 1-doc source, a dominant source (rate
      // clamps via least(1.0, …) on the flattened tail), mid sources
      val rows = (0L until 150L).map { id =>
        val src =
          if (id == 0) "tiny"
          else if (id < 100) "huge"
          else "mid" + (id % 3)
        val n = 1 + rnd.nextInt(40)
        (id, Seq.fill(n)("w").mkString(" "), "en", src)
      }
      val dir = TestSpark.tempDir(s"graft_mix_fuzz_$seed").toString
      rows.toDF("doc_id", "text", "lang", "source")
        .selectExpr("doc_id", "text", "lang", "source",
          "CAST(length(text) AS BIGINT) AS n_chars")
        .coalesce(2)
        .write.mode("overwrite").parquet(dir + "/documents.parquet")

      val got = SparkEntry.queries("q101_source_mix_resample")(s, dir)
        .collect()
        .map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap

      // local model — independent re-derivation of rates and draws
      def round6(x: Double) =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val vols = rows.groupBy(_._4).view.mapValues { ds =>
        (ds.size.toLong, ds.map(_._2.length.toLong).sum.toDouble)
      }.toMap
      val z = vols.values
        .map(v => BigDecimal(round6(math.pow(v._2, 0.7)))).sum.toDouble
      val vv = vols.values.map(_._2).sum
      def rate(vol: Double) =
        round6(math.min(1.0, 0.5 * vv * round6(math.pow(vol, 0.7)) / z / vol))
      def u(id: Long): Double = {
        val md = java.security.MessageDigest.getInstance("MD5")
        val hex = md.digest(s"mix:$id".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(12)
        (java.lang.Long.parseLong(hex, 16) % 1000000L).toDouble / 1000000.0
      }
      val want = vols.map { case (src, (nd, vol)) =>
        val r = rate(vol)
        val kept = rows.count(d => d._4 == src && u(d._1) < r).toLong
        src -> ((nd, kept, r))
      }
      assert(got === want, s"seed $seed")
      assert(want("huge")._3 < want("tiny")._3,
        s"seed $seed: temperature should favor the small source")
    }
  }

  test("q102 matches an independent union-find + md5 model on the fixture corpus") {
    import s.implicits._
    val out = SparkEntry.queries("q102_cluster_safe_split")(s, sfDir)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap

    // independent model: union-find over the q29 pairs (min-root union
    // reproduces the contraction's min-label), md5 buckets in the JVM
    val edges = SparkEntry.queries("q29_jaccard_pairs")(s, sfDir)
      .select($"da", $"db").as[(Long, Long)].collect()
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    // min-root union needs rank-free directed merges toward the smaller
    // root so labels equal the component minimum
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    def bucket(sd: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(sd.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(12)
      java.lang.Long.parseLong(hex, 16) % 100L
    }
    def splitOf(b: Long) =
      if (b < 80) "train" else if (b < 90) "val" else "test"
    val docIds = s.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id").as[Long].collect()
    val tagged = docIds.map { id =>
      val label = find(id)
      (id, label, splitOf(bucket(s"csplit:$label")),
        splitOf(bucket(s"split:$id")))
    }
    val straddleSafe = tagged.groupBy(_._2).values
      .count(_.map(_._3).distinct.length > 1).toLong
    val straddleDoc = tagged.groupBy(_._2).values
      .count(_.map(_._4).distinct.length > 1).toLong
    val want = tagged.groupBy(_._3).map { case (split, ds) =>
      split -> ((ds.length.toLong, ds.map(_._2).distinct.length.toLong,
        straddleSafe, straddleDoc))
    }
    assert(out === want)
    assert(straddleSafe == 0L)
    assert(tagged.groupBy(_._2).values.exists(_.length > 1),
      "fixture corpus lost its multi-doc near-dup clusters")
  }

  test("q101: sampler is deterministic, volume-targeted, and per-source capped") {
    val out = ScaleOps.queries("q101_source_mix_resample")(s, sfDir)
    val rows = out.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val rate = r.getAs[Double]("rate")
      val nd = r.getAs[Long]("n_docs")
      val nk = r.getAs[Long]("n_kept")
      assert(rate > 0.0 && rate <= 1.0)
      assert(nk >= 0 && nk <= nd)
    }
    // temperature 0.7 < 1 ⇒ rates differ across unequal-volume sources
    assert(rows.map(_.getAs[Double]("rate")).distinct.length > 1,
      "all rates equal — temperature weighting had no effect")
    // deterministic: a second evaluation is row-identical
    val again = ScaleOps.queries("q101_source_mix_resample")(s, sfDir)
      .collect()
    assert(rows.toSeq == again.toSeq)
  }

  test("q126: exact on a collision-free corpus, overcount-only always") {
    import s.implicits._
    // 10 distinct keys in a 32768-wide sketch: a cross-key bucket
    // collision would need an md5 coincidence the fixed hash family
    // doesn't contain, so the estimate must EQUAL the exact size —
    // keys 0..9 with 2 events and 3 orders each ⇒ 10·2·3 = 60; keys
    // 100.. on the orders side are unmatched and must add nothing to
    // the exact side while still entering the sketch.
    val dir = TestSpark.tempDir("graft_jsz").toString
    (0L until 20L).map(i => (i, i * 1000000000L, i % 10, "e", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(2)
      .write.mode("overwrite").parquet(dir + "/events.parquet")
    ((0L until 30L).map(i => (i, i % 10)) ++
      (30L until 35L).map(i => (i, 100L + i)))
      .toDF("o_orderkey", "o_custkey").coalesce(2)
      .write.mode("overwrite").parquet(dir + "/orders.parquet")
    val r = ScaleOps.queries("q126_join_size_estimate")(s, dir).head()
    assert(r.getLong(0) == 20 && r.getLong(1) == 35)
    assert(r.getLong(2) == 60, "exact inner product")
    assert(r.getLong(3) == 60,
      "10 keys in 32768 buckets must be collision-free ⇒ est = exact")
    assert(r.getBoolean(5), "CMS inner product can only overcount")
    // On the real corpus the sketch must also never undercount.
    val real = ScaleOps.queries("q126_join_size_estimate")(s, sfDir).head()
    assert(real.getBoolean(5))
    assert(real.getLong(3) >= real.getLong(2))
  }

  test("q126: disjoint sketches estimate 0/true, never NULL") {
    import s.implicits._
    // one key per side, different keys, 32768 buckets: with the fixed
    // md5 family these land in different cells for every depth row, so
    // the sketch join is EMPTY — est_size must come back 0 (every depth
    // row present with est_r = 0 before the min) and never_undercounts
    // true, not a NULL pair from min-over-nothing (r6 review finding).
    val dir = TestSpark.tempDir("graft_jsz_disjoint").toString
    Seq((1L, 1000000000L, 1L, "e", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(dir + "/events.parquet")
    Seq((1L, 2L)).toDF("o_orderkey", "o_custkey")
      .write.mode("overwrite").parquet(dir + "/orders.parquet")
    val r = ScaleOps.queries("q126_join_size_estimate")(s, dir).head()
    assert(!r.isNullAt(3) && r.getLong(3) == 0L, "est_size must be 0")
    assert(r.getLong(2) == 0L)
    assert(!r.isNullAt(5) && r.getBoolean(5))
    assert(r.isNullAt(4), "inflation undefined at exact = 0")
  }
}
