package graft.queries

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal,
  Round, SpecificInternalRow}
import org.apache.spark.sql.types.{DoubleType, LongType, StructField,
  StructType}

/** The in-process tier of `TextOps.jaccardPairs`.
  *
  * The distributed chain (`TextOps.jaccardPairsOf`) spends nine Spark
  * jobs and 19 MB of shuffle at sf0.1 on a pair list that holds 29 rows
  * at sf0.01 and 490 at sf0.1, and each of the twelve consumers builds
  * it again. Up to two
  * bounds the whole build runs in the driver instead: one bounded
  * collect of the narrow `(doc_id, sh)` shingle map (the gate, [[pairs]])
  * reads the raw rows, Spark having already tokenized them; the driver
  * takes the distinct, applies the posting-list cap, counts shared
  * shingles per doc pair and returns the filtered `(da, db, jaccard)`
  * list as a LocalRelation. Above either bound the caller runs the
  * distributed chain unchanged.
  *
  * The tiers give the same rows, not merely close ones: shared counts
  * and set sizes are exact integers, the ratio is the same IEEE
  * division of the same doubles, and `jaccard` is rounded by Spark's
  * own `Round` expression, so a 6-dp half rounds as the distributed
  * `round` rounds it. LocalJaccardSpec pins both tiers against each
  * other. */
private[graft] object LocalJaccard {

  /** Raw shingle-row bound of the gate, set by driver heap. Measured
    * with `LocalJaccardBound` (local[4], 3 GB heap, 4-vCPU host; ranges
    * over two runs; `syn` corpora are 10,000 docs of 54 hashed words):
    *
    * {{{
    *   corpus           rows     fan-out     pairs  gate       kernel     in-process  distributed  gate over  held heap
    *   sf0.01           26,165   13,985      29     0.23 s     0.03 s     0.49 s      2.3 s        0.21 s     4 MB
    *   sf0.1            260,704  1,265,779   490    0.65–0.91  0.17–0.23  1.07–1.16   3.3–3.9      0.70–0.74  36 MB
    *   syn, 4000 words  520,000  4           0      1.21       0.50       2.03        3.4          1.34       76 MB
    *   syn, 20 words    520,000  16,787,493  5,512  1.29–1.35  0.49–0.53  2.19        17.5–17.8    0.98–1.34  70–111 MB
    *   sf1              ~2.6M    —           —      —          —          —           —            1.16–1.51  —
    * }}}
    *
    * The in-process tier is faster at every size measured (1.7× with no
    * shared shingles, 8× at both bounds), so the bounds cap heap, not
    * time: the collected rows, the dictionary and the kernel's arrays,
    * 135–215 B per raw row after a full GC. 2^19 covers sf0.1 with 2×
    * headroom; sf1 pays the gate, one task reading 2^19 + 1 rows. */
  val MaxShingleRows: Int = 1 << 19

  /** Posting-list fan-out bound, Σ df·(df−1)/2 over the capped
    * shingles: the self-join's row count and the kernel's counter
    * increments, known before any pair is counted. At the row bound, a
    * 20-word vocabulary reaches it (table above, kernel 0.5 s); sf0.1
    * has 1,265,779 and sf1 about 146M. */
  val MaxFanOut: Long = 1L << 24

  /** The gate and the kernel: the pair list of the shingle map `shMap`
    * (`doc_id`, `sh`, duplicates not yet removed) under posting-list cap
    * `dfCap`, or None when the map has more than `maxRows` rows or its
    * capped fan-out exceeds `maxFanOut`. One Spark job either way, the
    * bounded collect of [[Lineage.collectBounded]]. */
  def pairs(shMap: DataFrame, dfCap: Int, maxRows: Int,
      maxFanOut: Long): Option[DataFrame] = {
    val rows = Lineage.collectBounded(shMap, Seq("doc_id", "sh"), maxRows) match {
      case Some(r) => r
      case None =>
        log(s"distributed tier: more than $maxRows shingle rows")
        return None
    }
    val k = new Kernel(rows, dfCap)
    if (k.fanOut > maxFanOut) {
      log(s"distributed tier: ${rows.length} shingle rows, fan-out " +
        s"${k.fanOut} over $maxFanOut")
      return None
    }
    val out = k.pairs()
    log(s"in-process tier: ${rows.length} shingle rows, fan-out " +
      s"${k.fanOut}, ${out.length} pairs")
    val idNullable = shMap.schema("doc_id").nullable
    val schema = StructType(Seq(StructField("da", LongType, idNullable),
      StructField("db", LongType, idNullable),
      StructField("jaccard", DoubleType, nullable = true)))
    Some(shMap.sparkSession.createDataFrame(
      java.util.Arrays.asList(out: _*), schema))
  }

  /** One INFO line per pair-list build naming the tier. */
  private def log(msg: String): Unit =
    org.slf4j.LoggerFactory.getLogger(getClass).info(s"jaccard: $msg")

  /** The driver-side build over collected `(doc_id, sh)` rows. Docs get
    * dense indices in doc_id order (a null doc_id gets the extra index
    * `nDocs`: it counts toward document frequency, as in the distributed
    * window, but joins no pair); shingles get dense ids in first-seen
    * order. Every (doc, shingle) occurrence is one packed long, so the
    * distinct is a primitive sort. */
  final class Kernel(rows: Array[Row], dfCap: Int) {
    private val ids: Array[Long] = {
      val all = rows.iterator.filterNot(_.isNullAt(0)).map(_.getLong(0))
        .toArray
      java.util.Arrays.sort(all)
      distinctSorted(all)
    }
    private val nDocs = ids.length

    /** Distinct (doc, shingle) keys, sorted: grouped by doc in doc_id
      * order, then by shingle id. */
    private val (keys, nSh) = {
      val dict = new java.util.HashMap[String, Integer]
      val ks = rows.map { r =>
        val doc = if (r.isNullAt(0)) nDocs
          else java.util.Arrays.binarySearch(ids, r.getLong(0))
        val fresh = Integer.valueOf(dict.size)
        val prev = dict.putIfAbsent(r.getString(1), fresh)
        val sh = if (prev == null) fresh.intValue else prev.intValue
        (doc.toLong << 32) | sh
      }
      java.util.Arrays.sort(ks)
      (distinctSorted(ks), dict.size)
    }
    private def docOf(key: Long): Int = (key >>> 32).toInt
    private def shOf(key: Long): Int = key.toInt

    /** Document frequency over every distinct key, null doc included. */
    private val df = new Array[Int](nSh)
    keys.foreach(key => df(shOf(key)) += 1)
    private def kept(key: Long) = df(shOf(key)) <= dfCap

    /** Capped set size per doc, and per shingle the capped posting length
      * over non-null docs. */
    private val nsh = new Array[Long](nDocs + 1)
    private val postLen = new Array[Int](nSh)
    keys.foreach { key =>
      if (kept(key)) {
        nsh(docOf(key)) += 1
        if (docOf(key) < nDocs) postLen(shOf(key)) += 1
      }
    }

    /** Σ df·(df−1)/2 over the capped postings: the shared-shingle
      * increments [[pairs]] would make. */
    val fanOut: Long = postLen.iterator.map(m => m.toLong * (m - 1) / 2).sum

    /** The `(da, db, jaccard)` rows with shared ≥ 2 and jaccard ≥ 0.05,
      * in (da, db) order. Postings are filled in key order, so each lists
      * its docs ascending; a doc counts its shared shingles against the
      * docs after it in each of its postings in one dense counter array,
      * reset through the list of docs it touched. Only the docs that
      * pass both filters are sorted. */
    def pairs(): Array[Row] = {
      val start = new Array[Int](nSh + 1)
      for (sh <- 0 until nSh) start(sh + 1) = start(sh) + postLen(sh)
      val post = new Array[Int](start(nSh))
      val fill = java.util.Arrays.copyOf(start, nSh)
      val live = keys.filter(key => kept(key) && docOf(key) < nDocs)
      val at = live.map { key =>
        val sh = shOf(key)
        post(fill(sh)) = docOf(key)
        fill(sh) += 1
        fill(sh)
      }
      val shared = new Array[Int](nDocs)
      val touched = new Array[Int](nDocs)
      val hit = new Array[Int](nDocs)
      val jaccard = new Array[Double](nDocs)
      val out = Array.newBuilder[Row]
      val round6 = new Round6
      var i = 0
      while (i < live.length) {
        val a = docOf(live(i))
        var nt = 0
        while (i < live.length && docOf(live(i)) == a) {
          val end = start(shOf(live(i)) + 1)
          var p = at(i)
          while (p < end) {
            val b = post(p)
            if (shared(b) == 0) { touched(nt) = b; nt += 1 }
            shared(b) += 1
            p += 1
          }
          i += 1
        }
        var nh = 0
        var t = 0
        while (t < nt) {
          val b = touched(t)
          val c = shared(b)
          shared(b) = 0
          val x = c.toDouble / (nsh(a) + nsh(b) - c)
          // rounding to 6 dp moves x by at most 5e-7, so below 0.0499 it
          // cannot reach 0.05: skip the exact rounding there
          if (c >= 2 && x >= 0.0499) {
            jaccard(b) = round6(x)
            if (jaccard(b) >= 0.05) { hit(nh) = b; nh += 1 }
          }
          t += 1
        }
        java.util.Arrays.sort(hit, 0, nh)
        for (h <- 0 until nh) out += Row(ids(a), ids(hit(h)), jaccard(hit(h)))
      }
      out.result()
    }
  }

  /** `keys` (sorted) without repeats, in a fresh array. */
  private def distinctSorted(keys: Array[Long]): Array[Long] = {
    if (keys.isEmpty) return keys
    val out = Array.newBuilder[Long]
    out += keys(0)
    for (i <- 1 until keys.length) if (keys(i) != keys(i - 1)) out += keys(i)
    out.result()
  }

  /** Spark's `round(x, 6)` on a double: the `Round` expression itself,
    * evaluated on a one-slot row. */
  private final class Round6 extends (Double => Double) {
    private val expr = Round(BoundReference(0, DoubleType, nullable = false),
      Literal(6))
    private val row = new SpecificInternalRow(Seq(DoubleType))
    def apply(x: Double): Double = {
      row.setDouble(0, x)
      expr.eval(row).asInstanceOf[Double]
    }
  }
}
