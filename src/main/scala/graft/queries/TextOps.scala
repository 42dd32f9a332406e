package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables
import graft.functions.SimHashAgg
import Lineage.LineageOps

/** LLM-training-data text operators over the `documents` table (the
  * BASELINE.json north star): exact + near-duplicate detection, document
  * sketching, language/quality heuristics, tokenization, tf-idf.
  *
  * Scale stance: every near-dup operator is BUCKETED — candidate pairs come
  * from an inverted-index or LSH-band join, never an all-pairs crossJoin;
  * degenerate buckets (a shingle/band shared by a large fraction of the
  * corpus) carry no discriminative signal and are dropped by an explicit
  * size cap, which is what keeps the join fan-out bounded under skew at
  * 100 TB. Per-doc outputs are O(|input|); pair outputs are O(candidates).
  *
  * Determinism: similarity scores are rounded to 6 decimals BEFORE any
  * ranking/argmax so cross-engine float noise cannot flip an ordering.
  * ALL hashing — exact-dup digests, MinHash functions, SimHash token
  * hashes — derives from md5, which both engines evaluate identically
  * (see h48), so every sketch query in this file is oracle-checked
  * end-to-end; integer min/count/bit-vote arithmetic is exact.
  */
object TextOps {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).documents

  /** Session-memoized corpus SimHash index for q114 (the q78
    * build-once/probe-many serving pattern): banded 48-bit fingerprints
    * of the corpus slice (doc_id ≢ 0 mod 5), boilerplate buckets (>20
    * members) pruned AT BUILD, persisted partitionBy(band). Keyed by
    * (live session, sfDir) with stopped-session pruning; the path
    * carries the run token plus a build id so concurrent sessions and
    * rebuilds never collide (the VectorOps.ivfIndexMemo contract). */
  private val simhashIdxMemo =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), String]
  private val simhashIdxBuildId = new java.util.concurrent.atomic.AtomicLong(0)

  private def simhashIndex(s: SparkSession, dir: String): String = {
    simhashIdxMemo.keysIterator.filter(_._1.sparkContext.isStopped)
      .foreach(simhashIdxMemo.remove)
    simhashIdxMemo.getOrElseUpdate((s, dir), {
      val sim = udaf(SimHashAgg)
      val fps = docs(s, dir).where(col("doc_id") % 5 =!= 0)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .select(col("doc_id"), h48("t:", col("tok")).as("th"))
        .groupBy("doc_id").agg(sim(col("th")).as("fp"))
      val bands = fps.select(col("doc_id"), col("fp"),
        posexplode(array((0 until 3).map(b =>
          shiftrightunsigned(col("fp"), b * 16).bitwiseAND(lit(0xFFFFL))): _*))
          .as(Seq("band", "sig")))
      val capped = bands
        .withColumn("bsz",
          count(lit(1)).over(Window.partitionBy("band", "sig")))
        .where(col("bsz") <= 20)
        .select(col("doc_id"), col("fp"), col("sig"), col("band"))
      val path = Sinks.runPath("graft_simhash_index") + "_" +
        java.lang.Integer.toHexString(dir.hashCode) + "_" +
        simhashIdxBuildId.incrementAndGet()
      capped.write.mode("overwrite").partitionBy("band").parquet(path)
      path
    })
  }

  /** Distinct word-3-gram shingles per doc: (doc_id, sh). 1-based
    * element_at aligns with DuckDB list indexing in the oracle. Shared
    * with Retrieval's q123 (positionless containment). */
  private[queries] def shingles(d: DataFrame): DataFrame =
    d.select(col("doc_id"), split(col("text"), " ").as("toks"))
      // guard: Spark's sequence(1, 0) DESCENDS; docs under 3 tokens must
      // yield an empty shingle array, matching DuckDB's empty range().
      .select(col("doc_id"), explode(when(size(col("toks")) >= 3,
        transform(sequence(lit(1), size(col("toks")) - 2),
          i => concat_ws(" ", element_at(col("toks"), i),
            element_at(col("toks"), i + 1), element_at(col("toks"), i + 2))))
        .otherwise(array().cast("array<string>"))).as("sh"))
      .distinct()

  // Tiny stopword profile for the language/quality heuristics. The corpus
  // vocabulary is shared across langs (verified in the data), so this is a
  // deterministic scorer, not a trained classifier — the operator shape is
  // the deliverable.
  private val EN_STOP = Seq("the", "a", "and", "of", "to", "in", "is")

  /** Posting-list document-frequency cap for the exact-Jaccard join (q29):
    * above the current corpus max df (25) so the output is value-identical
    * with the guard active. Must match the literal in the q29 oracle. */
  private val DF_CAP = 1000

  /** 48-bit hash from the first 12 hex chars of md5(prefix || s) — the
    * engine-independent hash family (Spark `conv(…,16,10)` ≡ DuckDB
    * `CAST('0x'||… AS BIGINT)`, md5 shared), which is what lets the
    * MinHash/SimHash sketch queries be ORACLE-CHECKED instead of
    * rows-only (the r3 xxhash64 forms had no DuckDB equivalent). 48 bits
    * keeps every derived value — min-hashes, SimHash fingerprints and
    * their bit sums — inside signed-64 range in both engines (DuckDB
    * raises on signed overflow rather than wrapping). */
  private[graft] def h48(prefix: String, c: Column): Column =
    conv(substring(md5(concat(lit(prefix), c)), 1, 12), 16, 10).cast("long")

  /** THE 80/10/10 train/val/test assignment (md5 bucket of `c` under
    * `prefix`, 0–79 → train, 80–89 → val, 90–99 → test). One definition
    * shared by q66/q76/q81/q102 — the decontamination and straddle
    * claims are about the REAL split only while every consumer uses
    * this exact expression (ADVICE-style drift guard, like h48). */
  private[graft] def splitOf(c: Column, prefix: String): Column = {
    val b = pmod(h48(prefix, c.cast("string")), lit(100L))
    when(b < 80, "train").when(b < 90, "val").otherwise("test")
  }

  /** Fixed-width decile bucket of column `n` over broadcast min/max
    * columns `mn`/`mx` — ONE definition (Spark + interpolated SQL) shared
    * by q134's PSI and q135's k-anonymity so the engine-sensitive
    * arithmetic (explicit floor: DuckDB's double→INT cast rounds where
    * Spark's truncates) cannot drift between them (review r7 #6). */
  private[queries] def decileBucket: Column =
    least(lit(9), floor((col("n") - col("mn")) * lit(10) /
      (col("mx") - col("mn") + lit(1))).cast("int"))
  private[queries] val DECILE_BUCKET_SQL =
    "LEAST(9, CAST(FLOOR((n - mn) * 10 / (mx - mn + 1)) AS INT))"

  /** q31's quality feature/score projection, shared with q168/q169 so
    * the scored field can never drift between the scorer and its
    * evaluators (the h48/splitOf drift-guard convention). Keeps every
    * input column plus the feature counts, each ratio in EXACT INTEGER
    * MICRO-UNITS (`*_u`, value = u/10⁶), their double views, and the
    * composite score (`score_u` + `score`).
    *
    * Why integers: the original round(double, 6) form hash-matched at
    * sf0.01/sf0.1 and diverged at sf1 — one doc's score landed an ulp
    * from a .5 rounding tie that Spark and DuckDB resolve differently
    * (0.81143 vs 0.811431), the identical class as the round-9 q104
    * finding, caught the identical way (sf1 oracle before shipping).
    * Ratios are therefore HALF-UP of the exact rational in micro-units
    * — (num·2·10⁶ + den) div (2·den), positive operands so Spark's
    * truncating div ≡ DuckDB's flooring // — and the composite is
    * folded in nano-units before one final half-up to micro. Floor
    * division of exact integers has no ties to disagree on. The double
    * views are single int→double casts (exact below 2⁵³) and ONE IEEE
    * division by 10⁶ — bit-identical in both engines. */
  private[graft] def qualityScored(d: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    // the source table carries its own n_chars — drop it so the
    // recomputed feature (length(text), identical by construction)
    // is unambiguous
    d.drop("n_chars")
      .select(col("*"), size(toks).cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("n_chars"),
        size(array_intersect(toks, array(EN_STOP.map(lit): _*)))
          .cast("long").as("n_stop"),
        (length(col("text"))
          - length(regexp_replace(col("text"), "[0-9]", "")))
          .cast("long").as("n_dig"))
      .select(col("*"),
        expr("(n_stop * 2000000 + n_tokens) div (2 * n_tokens)").as("sw_u"),
        expr("(n_dig * 2000000 + n_chars) div (2 * n_chars)").as("dg_u"),
        expr("((n_chars - n_tokens + 1) * 2000000 + n_tokens)" +
          " div (2 * n_tokens)").as("atl_u"))
      .select(col("*"),
        expr("((CASE WHEN n_tokens >= 50 THEN 500000000" +
          "       ELSE n_tokens * 10000000 END" +
          "   + (1000000 - dg_u) * 300" +
          "   + LEAST(sw_u * 10, 1000000) * 200) + 500) div 1000")
          .as("score_u"))
      .select(col("*"),
        (col("atl_u").cast("double") / lit(1e6)).as("avg_token_len"),
        (col("sw_u").cast("double") / lit(1e6)).as("stopword_ratio"),
        (col("dg_u").cast("double") / lit(1e6)).as("digit_ratio"),
        (col("score_u").cast("double") / lit(1e6)).as("score"))
  }

  /** q30's detector + confusion matrix, shared with q170's metrics so
    * detector and eval cannot drift. The stopword-ratio gate is a pure
    * integer multiply-compare: the original `round(hits/n, 6) ≥ 0.02`
    * carried the same cross-engine .5-tie class the sf1 campaign caught
    * in q31; half-up-micro(hits·10⁶/n) ≥ 20000 ⟺ floor((hits·2·10⁶ +
    * n) / 2n) ≥ 20000 ⟺ hits·2·10⁶ ≥ 39999·n — no division, no round,
    * no ties. */
  private[graft] def langidConfusion(d: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    val enHits = size(array_intersect(toks, array(EN_STOP.map(lit): _*)))
    val pred = when(col("text").rlike("[\\u4e00-\\u9fff]"), "zh")
      .when(enHits.cast("long") * 2000000L >= lit(39999L) * size(toks),
        "en")
      .otherwise("unknown")
    d.select(col("lang"), pred.as("predicted"))
      .groupBy("lang", "predicted")
      .agg(count(lit(1)).as("n"))
  }

  /** q173 core over (doc_id, toks: array) rows: global stream positions
    * via the two-level slab prefix sum, first occurrences via
    * array_position over distinct elements, vocab counts at ladder
    * points. `slab` is a pure parallelism knob — VocabGrowthSpec pins
    * width-invariance the way SaltingSpec does for q145's slabs. */
  private[graft] def vocabGrowth(s: SparkSession, d0: DataFrame,
      slab: Long, ladderPts: Seq[Long]): DataFrame = {
    import s.implicits._
    // eager cut (round 16): three consumers (slab offsets, doc offsets,
    // the corpus total) read this doc-count-sized frame, and each copy
    // re-planned the d0 scan + the n-gram transform underneath — 4
    // tokenize passes in q173's static plan (3 here + firstPos), 2
    // after. Three longs per doc at any scale.
    val perDoc = d0.select(col("doc_id"),
      size(col("toks")).cast("long").as("n"),
      expr(s"doc_id div $slab").as("slab"))
      .cut()
    val slabOff = perDoc.groupBy("slab").agg(sum("n").as("sn"))
      .withColumn("soff", coalesce(sum("sn").over(
        Window.orderBy("slab")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val docOff = perDoc.join(slabOff.select("slab", "soff"), Seq("slab"))
      .withColumn("doff", col("soff") + coalesce(sum("n").over(
        Window.partitionBy("slab").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("doc_id", "doff")
    // the merge hint is load-bearing: the exploded-shingle side's size
    // ESTIMATE is inherited from d0 (Spark does not model explode
    // fan-out), so the planner would happily broadcast a relation that
    // is really corpus × shingles — it OOM'd the sf1 run. Sort-merge on
    // doc_id co-partitions both sides at any scale (docOff is
    // doc-count-sized, also not broadcastable at 100 TB).
    val firstPos = d0
      .select(col("doc_id"), col("toks"),
        explode(array_distinct(col("toks"))).as("tok"))
      .join(docOff.hint("merge"), Seq("doc_id"))
      .select(col("tok"),
        (col("doff") + array_position(col("toks"), col("tok")) - 1)
          .as("gp"))
      .groupBy("tok").agg(min("gp").as("fp"))
    val total = perDoc.agg(sum("n").as("t"))
    val ladder = ladderPts.toDF("n_prefix")
      .crossJoin(broadcast(total))
      .where(col("n_prefix") <= col("t"))
    // vocab(N) = |{fp < N}| WITHOUT a ladder × vocab theta join — that
    // form plans as a BroadcastNestedLoopJoin whose broadcast side is
    // the VOCABULARY, and it OOM'd the sf1 run (caught by the campaign,
    // round-10 session 2). Instead each first occurrence maps to the
    // smallest ladder point above it (a 20-branch CASE — map-side), the
    // counts collapse to ≤|ladder| rows, and the curve is a running sum
    // over the tiny ladder frame.
    val bucket = ladderPts.reverse.foldLeft(lit(null).cast("long")) {
      (acc, n) => when(col("fp") < n, lit(n)).otherwise(acc)
    }
    val perBucket = firstPos.select(bucket.as("n_prefix"))
      .where(col("n_prefix").isNotNull)
      .groupBy("n_prefix").agg(count(lit(1)).as("c"))
    ladder.join(perBucket, Seq("n_prefix"), "left")
      .withColumn("vocab", sum(coalesce(col("c"), lit(0L))).over(
        Window.orderBy("n_prefix")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("n_prefix", "vocab")
      .orderBy("n_prefix")
  }

  /** q170 core: per-class tp/fp/fn and precision/recall/F1 from a
    * confusion matrix (lang, predicted, n). The matrix is checkpointed
    * once for its four class-sized consumers; metric divisions are
    * single casts of exact integers (< 2⁵³). */
  private[graft] def langidMetricsFrom(cm0: DataFrame): DataFrame = {
    val cm = Fixpoint.checkpointFresh(cm0)
    val classes = cm.select(col("lang").as("cls"))
      .unionByName(cm.select(col("predicted").as("cls"))).distinct()
    val byTrue = cm.groupBy(col("lang").as("cls"))
      .agg(sum("n").as("n_true"))
    val byPred = cm.groupBy(col("predicted").as("cls"))
      .agg(sum("n").as("n_pred"))
    val diag = cm.where(col("lang") === col("predicted"))
      .select(col("lang").as("cls"), col("n").as("tp"))
    classes
      .join(byTrue, Seq("cls"), "left")
      .join(byPred, Seq("cls"), "left")
      .join(diag, Seq("cls"), "left")
      .select(col("cls"),
        coalesce(col("tp"), lit(0L)).as("tp"),
        (coalesce(col("n_pred"), lit(0L)) - coalesce(col("tp"), lit(0L)))
          .as("fp"),
        (coalesce(col("n_true"), lit(0L)) - coalesce(col("tp"), lit(0L)))
          .as("fn"))
      .select(col("cls"), col("tp"), col("fp"), col("fn"),
        when(col("tp") + col("fp") > 0,
          col("tp").cast("double") / (col("tp") + col("fp"))
            .cast("double")).as("precision"),
        when(col("tp") + col("fn") > 0,
          col("tp").cast("double") / (col("tp") + col("fn"))
            .cast("double")).as("recall"),
        when(col("tp") * 2 + col("fp") + col("fn") > 0,
          (col("tp") * 2).cast("double") /
            (col("tp") * 2 + col("fp") + col("fn")).cast("double"))
          .as("f1"))
      .orderBy("cls")
  }

  /** q175 core: exact-integer Cohen's κ from a confusion matrix
    * (lang, predicted, n) — see the catalog entry for the identity. */
  private[graft] def kappaFrom(cm0: DataFrame): DataFrame = {
    val D = "decimal(38,0)"
    val cm = Fixpoint.checkpointFresh(cm0)
    val tot = cm.agg(sum("n").as("nn"),
      sum(when(col("lang") === col("predicted"), col("n"))
        .otherwise(lit(0L))).as("agree"))
    val margins = cm.groupBy(col("lang").as("cls"))
      .agg(sum("n").as("rt"))
      .join(cm.groupBy(col("predicted").as("cls"))
        .agg(sum("n").as("ct")), Seq("cls"), "full")
      .agg(sum(coalesce(col("rt"), lit(0L)).cast(D) *
        coalesce(col("ct"), lit(0L))).as("pe_num"))
    val den = col("nn").cast(D) * col("nn") - col("pe_num")
    tot.crossJoin(margins)
      .select(col("nn").as("n_docs"), col("agree"),
        when(den > 0,
          Exact.asD(col("agree").cast(D) * col("nn") - col("pe_num")) /
            Exact.asD(den)).as("kappa"))
  }

  /** q168 core: exact midrank AUC per group over (lang, su, pos) rows —
    * su an integer score, pos ∈ {0,1}. See the catalog entry's scaladoc
    * for the integer-midrank construction and the histogram scale
    * argument. */
  private[graft] def aucByGroup(scored: DataFrame): DataFrame = {
    val D = "decimal(38,0)"
    val hist = scored.groupBy("lang", "su")
      .agg(count(lit(1)).as("cnt"), sum("pos").as("npos"))
    val w = Window.partitionBy("lang").orderBy("su")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val mid = hist
      .withColumn("cum", sum("cnt").over(w))
      .withColumn("mid2",
        lit(2) * (col("cum") - col("cnt") + 1) + col("cnt") - 1)
    mid.groupBy("lang")
      .agg(sum("npos").as("n_pos"),
        sum(col("cnt") - col("npos")).as("n_neg"),
        sum(col("npos").cast(D) * col("mid2")).as("s2"))
      .select(col("lang"), col("n_pos"), col("n_neg"),
        (col("s2") - col("n_pos").cast(D) * (col("n_pos") + 1))
          .cast("long").as("u2"),
        (Exact.asD(col("s2") - col("n_pos").cast(D) * (col("n_pos") + 1)) /
          Exact.asD(lit(2) * col("n_pos").cast(D) * col("n_neg")))
          .as("auc"))
      .orderBy("lang")
  }

  private def cappedShOf(shBase: DataFrame): DataFrame =
    shBase
      .withColumn("df", count(lit(1)).over(Window.partitionBy("sh")))
      .where(col("df") <= DF_CAP)
      .select("doc_id", "sh")

  // spread a narrow documents scan before the shingle pass (round 17):
  // the tokenize + 3-gram transform + explode map ran as the pairs
  // build's single heaviest 1-task stage (2.0 s cold / 0.9 s warm in the
  // q104 StageProbe) on the unsplittable test files, and shingles' own
  // distinct exchange follows immediately, so the added round-robin text
  // shuffle has a full exchange to amortize into (the q173 shape, unlike
  // the q82/q179 rejection where the serial map was small). Every
  // jaccardPairs consumer (q29/q65/q81/q102/q104/q148/q149/q158/q161/
  // q167/q172/q181) inherits it; wide cluster scans are untouched.
  // Interleaved A/Bs with a q85 control: q29 2.23->1.54, q65 4.78->4.01,
  // q104 flat (15.17/15.19 on the paired re-run). The SAME spread on the
  // sibling shingle consumers measured worse or flat and was REJECTED
  // (bench_only_sf0.1_r17_{spanAB,mhAB}_*): q130's shared base +18%,
  // q27's mhStage worse in both pairs, q122/q139/q176 flat — their first
  // consumer is an eager cut or a doc_id-keyed window, not the
  // sh-distinct exchange that amortizes the spread here.
  /** q29 core (shared with q65): exact shingle-Jaccard pairs over the
    * df-capped posting lists — pairs sharing ≥2 shingles, similarity
    * ≥ 0.05, columns (da, db, jaccard). The df cap rides the same sh-hash
    * partitioning the self-join consumes (count-over-window, no rejoin);
    * no cache — ReuseExchange dedupes the distinct scan. */
  private[graft] def jaccardPairs(s: SparkSession, dir: String): DataFrame =
    jaccardPairsOf(shingles(Extras.spreadNarrowScan(docs(s, dir))))

  /** Base-parameterized form (round 16): q130 shares ONE checkpointed
    * distinct-shingle relation between this exact-truth chain and the
    * minhash candidate chain — separately built, the two chains re-ran
    * the scan+explode+distinct pass each (measured +1.0 s at sf0.1). */
  private[graft] def jaccardPairsOf(shBase: DataFrame): DataFrame = {
    // EAGER checkpoint of the capped shingle relation (round 16): it has
    // FOUR consumers below (self-join a/b sides, sizes na/nb), and the
    // executed plan duplicated the whole scan→explode→distinct→df-window
    // subtree once per consumer — AQE's stage cache deduped only the two
    // shuffle map legs, so one pairs build still scanned documents twice
    // and ran the df window four times (plans/r16/q29_jaccard_pairs_
    // before.txt). One materialization of (doc_id, sh) replaces all
    // four; every jaccardPairs consumer (q29/q65/q102/q104/q148/q149/
    // q158/q161/q167/q172/q181/q81…) inherits the win. Same trade as
    // the degreeAssortativity r11 fix: storage for recompute, eager
    // because the consumers race inside one job otherwise.
    // cutBounded (round 17, VERDICT r16 #3): eager below the size gate
    // (every test SF), lazy above it so a 100 TB shingle relation is
    // never force-materialized in a dedicated pre-pass.
    val sh = cappedShOf(shBase).cutBounded()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("nsh"))
    val shared = sh.as("a")
      .join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      // REPARTITION the fan-out on the pair key's first component before
      // the aggregate (round 12, SCALE.md #10 audit): this pair agg
      // barely reduces (120.4M groups from 146.5M rows at sf1 — shared
      // shingles are rare by construction once DF_CAP holds), so the
      // map-side partial aggregate builds a ~4M-entry-per-task spilling
      // map to then shuffle ESSENTIALLY THE SAME row count anyway. With
      // the distribution pre-satisfied (hash(da) clusters every (da,db)
      // group), the planner drops the partial-output exchange and the
      // aggregate runs single-pass. Full-query paired bench legs at sf1
      // (min, same day): q161 25.61 → 13.85 s, q65 21.72 → 18.37,
      // q29 18.22 → 17.07, q102 flat — every jaccardPairs consumer
      // improved or held; the stage-level A/B (ScaleDebug fanoutaudit)
      // showed the agg itself 1.6–3.4× faster. Skew-safe: da ranges
      // over the corpus, not a few hot keys.
      .repartition(col("a.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("shared"))
      .where(col("shared") >= 2)
    shared
      .join(sizes.select(col("doc_id").as("da"), col("nsh").as("na")), "da")
      .join(sizes.select(col("doc_id").as("db"), col("nsh").as("nb")), "db")
      .select(col("da"), col("db"),
        round(col("shared").cast("double")
          / (col("na") + col("nb") - col("shared")), 6).as("jaccard"))
      .where(col("jaccard") >= 0.05)
  }

  /** MinHash universal-hash family: h_j(x) = (a_j·base(x) + b_j) mod P
    * over a single 32-bit md5-derived base hash — ONE md5 per shingle
    * instead of 16 (the all-md5 form cost ~3 s extra at sf0.1), with the
    * 16 permutations as exact integer arithmetic both engines evaluate
    * identically. Bounds: a_j ≤ 2^30, base < 2^32 ⇒ a·base + b < 2^63
    * (DuckDB raises on signed overflow; the margin is proven by the
    * constants, not by luck). Constants are generated HERE and inlined
    * into both plans. */
  private val MH_P = 4294967311L // smallest prime > 2^32
  private def mhA(j: Int): Long =
    (1103515245L * (j + 1) + 12345L) % 1073741789L + 1L // ≤ 2^30
  private def mhB(j: Int): Long = (134775813L * (j + 1) + 1L) % MH_P
  private def mhBase(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** q27's candidate stage, shared with q130's eval harness: the
    * distinct-shingle relation (+ per-doc signature/size aggregate) and
    * the banded, bucket-capped, per-doc-top-8 candidate pairs. Returned
    * as a triple so q27's verify stage keeps consuming the SAME
    * subtrees (ReuseExchange dedupes the distinct exchange). */
  private def mhStage(s: SparkSession, dir: String,
      shareSh: Boolean = true): (DataFrame, DataFrame, DataFrame) =
    // narrow-scan spread before the shingle pass — the jaccardPairs
    // rationale (round 17): the tokenize+3-gram+explode map was the
    // build's heaviest serial stage and the distinct exchange follows
    mhStageOf(shingles(docs(s, dir)), shareSh)

  private def mhStageOf(shBase: DataFrame,
      shareSh: Boolean): (DataFrame, DataFrame, DataFrame) = {
    // The distinct shingle set feeds three consumers (signatures+sizes,
    // both sides of the verify join). The ADVICE-r3 assumption that
    // ReuseExchange would materialize the distinct exchange once did
    // not survive the round-16 plan audit: as in q29 (see jaccardPairs),
    // consumer-specific implied filters split the legs and the executed
    // q27 plan scanned documents FIVE times. Eager checkpoint of the
    // hashed shingle relation — one scan+explode+distinct+md5 pass for
    // every consumer (the jaccardPairs discipline).
    // shareSh = false (q130): that caller consumes ONLY the candidate
    // chain, which references sh once — an eager checkpoint there is a
    // pure extra materialization pass (measured +1.3 s at sf0.1).
    val sh0 = shBase.withColumn("hb", mhBase(col("sh")))
    val sh = if (shareSh) sh0.cutBounded() else sh0
    val ms = (0 until 16).map(j =>
      min((lit(mhA(j)) * col("hb") + lit(mhB(j))) % MH_P).as(s"m$j"))
    // ONE per-doc aggregation carries both the 16-slot signature and the
    // shingle count the verify stage needs — was two separate shuffles.
    val sig = sh.groupBy("doc_id").agg(count(lit(1)).as("nsh"), ms: _*)
    val bands = sig.select(col("doc_id"),
      posexplode(array((0 until 16).map(j => col(s"m$j")): _*))
        .as(Seq("band", "mh")))
    // Buckets materialize as capped doc-id lists and expand to candidate
    // pairs IN PLACE (HOF combinations over a ≤20-element list) — one
    // groupBy instead of a bucket-count window plus a bucket self-join,
    // two fewer shuffles for identical pairs.
    val buckets = bands.groupBy("band", "mh")
      .agg(collect_list("doc_id").as("ds"))
      .where(size(col("ds")).between(2, 20))
    val pairsRaw = buckets.select(explode(expr(
      "flatten(transform(ds, (a, i) -> " +
        "transform(slice(ds, i + 2, size(ds)), " +
        "b -> struct(least(a, b) AS da, greatest(a, b) AS db))))"))
      .as("pr"))
      .select(col("pr.da"), col("pr.db"))
    // Rank candidates by band-collision count and keep the top 8 per
    // doc BEFORE the expensive exact verification — verification work
    // is then O(|docs| × 8) regardless of how promiscuous the buckets
    // are (this tiny-vocabulary corpus collides constantly; a web-scale
    // corpus has the same problem via boilerplate shingles).
    // Both orientations are emitted in ONE explode pass and the top-8
    // is an in-group array sort (group size ≤ 16 bands × 19 bucket
    // partners = 304) — replaces the r3 union (which duplicated the
    // whole upstream subtree) + window (an extra sort-heavy shuffle).
    val collisions = pairsRaw
      .groupBy("da", "db")
      .agg(count(lit(1)).as("bo"))
    val perDoc = collisions.select(explode(array(
        struct(col("da").as("doc_id"), col("db").as("other"), col("bo")),
        struct(col("db").as("doc_id"), col("da").as("other"), col("bo"))))
        .as("e"))
      .select(col("e.doc_id").as("doc_id"), col("e.other").as("other"),
        col("e.bo").as("bo"))
    val pairs = perDoc.groupBy("doc_id")
      // sort key (-bo, other) ascending == (bo desc, other asc)
      .agg(slice(array_sort(collect_list(
        struct((-col("bo")).as("nbo"), col("other")))), 1, 8).as("cand"))
      .select(col("doc_id"), explode(col("cand")).as("c"))
      .select(least(col("doc_id"), col("c.other")).as("da"),
        greatest(col("doc_id"), col("c.other")).as("db"))
      .distinct()
    (sh, sig, pairs)
  }


  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Map[String, (SparkSession, String) => DataFrame](

    // String family + token counting: per-(lang, source) corpus statistics.
    "q24_text_stats" -> ((s, dir) => {
      docs(s, dir)
        .select(col("lang"), col("source"),
          size(split(col("text"), " ")).as("n_tokens"),
          length(col("text")).as("len"))
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          round(sum("n_tokens") / count(lit(1)), 6).as("avg_tokens"),
          round(sum("len") / count(lit(1)), 6).as("avg_chars"),
          max("n_tokens").cast("long").as("max_tokens"))
        .orderBy("lang", "source")
    }),

    // Exact dedup, summary form: md5 over normalized text, grouped by
    // source. countDistinct shuffles the hash, never the text bytes.
    "q25_exact_dedup" -> ((s, dir) => {
      docs(s, dir)
        .select(col("source"), md5(lower(trim(col("text")))).as("h"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("h")).as("n_distinct"),
          (count(lit(1)) - countDistinct(col("h"))).as("n_dup_docs"))
        .orderBy("source")
    }),

    // Exact dedup, materialized form: duplicate groups with the canonical
    // (min doc_id) survivor. Empty when the corpus has no dups (sf≤0.01);
    // real groups appear at sf0.1 — the oracle checks both situations.
    "q26_dedup_groups" -> ((s, dir) => {
      docs(s, dir)
        .select(md5(lower(trim(col("text")))).as("h"), col("doc_id"))
        .groupBy("h")
        .agg(count(lit(1)).as("n_copies"), min("doc_id").as("canonical_id"))
        .where(col("n_copies") > 1)
        .orderBy("h")
    }),

    // MinHash-LSH near-dup (ORACLE-CHECKED since r4 — md5-derived hash
    // family, see h48): 16 min-hashes per doc, each hash its own LSH band
    // (r=1 tuned for this low-similarity synthetic corpus; raise r for
    // production thresholds). Candidates come only from shared band
    // buckets, capped at 20 docs per bucket (a bucket hit by a large
    // corpus fraction identifies nothing and would otherwise be the O(n²)
    // skew bomb). Candidates are then verified with exact shingle
    // Jaccard; output is each doc's best verified match.
    "q27_minhash_near_dup" -> ((s, dir) => {
      val (sh, sig, pairs) = mhStage(s, dir)
      // Verify candidates through the inverted index (posting-list joins
      // keyed on the candidate pair) — shares shingle ROWS, never ships
      // collected shingle arrays through the shuffle.
      val sizes = sig.select(col("doc_id"), col("nsh"))
      val shared = pairs
        .join(sh.select(col("doc_id").as("da"), col("sh")), "da")
        .join(sh.select(col("doc_id").as("db"), col("sh")), Seq("db", "sh"))
        .groupBy("da", "db").agg(count(lit(1)).as("shared"))
      val verified = shared
        .join(sizes.select(col("doc_id").as("da"), col("nsh").as("na")), "da")
        .join(sizes.select(col("doc_id").as("db"), col("nsh").as("nb")), "db")
        .select(col("da"), col("db"),
          round(col("shared").cast("double")
            / (col("na") + col("nb") - col("shared")), 6).as("jaccard"))
      // Best match per doc: both orientations exploded once, then a single
      // grouped max over (jaccard, -other) — highest jaccard, ties to the
      // smallest partner id. Replaces the second union+window pass.
      verified.select(explode(array(
          struct(col("da").as("doc_id"), col("db").as("other"), col("jaccard")),
          struct(col("db").as("doc_id"), col("da").as("other"), col("jaccard"))))
          .as("e"))
        .groupBy(col("e.doc_id").as("doc_id"))
        .agg(max(struct(col("e.jaccard").as("jaccard"),
          (-col("e.other")).as("no"), col("e.other").as("other"))).as("b"))
        .select(col("doc_id"), col("b.other").as("best_match"),
          col("b.jaccard").as("jaccard"))
        .orderBy("doc_id")
    }),

    // SimHash sketch via the custom typed Aggregator (§2.9 surface):
    // fixed 64-int buffer, associative merge, 8-byte output per doc.
    // Token hashes are 48-bit (h48), so bits 48-63 never receive a
    // positive vote and the fingerprint is effectively 48-bit — which is
    // what lets the DuckDB oracle rebuild the identical bit votes in SQL
    // (ORACLE-CHECKED since r4; was rows-only under xxhash64).
    "q28_simhash" -> ((s, dir) => {
      val sim = udaf(SimHashAgg)
      docs(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .select(col("doc_id"), h48("t:", col("tok")).as("th"))
        .groupBy("doc_id")
        .agg(sim(col("th")).as("simhash"))
        .orderBy("doc_id")
    }),

    // SimHash-LSH near-dup (consumes the q28 sketch; ORACLE-CHECKED since
    // r4, and the Aggregator's bit semantics are additionally pinned by a
    // hand-computed unit test in SimHashSpec). The 48-bit fingerprint is
    // banded 3×16 — near-dups (small Hamming distance) agree on at least
    // one whole band with high probability — and band buckets are capped
    // at 20 docs exactly like q27; candidate pairs are kept at Hamming
    // distance ≤ 16 of 48 bits. Exact duplicates land at distance 0.
    "q54_simhash_near_dup" -> ((s, dir) => {
      val sim = udaf(SimHashAgg)
      val fps = docs(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .select(col("doc_id"), h48("t:", col("tok")).as("th"))
        .groupBy("doc_id").agg(sim(col("th")).as("fp"))
      val bands = fps.select(col("doc_id"), col("fp"),
        posexplode(array((0 until 3).map(b =>
          shiftrightunsigned(col("fp"), b * 16).bitwiseAND(lit(0xFFFFL))): _*))
          .as(Seq("band", "sig")))
      val buckets = bands.groupBy("band", "sig")
        .agg(collect_list(struct(col("doc_id"), col("fp"))).as("ds"))
        .where(size(col("ds")).between(2, 20))
      buckets.select(explode(expr(
        "flatten(transform(ds, (a, i) -> " +
          "transform(slice(ds, i + 2, size(ds)), " +
          "b -> struct(least(a.doc_id, b.doc_id) AS da, " +
          "greatest(a.doc_id, b.doc_id) AS db, " +
          "CAST(bit_count(a.fp ^ b.fp) AS BIGINT) AS hamming))))")).as("pr"))
        .select(col("pr.da"), col("pr.db"), col("pr.hamming"))
        .distinct()
        .where(col("hamming") <= 16)
        .orderBy("da", "db")
    }),

    // INCREMENTAL dedup — the daily operation of a production corpus:
    // dedupe today's batch against the EXISTING corpus without touching
    // the corpus again. The corpus's banded SimHash index (q54's sketch,
    // q78's build-once serving pattern) is persisted ONCE per session —
    // boilerplate signature buckets (>20 members, ~zero signal) are
    // pruned AT BUILD, so the index is already clean — and each probe
    // run: (a) fingerprints only the new batch, (b) BROADCASTS the
    // batch's band signatures against the index scan — the corpus side
    // is scanned in place, never shuffled, never re-fingerprinted, which
    // is the whole point at 100 TB (the batch is the small side by
    // definition). Full accounting: every batch doc appears, kept=1 iff
    // no corpus near-dup within Hamming ≤ 16. Batch = doc_id ≡ 0 (mod
    // 5), corpus = the rest — deterministic at any SF. Oracle rebuilds
    // the identical index + probe from the md5-derived hash family.
    "q114_incremental_dedup" -> ((s, dir) => {
      val idx = s.read
        .schema("doc_id LONG, fp LONG, sig LONG, band INT")
        .parquet(simhashIndex(s, dir))
      val sim = udaf(SimHashAgg)
      val bfps = docs(s, dir).where(col("doc_id") % 5 === 0)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .select(col("doc_id"), h48("t:", col("tok")).as("th"))
        .groupBy("doc_id").agg(sim(col("th")).as("bfp"))
      val bb = bfps.select(col("doc_id").as("batch_id"), col("bfp"),
        posexplode(array((0 until 3).map(b =>
          shiftrightunsigned(col("bfp"), b * 16).bitwiseAND(lit(0xFFFFL))): _*))
          .as(Seq("band", "sig")))
      val hits = idx.join(broadcast(bb), Seq("band", "sig"))
        .select(col("batch_id"), col("doc_id").as("corpus_id"),
          bit_count(col("bfp").bitwiseXOR(col("fp"))).cast("long")
            .as("hamming"))
        .where(col("hamming") <= 16)
        .distinct()
        .groupBy("batch_id")
        .agg(countDistinct(col("corpus_id")).as("nd"),
          min(col("corpus_id")).as("dup_of"),
          min(col("hamming")).as("min_hamming"))
      docs(s, dir).where(col("doc_id") % 5 === 0).select(col("doc_id"))
        .join(hits, col("doc_id") === col("batch_id"), "left")
        .select(col("doc_id"),
          coalesce(col("nd"), lit(0L)).as("n_corpus_dups"),
          col("dup_of"), col("min_hamming"),
          when(col("nd").isNull, lit(1L)).otherwise(lit(0L)).as("kept"))
        .orderBy("doc_id")
    }),

    // Exact n-gram Jaccard pairs via the inverted-index join (oracle-
    // checked): pairs sharing ≥2 shingles, similarity ≥ 0.05. The join is
    // shingle→docs (posting lists), never all-pairs. Shingles with
    // document frequency > DF_CAP are dropped from the universe BEFORE
    // the join — one boilerplate shingle shared by f docs contributes f²
    // join rows, the skew bomb at 100 TB; a shingle in >1000 docs carries
    // ~zero Jaccard signal. The cap is stated identically in the DuckDB
    // oracle (corpus max df is 25, so the guard is provably a no-op on
    // this data while bounding the worst case). The df groupBy and the
    // self-join both shuffle on `sh`, so the cap rides the same
    // partitioning; no cache (ReuseExchange dedupes the distinct scan).
    "q29_jaccard_pairs" -> ((s, dir) =>
      jaccardPairs(s, dir).orderBy("da", "db")),

    // Dedup-quality eval harness — the q51/q125 pattern pointed at the
    // dedup tier: how good is the MinHash CANDIDATE GENERATOR (banding +
    // bucket cap + per-doc top-8, the part that gates everything q27
    // verifies) against exact shingle-Jaccard ground truth (the q29
    // relation), per similarity threshold? recall = truth pairs ≥ t that
    // survived candidate generation; precision = fraction of ALL
    // generated candidates that are true ≥ t pairs (one candidate set,
    // evaluated at each t — the standard sweep an offline dedup pipeline
    // publishes before trusting its sketch parameters at 100 TB, where
    // re-verifying everything exactly is not an option).
    // Both relations are bucketed/capped upstream (no all-pairs anywhere);
    // the metric join is |truth| × 4 thresholds.
    "q130_dedup_quality" -> ((s, dir) => {
      import s.implicits._
      // ONE checkpointed distinct-shingle base for BOTH chains (see
      // jaccardPairsOf): candidate generation references it once (no
      // inner checkpoint), the truth chain caps+checkpoints its own
      // 4-consumer view of it.
      val shBase = shingles(docs(s, dir)).cut()
      // the candidate set has TWO consumers here (the metric join and
      // the n_cand count) and shareSh=false removed the chain's inner
      // cut, so both references re-planned the whole signature+banding
      // chain — the r16 mid-sweep caught the 2.34 → 3.87 s regression.
      // Cut the SMALL end product once instead (candidate pairs, capped
      // upstream), keeping the single-consumer chain uncheckpointed.
      val (_, _, cand0) = mhStageOf(shBase, shareSh = false)
      val cand = cand0.cut()
      val truth = jaccardPairsOf(shBase)
      val ct = truth.join(cand.withColumn("isc", lit(true)),
          Seq("da", "db"), "left")
        .select(col("jaccard"), coalesce(col("isc"), lit(false)).as("isc"))
      val nCand = cand.agg(count(lit(1)).as("n_cand"))
      Seq(0.3, 0.5, 0.7, 0.9).toDF("threshold")
        .crossJoin(ct)
        .where(col("jaccard") >= col("threshold"))
        .groupBy("threshold")
        .agg(count(lit(1)).as("n_truth"),
          count(when(col("isc"), lit(1))).as("n_hit"))
        .crossJoin(broadcast(nCand))
        .select(col("threshold"), col("n_truth"), col("n_cand"),
          col("n_hit"),
          round(col("n_hit") / col("n_cand"), 6).as("precision"),
          round(col("n_hit") / col("n_truth"), 6).as("recall"))
        .orderBy("threshold")
    }),

    // Near-dup CLUSTER formation — the step AFTER pair detection in a
    // real dedup pipeline: connected components over the q29 similarity
    // graph (the fixpoint label is the component-minimum id, which is
    // UNIQUE, so any correct algorithm and the oracle's recursive CTE
    // provably agree). Production path: large-star/small-star
    // contraction (Components.scala) — rounds are O(log n) regardless of
    // component DIAMETER, where the r4 min-label propagation needed
    // O(diameter) rounds and silently returned partial labels past its
    // cap. Both paths now fail loudly if un-converged; their equivalence
    // and the diameter>cap failure mode are pinned in ComponentsSpec.
    // Output: (doc_id, cluster_id) for every doc in ≥1 near-dup pair.
    "q65_dedup_clusters" -> ((s, dir) => {
      val edges = jaccardPairs(s, dir)
        .select(col("da").as("u"), col("db").as("v"))
      Components.starContraction(edges)
        .select(col("doc_id"), col("label").as("cluster_id"))
        .orderBy("doc_id")
    }),

    // Canonical-representative selection (round 14) — the step a real
    // dedup pipeline runs AFTER q65's cluster formation: each near-dup
    // cluster keeps its best member and drops the rest, where "best" is
    // the q31 quality score. Selection is exact-integer end to end: the
    // argmax compares score_u (q31's micro-unit integer — integer ORDER
    // replaces double order, the q168 discipline) lexicographically via
    // max(struct(score_u, −doc_id)), so ties break on LOWEST doc_id
    // with no float comparison and no window (one map-side-combinable
    // aggregate instead of a per-cluster sort). Output is
    // cluster-bounded: (cluster_id, n_members, keep_doc_id, keep_score,
    // n_dropped) for real dup groups only. Scale: rides the SAME
    // checkpointed q29/q65 star-contraction subtree (the q81/q102
    // sharing pattern — O(log n) contraction rounds, never all-pairs);
    // the quality join is doc-keyed; everything above the labels is
    // bounded by the cluster count.
    "q181_dedup_canonical" -> ((s, dir) => {
      val edges = jaccardPairs(s, dir)
        .select(col("da").as("u"), col("db").as("v"))
      val labels = Components.starContraction(edges)
        .select(col("doc_id"), col("label").as("cluster_id"))
      val q = qualityScored(docs(s, dir)).select(col("doc_id"),
        col("score_u"))
      labels.join(q, "doc_id")
        .groupBy("cluster_id")
        .agg(count(lit(1)).as("n_members"),
          max(struct(col("score_u"), (-col("doc_id")).as("nid")))
            .as("best"))
        .select(col("cluster_id"), col("n_members"),
          (-col("best.nid")).as("keep_doc_id"),
          (col("best.score_u").cast("double") / lit(1e6)).as("keep_score"),
          (col("n_members") - 1).as("n_dropped"))
        .orderBy("cluster_id")
    }),

    // Cluster-safe train/val/test split — the leakage-integrity op: q66
    // buckets by DOC hash, so two near-duplicate docs can land in train
    // and test (exactly the contamination q81 hunts for after the fact).
    // Bucketing by the near-dup CLUSTER label (q65's components;
    // singletons are their own cluster) makes straddling structurally
    // impossible — and the query PROVES it from the data rather than
    // asserting it: per-cluster distinct-split counts under BOTH
    // policies, surfaced as straddle_cluster_safe (≡ 0) next to
    // straddle_doc_hash (> 0 on this corpus — the bug made visible).
    // Shares the q29/q65 pairs+contraction subtree (the q81 pattern);
    // everything above it is bounded-frame arithmetic.
    "q102_cluster_safe_split" -> ((s, dir) => {
      val edges = jaccardPairs(s, dir)
        .select(col("da").as("u"), col("db").as("v"))
      val labels = Components.starContraction(edges)
        .select(col("doc_id"), col("label"))
      // ONE eager cut of the tagged frame (round 17): the straddle agg
      // and the per-split agg both consume it, and the warm probe showed
      // the whole join+md5 subtree planned twice as adjacent 0.55 s
      // 1-task stages; the conditional spread parallelizes the md5 maps
      // into the cut (the q110 narrow-scan shape — consumers are
      // order-free aggregates).
      val tagged = Extras.spreadNarrowScan(docs(s, dir).select(col("doc_id")))
        .join(labels, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("label"), col("doc_id")).as("cluster_id"))
        .select(col("doc_id"), col("cluster_id"),
          splitOf(col("cluster_id"), "csplit:").as("split"),
          splitOf(col("doc_id"), "split:").as("doc_split"))
        .cut()
      val perCluster = tagged.groupBy("cluster_id")
        .agg(countDistinct(col("split")).as("ns_safe"),
          countDistinct(col("doc_split")).as("ns_doc"))
      val straddle = perCluster.agg(
        sum(when(col("ns_safe") > 1, 1L).otherwise(0L))
          .as("straddle_cluster_safe"),
        sum(when(col("ns_doc") > 1, 1L).otherwise(0L))
          .as("straddle_doc_hash"))
      tagged.groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("cluster_id")).as("n_clusters"))
        .crossJoin(broadcast(straddle))
        .orderBy("split")
    }),

    // Population Stability Index between hash splits — the drift gate an
    // ML pipeline runs before trusting a new training batch: PSI =
    // Σ_b (p_b − q_b)·ln(p_b/q_b) over 10 fixed-width token-length
    // buckets, Laplace-smoothed (+1 per bucket) so empty buckets are
    // well-defined. For the q66 hash splits PSI ≈ 0 by construction
    // (md5 assignment is length-blind) — the NULL baseline every real
    // drift alarm is calibrated against. Per-bucket ln-contributions are
    // pinned to DECIMAL(28,12) (the q82/q120 pattern) so the pair total
    // is summation-order-free; bucket = floor((n−mn)·10/(mx−mn+1)) in
    // EXPLICIT floor form (DuckDB's double→INT cast rounds where Spark's
    // truncates — the q108 lesson). Scale: one corpus scan, a 2-row
    // min/max broadcast, ≤ |splits|·10-row aggregates.
    "q134_psi_drift" -> ((s, dir) => {
      import s.implicits._
      val base = docs(s, dir)
        .select(splitOf(col("doc_id"), "split:").as("split"),
          size(split(col("text"), " ")).as("n"))
      val mm = base.agg(min("n").as("mn"), max("n").as("mx"))
      val bk = base.crossJoin(broadcast(mm))
        .select(col("split"), decileBucket.as("bucket"))
      val cnt = bk.groupBy("split", "bucket").agg(count(lit(1)).as("c"))
      val tot = bk.groupBy("split").agg(count(lit(1)).as("t"))
      val frame = Seq(("train", "val"), ("train", "test")).toDF("sa", "sb")
        .crossJoin(s.range(10).select(col("id").cast("int").as("bucket")))
      val pa = (col("ca") + lit(1)).cast("double") / (col("ta") + lit(10))
      val pb = (col("cb") + lit(1)).cast("double") / (col("tb") + lit(10))
      val w = Window.partitionBy("pair")
      frame
        .join(broadcast(cnt.select(col("split").as("sa"), col("bucket"),
          col("c").as("ca"))), Seq("sa", "bucket"), "left")
        .join(broadcast(cnt.select(col("split").as("sb"), col("bucket"),
          col("c").as("cb"))), Seq("sb", "bucket"), "left")
        .join(broadcast(tot.select(col("split").as("sa"),
          col("t").as("ta"))), "sa")
        .join(broadcast(tot.select(col("split").as("sb"),
          col("t").as("tb"))), "sb")
        .select(concat(col("sa"), lit("->"), col("sb")).as("pair"),
          col("bucket"),
          coalesce(col("ca"), lit(0L)).as("ca"),
          coalesce(col("cb"), lit(0L)).as("cb"),
          col("ta"), col("tb"))
        .select(col("pair"), col("bucket"),
          col("ca").as("n_a"), col("cb").as("n_b"),
          ((pa - pb) * log(pa / pb)).cast("decimal(28,12)").as("cd"))
        .select(col("pair"), col("bucket").cast("long").as("bucket"),
          col("n_a"), col("n_b"),
          round(col("cd").cast("double"), 9).as("contrib"),
          round(sum("cd").over(w).cast("double"), 6).as("psi"))
        .orderBy("pair", "bucket")
    }),

    // Deterministic train/val/test split — hash-bucket assignment
    // (md5-derived, NOT rand(): reproducible across runs, engines, and
    // cluster sizes, which is how real pipelines split): bucket =
    // h48(doc_id) mod 100 → 80/10/10. Output: per-(lang, split) counts.
    "q66_hash_split" -> ((s, dir) => {
      docs(s, dir)
        .select(col("lang"), splitOf(col("doc_id"), "split:").as("split"))
        .groupBy("lang", "split")
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "split")
    }),

    // Stratified downsample — cap each language stratum at K docs,
    // keeping the K smallest doc hashes (a deterministic "reservoir":
    // the same docs survive on any cluster at any parallelism, unlike
    // sampleBy's Bernoulli draw). Output: the kept (lang, doc_id) pairs.
    "q67_stratified_sample" -> ((s, dir) => {
      val K = 50
      val h = h48("samp:", col("doc_id").cast("string"))
      val w = Window.partitionBy("lang").orderBy(col("h"), col("doc_id"))
      docs(s, dir)
        .select(col("lang"), col("doc_id"), h.as("h"))
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= K)
        .select(col("lang"), col("doc_id"))
        .orderBy("lang", "doc_id")
    }),

    // Capstone: the end-to-end corpus-curation pipeline as ONE
    // declarative query — quality filter (q31's exact score formula,
    // keep ≥ 0.6) → exact dedup (keep the smallest doc_id per
    // md5(lower(trim(text))) group, q25/q26's key) → deterministic
    // train/val/test split (q66's md5 bucketing) → per-(lang, split)
    // document and character counts. Composition is the point: every
    // stage is a column expression or a single keyed shuffle, the whole
    // funnel is one Catalyst plan (filter pushed to the scan, dedup =
    // one window on the text-hash, split = a pure hash column), and the
    // same pipeline runs unchanged on a 100 TB corpus.
    "q76_corpus_pipeline" -> ((s, dir) => {
      val toks = split(col("text"), " ")
      val nTok = size(toks)
      val stopRatio = round(
        size(array_intersect(toks, array(EN_STOP.map(lit): _*)))
          .cast("double") / nTok, 6)
      val digitRatio = round(
        (length(col("text"))
          - length(regexp_replace(col("text"), "[0-9]", ""))).cast("double")
          / length(col("text")), 6)
      val score = round(
        least(nTok.cast("double") / 50, lit(1.0)) * 0.5
          + (lit(1.0) - digitRatio) * 0.3
          + least(stopRatio * 10, lit(1.0)) * 0.2, 6)
      val kept = docs(s, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          md5(lower(trim(col("text")))).as("h"), score.as("score"))
        .where(col("score") >= 0.6)
      val deduped = kept
        .withColumn("mn", min("doc_id").over(Window.partitionBy("h")))
        .where(col("doc_id") === col("mn"))
      deduped
        .select(col("lang"),
          splitOf(col("doc_id"), "split:").as("split"), col("n_chars"))
        .groupBy("lang", "split")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"))
        .orderBy("lang", "split")
    }),

    // Decontamination — the eval-integrity pass every training-data
    // pipeline runs before shipping a split: find val/test documents
    // whose shingle sets overlap a TRAIN document (exact n-gram Jaccard
    // ≥ 0.2 over the q29 df-capped posting lists) and report each
    // contaminated eval doc with its strongest train-side match
    // (ties → smallest train doc id; rank taken on the ROUNDED jaccard,
    // the cross-engine determinism rule). One jaccardPairs subtree,
    // oriented with CASE after joining both split assignments — no
    // union, so the expensive self-join isn't duplicated. Scale: the
    // pair generation is the bucketed q29 plan; the split join is a
    // broadcast-size id→split map per side at any corpus size.
    "q81_decontamination" -> ((s, dir) => {
      val assign = docs(s, dir).select(col("doc_id"),
        splitOf(col("doc_id"), "split:").as("split"))
      val oriented = jaccardPairs(s, dir)
        .join(assign.select(col("doc_id").as("da"), col("split").as("sa")),
          "da")
        .join(assign.select(col("doc_id").as("db"), col("split").as("sb")),
          "db")
        .where((col("sa") === "train") =!= (col("sb") === "train"))
        .where(col("jaccard") >= 0.2)
        .select(
          when(col("sa") === "train", col("db")).otherwise(col("da"))
            .as("eval_id"),
          when(col("sa") === "train", col("sb")).otherwise(col("sa"))
            .as("split"),
          when(col("sa") === "train", col("da")).otherwise(col("db"))
            .as("train_id"),
          col("jaccard"))
      val w = Window.partitionBy("eval_id")
        .orderBy(col("jaccard").desc, col("train_id"))
      oriented
        .withColumn("rk", row_number().over(w))
        .where(col("rk") === 1)
        .select("eval_id", "split", "train_id", "jaccard")
        .orderBy("eval_id")
    }),

    // Unigram language-model scoring — the KenLM-style quality filter
    // reduced to its relational core: corpus unigram frequencies →
    // per-token log p(tok) = ln(tf) − ln(total) → per-doc mean log-prob.
    // Low scores mark rare-token-heavy (gibberish-leaning) documents.
    // Cross-engine exactness: each token's log-prob is pinned to
    // DECIMAL(28,12) BEFORE the per-doc sum (decimal addition is
    // summation-order-free, the asD discipline), sum→double→/n→round 4
    // at the output boundary. Scale: two hash shuffles (tok freq, doc
    // regroup); the 1-row total is a broadcast rejoin (J2 pattern).
    "q82_unigram_logprob" -> ((s, dir) => {
      val toks = docs(s, dir)
        .select(col("doc_id"), col("lang"),
          explode(split(col("text"), " ")).as("tok"))
      val freq = toks.groupBy("tok").agg(count(lit(1)).as("tf"))
      // Σ tf over the vocab ≡ total token count — computed straight off
      // the documents scan (size(split), no explode), which keeps the
      // freq subtree from being planned twice (one consumer each).
      val tot = docs(s, dir)
        .select(size(split(col("text"), " ")).cast("long").as("nt"))
        .agg(sum("nt").as("tot"))
      val lp = freq.crossJoin(broadcast(tot))
        .select(col("tok"),
          (log(col("tf").cast("double")) - log(col("tot").cast("double")))
            .cast("decimal(28,12)").as("lp"))
      toks.join(lp, "tok")
        .groupBy("doc_id", "lang")
        .agg(count(lit(1)).as("n_toks"),
          round((sum("lp").cast("double") / count(lit(1))), 4)
            .as("avg_logprob"))
        .orderBy("doc_id")
    }),

    // Bigram LM quality score (round 14) — the CCNet/Gopher-family
    // perplexity filter, one order up from q82's unigram: per document,
    // the mean over its bigrams of
    //   ln( 0.75 · c(w1 w2)/c(w1 ·)  +  0.25 · c(w2)/N )
    // — an interpolated bigram model (Jelinek–Mercer smoothing, λ=0.75)
    // whose history mass c(w1 ·) comes FROM the bigram table (Σ_v
    // c(w1,v)), so the conditional is exact ML and the unigram backoff
    // absorbs unseen-pair mass. Trained corpus-internal for
    // determinism (production scores against a reference-corpus LM —
    // same plan, different `lp` source). Exactness: the double
    // arithmetic inside ln is the BM25-contrib discipline (identical
    // expression tree both engines), each bigram's log-prob pinned to
    // DECIMAL(28,12) BEFORE the order-free per-doc sum, round 4 at the
    // output boundary. Docs with < 2 tokens surface with n_bigrams = 0
    // and a NULL score (the q85 short-doc rule), never silently drop.
    // Scale: the bigram relation is cut ONCE (eager checkpoint — the
    // q161 fan-out lesson: the counts subtree and the per-doc rejoin
    // both consume it; cluster tradeoff in PLANS.md); counts are
    // map-side-combined groupBys (a stop-word bigram's count flows
    // through a combiner tree, never a hot partition — no window ever
    // partitions on a token key); N is a 1-row broadcast (J2); the
    // rejoin shuffles on (w1, w2) and regroups on doc_id — two hash
    // exchanges, both on keys whose cardinality grows with the corpus.
    "q179_bigram_logprob" -> ((s, dir) => {
      val d = docs(s, dir)
      val big = d
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .select(col("doc_id"),
          explode(when(size(col("t")) >= 2,
            transform(sequence(lit(1), size(col("t")) - 1),
              i => struct(element_at(col("t"), i).as("w1"),
                element_at(col("t"), i + 1).as("w2"))))
            .otherwise(array().cast("array<struct<w1:string,w2:string>>")))
            .as("bg"))
        .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
        .cut()
      val cbi = big.groupBy("w1", "w2").agg(count(lit(1)).as("cbi"))
      val ch = cbi.groupBy("w1").agg(sum("cbi").as("ch"))
      val cu = d.select(explode(split(col("text"), " ")).as("w2"))
        .groupBy("w2").agg(count(lit(1)).as("cu"))
      // Σ over the vocab ≡ total token count, computed without a second
      // explode (the q82 trick).
      val tot = d.select(size(split(col("text"), " ")).cast("long").as("nt"))
        .agg(sum("nt").as("tot"))
      val lp = cbi.join(ch, "w1").join(cu, "w2").crossJoin(broadcast(tot))
        .select(col("w1"), col("w2"),
          log(lit(0.75) * col("cbi").cast("double") / col("ch").cast("double")
            + lit(0.25) * col("cu").cast("double") / col("tot").cast("double"))
            .cast("decimal(28,12)").as("lp"))
      val per = big.join(lp, Seq("w1", "w2"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          round(sum("lp").cast("double") / count(lit(1)), 4)
            .as("avg_logprob"))
      d.select(col("doc_id"), col("lang"))
        .join(per, Seq("doc_id"), "left")
        .select(col("doc_id"), col("lang"),
          coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
          col("avg_logprob"))
        .orderBy("doc_id")
    }),

    // Sequence packing — the concat-then-chunk batching every trainer
    // runs: documents stream per-lang in doc_id order into fixed
    // 512-token bins; a doc belongs to the bin its START offset falls in
    // (bin = ⌊(cum − n_tok)/B⌋ over the running token count). Pure
    // integer window arithmetic — deterministic on any cluster — and the
    // output is per-(lang, bin) stats, bounded by corpus_tokens/B. At
    // 100 TB the window partitions by lang (high-cardinality shard key
    // in production: (lang, shard)); no global sort anywhere.
    "q84_sequence_packing" -> ((s, dir) => {
      val B = 512L
      val w = Window.partitionBy("lang").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      docs(s, dir)
        .select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
        .withColumn("cum", sum("n_tok").over(w))
        .select(col("lang"), col("n_tok"),
          floor((col("cum") - col("n_tok")) / B).as("bin"))
        .groupBy("lang", "bin")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("total_toks"))
        .orderBy("lang", "bin")
    }),

    // Intra-document repetition — the Gopher/FineWeb quality rule that
    // kills boilerplate and degenerate generations: the fraction of a
    // doc's word-3-grams that are repeats (1 − distinct/total). Null for
    // docs too short to have a 3-gram, so short docs aren't conflated
    // with clean ones.
    "q85_repetition" -> ((s, dir) => {
      val d = docs(s, dir)
        .select(col("doc_id"), col("lang"),
          greatest(size(split(col("text"), " ")) - 2, lit(0)).cast("long")
            .as("n_shingles"))
      val dist = shingles(docs(s, dir))
        .groupBy("doc_id").agg(count(lit(1)).as("n_distinct"))
      d.join(dist, Seq("doc_id"), "left")
        .select(col("doc_id"), col("lang"), col("n_shingles"),
          coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
          when(col("n_shingles") > 0,
            round(lit(1.0) - coalesce(col("n_distinct"), lit(0L))
              .cast("double") / col("n_shingles"), 6)).as("dup_ratio"))
        .orderBy("doc_id")
    }),

    // (q183 geometry lives below with the other constants: QUOTA_CAP
    // binds at every SF — 20 sources × 25–2500 docs; QUOTA_SALT bounds
    // the pass-1 frame to the hot source's share ÷ SALT.)

    // Mixture report — per-(source, lang) document and character counts
    // with corpus share: the dashboard every curation run ends with
    // (what fraction of the corpus does each source contribute?). The
    // corpus total is a 1-row aggregate rejoined by broadcast (the J2
    // pattern) — no single-partition window anywhere in the plan.
    "q83_source_mix" -> ((s, dir) => {
      val agg = docs(s, dir)
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"))
      val tot = agg.agg(sum("n_docs").as("tot_docs"))
      agg.crossJoin(broadcast(tot))
        .select(col("source"), col("lang"), col("n_docs"),
          col("total_chars"),
          round(col("n_docs").cast("double") / col("tot_docs"), 6)
            .as("doc_share"))
        .orderBy("source", "lang")
    }),

    // Per-source quota cap (round 14) — the Common-Crawl-style curation
    // rule that stops one domain from dominating the training mix: each
    // source keeps at most CAP docs, best q31 quality first, ties to
    // the LOWEST doc_id (pure integer order, the q181 rule). The
    // ENGINE runs the scale-safe salted TWO-PASS top-K: pass 1 ranks
    // within (source, doc_id % SALT) cells and keeps ≤ CAP per cell —
    // the per-reducer frame is the hot source's share ÷ SALT, the
    // q145 remedy for the one-giant-key window — and pass 2 re-ranks
    // the ≤ SALT·CAP survivors per source. Top-K of per-cell top-Ks ≡
    // global top-K (every global winner wins its own cell), so the
    // ORACLE states the naive single-window form and the hash gate
    // proves the two-pass equivalence every round (the q145/q62
    // shared-oracle pattern). Output is source-bounded: kept counts +
    // the kept set's worst (min) quality — the quota's effective
    // admission bar.
    "q183_source_quota" -> ((s, dir) => {
      val q = qualityScored(docs(s, dir))
        .select(col("doc_id"), col("source"), col("score_u"))
      val w1 = Window.partitionBy(col("source"),
          pmod(col("doc_id"), lit(QUOTA_SALT)))
        .orderBy(col("score_u").desc, col("doc_id"))
      val w2 = Window.partitionBy("source")
        .orderBy(col("score_u").desc, col("doc_id"))
      val kept = q
        .withColumn("crk", row_number().over(w1))
        .where(col("crk") <= QUOTA_CAP)
        .withColumn("rk", row_number().over(w2))
        .where(col("rk") <= QUOTA_CAP)
      val n = q.groupBy("source").agg(count(lit(1)).as("n_docs"))
      n.join(kept.groupBy("source")
          .agg(count(lit(1)).as("n_kept"), min("score_u").as("bar_u")),
          Seq("source"))
        .select(col("source"), col("n_docs"), col("n_kept"),
          (col("n_docs") - col("n_kept")).as("n_dropped"),
          (col("bar_u").cast("double") / lit(1e6)).as("admission_bar"))
        .orderBy("source")
    }),

    // Language-ID heuristic (deterministic scorer): stopword hit ratio +
    // CJK detection. groupBy(lang, predicted) keeps the output bounded.
    "q30_langid" -> ((s, dir) =>
      langidConfusion(docs(s, dir)).orderBy("lang", "predicted")),

    // Per-class precision / recall / F1 of the q30 detector — the
    // classification-eval family rounding out the eval tier (q168 AUC
    // grades a ranker, q169 its calibration; this grades a CLASSIFIER
    // against the labeled lang). All counts fold off the SAME confusion
    // matrix q30 ships (one corpus-sized aggregate, checkpointed once
    // for its four class-sized consumers); tp/fp/fn are exact integers
    // and each metric is one division of exactly-converted integers at
    // the output row. Classes never predicted keep precision NULL
    // (0/0), never-true classes keep recall NULL — the honest report,
    // not a 0 that reads as "measured and failed".
    "q170_langid_metrics" -> ((s, dir) =>
      langidMetricsFrom(langidConfusion(docs(s, dir)))),

    // Cohen's kappa of the q30 detector — the chance-corrected
    // agreement number that exposes accuracy inflation under class
    // imbalance (a detector predicting the majority class scores high
    // accuracy and κ ≈ 0; q170's per-class P/R/F1 shows WHERE it
    // fails, κ says whether it beats chance AT ALL). Exact integer
    // identity: κ = (po − pe)/(1 − pe) = (agree·N − Σ row_c·col_c) /
    // (N² − Σ row_c·col_c) — marginal products in DECIMAL(38,0) (N²
    // outgrows int64 near 10⁹ docs), ONE string-route division at the
    // output row. Same confusion aggregate as q30/q170; everything
    // after it is class-count-sized.
    "q175_langid_kappa" -> ((s, dir) =>
      kappaFrom(langidConfusion(docs(s, dir)))),

    // Quality scoring: per-doc length/token/stopword/digit features and a
    // composite score — the filter stage of a training-data pipeline.
    "q31_quality" -> ((s, dir) =>
      qualityScored(docs(s, dir))
        .select("doc_id", "n_tokens", "n_chars", "avg_token_len",
          "stopword_ratio", "digit_ratio", "score")
        .orderBy("doc_id")),

    // Exact AUC of the q31 quality score against a source label — the
    // ranking-metric eval a quality FILTER needs before it gates a
    // corpus (q125's NDCG/MRR grade retrieval; nothing graded the
    // scorer itself). Label: source index < 10 = "curated" (synthetic
    // but deterministic — the q87/q166 plant-then-measure pattern; the
    // corpus carries no natural quality labels). AUC is the normalized
    // Mann–Whitney U with the standard midrank tie correction, computed
    // ENTIRELY in integers: the score IS an integer micro-unit
    // (qualityScored.score_u — integer ORDER replaces double order, no
    // cross-engine float comparisons anywhere), and midranks live in
    // 2× units (2·mid = 2·rank_start + tiecount − 1, always
    // integral). AUC =
    // (Σ₊2·mid − n₊(n₊+1)) / (2·n₊·n₋), divided once at the boundary
    // via the exact string route. The label is a REGEX match
    // (^src[0-9]$ = the single-digit sources), not a numeric parse of
    // the suffix: the sf1 corpus plants a 'boilerplate' source the
    // small SFs never show, and CAST(substring(source,4) AS INT) died
    // on it — the same sf-dependent-assumption class as the round-9
    // 53-bit cast finding, caught the same way (running the oracle at
    // sf1 before shipping).
    //
    // Scale shape: ranks are NOT a per-row window over the corpus — su
    // has ≤ 10⁶+1 distinct values by construction, so the corpus-sized
    // step is ONE groupBy(lang, su) histogram; the running-rank window
    // then runs over the BOUNDED distinct-score table and the result
    // folds to one row per lang. The oracle deliberately uses the naive
    // per-row RANK() formulation instead — an independent construction
    // of the same statistic (the q148 oracle convention). The s2 sum is
    // decimal(38,0) internally (2n² exceeds int64 near 10⁹ rows per
    // lang); the BIGINT output casts document the gate-scale bound.
    "q168_quality_auc" -> ((s, dir) =>
      aucByGroup(qualityScored(docs(s, dir))
        .select(col("lang"), col("score_u").as("su"),
          when(col("source").rlike("^src[0-9]$"), 1L)
            .otherwise(0L).as("pos")))),

    // Reliability curve for the q31 scorer — q168's AUC says the score
    // RANKS well; calibration says whether the score's VALUE means what
    // it claims (a 0.8-scored slice should be ~80 % curated if the score
    // is a probability). Ten fixed-width bins over [0,1] in exact
    // micro-units (bin = su div 10⁵, capped at 9 for su = 10⁶), per
    // (lang, bin): counts, observed positive rate, and mean score — all
    // integer sums divided once at the string boundary. ONE corpus-sized
    // partial-aggregated shuffle on (lang, bin); nothing else scales
    // with the corpus. Same regex label as q168 (shared rationale: the
    // sf1 'boilerplate' source).
    "q169_score_calibration" -> ((s, dir) => {
      val D = "decimal(38,0)"
      qualityScored(docs(s, dir))
        .select(col("lang"), col("score_u").as("su"),
          when(col("source").rlike("^src[0-9]$"), 1L)
            .otherwise(0L).as("pos"))
        .groupBy(col("lang"),
          least(expr("su div 100000"), lit(9L)).as("bin"))
        .agg(count(lit(1)).as("n"),
          sum("pos").as("n_pos"),
          sum(col("su").cast(D)).as("ssu"))
        .select(col("lang"), col("bin"), col("n"), col("n_pos"),
          (Exact.asD(col("n_pos")) / Exact.asD(col("n"))).as("pos_rate"),
          (Exact.asD(col("ssu")) /
            Exact.asD(col("n").cast(D) * lit(1000000L))).as("mean_score"))
        .orderBy("lang", "bin")
    }),

    // Content fingerprint: md5 of the sorted distinct token bag — dedup
    // that ignores word order. n_docs_sharing > 1 marks bag-level dups.
    "q32_fingerprint" -> ((s, dir) => {
      val fp = md5(concat_ws(" ",
        array_sort(array_distinct(split(col("text"), " ")))))
      val wF = Window.partitionBy("fp")
      docs(s, dir)
        .select(col("doc_id"), fp.as("fp"))
        .withColumn("n_docs_sharing", count(lit(1)).over(wF))
        .orderBy("doc_id")
    }),

    // BPE-ish token counting: subword-style segmentation via the regex
    // [letters]+|[digits]+|[other]+ (the GPT-2-pretokenizer shape minus
    // lookarounds, which RE2/Java regex dialects disagree on), next to
    // the whitespace count. The inflation ratio letters/digits/punct
    // splitting adds is the token-budget planning number an LLM-data
    // pipeline reports per corpus slice.
    "q57_bpe_tokens" -> ((s, dir) => {
      val bpe = expr(
        "size(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]+', 0))")
      docs(s, dir)
        .select(col("lang"), col("source"),
          bpe.cast("long").as("n_bpe"),
          size(split(col("text"), " ")).cast("long").as("n_ws"))
        .groupBy("lang", "source")
        .agg(sum("n_bpe").as("bpe_tokens"), sum("n_ws").as("ws_tokens"),
          round(sum("n_bpe").cast("double") / sum("n_ws"), 6)
            .as("inflation"))
        .orderBy("lang", "source")
    }),

    // One round of BPE TRAINING (Sennrich et al. '16) — the counting
    // inner loop q57's tokenizer-application side presumes: adjacent
    // symbol pairs weighted by word frequency, top candidates by count.
    // The scale story is the WORD-FREQUENCY REDUCTION: the corpus is
    // scanned once into a distinct-word table (one shuffle with map-side
    // combine), and all pair expansion runs over distinct words weighted
    // by wf — work proportional to VOCABULARY, not corpus tokens (the
    // map-reduce BPE everybody trains real tokenizers with; later rounds
    // iterate the same shape over merged symbol sequences). The ranking
    // window is global but over the PAIR table — bounded by |charset|²,
    // a few hundred rows — the q90 bounded-vocabulary exception, not a
    // corpus-sized single-partition sort. Single-char words contribute
    // no pairs and are filtered before the reduction; sequence(1, 0)
    // would DESCEND in Spark (the q88 guard), the length ≥ 2 filter
    // makes every sequence call ascending by construction.
    "q133_bpe_merge_round" -> ((s, dir) => {
      val words = docs(s, dir)
        .select(explode(split(col("text"), " ")).as("w"))
        .where(length(col("w")) >= 2)
        .groupBy("w").agg(count(lit(1)).as("wf"))
      val pairs = words
        .select(col("wf"), split(col("w"), "").as("cs"))
        .select(col("wf"), explode(expr(
          "transform(sequence(1, size(cs) - 1)," +
            " i -> struct(cs[i-1] AS a, cs[i] AS b))")).as("p"))
        .groupBy(col("p.a").as("left_sym"), col("p.b").as("right_sym"))
        .agg(sum("wf").as("pair_count"))
      pairs
        // global window SAFE: input is the distinct adjacent-symbol-PAIR
        // table — rows ∝ vocabulary² at worst, observed ∝ alphabet² —
        // never corpus tokens
        .withColumn("rnk", row_number().over(Window.orderBy(
          col("pair_count").desc, col("left_sym"), col("right_sym"))))
        .where(col("rnk") <= 20)
        .select(col("rnk").cast("long").as("rnk"),
          col("left_sym"), col("right_sym"), col("pair_count"))
        .orderBy("rnk")
    }),

    // Full BPE TRAINING loop (Sennrich et al. 2016) — q133 counts ONE
    // round's merge pairs; this runs BPE_ROUNDS rounds end-to-end:
    // count adjacent-symbol pairs over the word-frequency table, take
    // the argmax pair (count desc, then lexicographic — a total order),
    // APPLY the merge, repeat. Emits the learned merge table
    // (round, left_sym, right_sym, pair_count) — the artifact a
    // tokenizer ships.
    //
    // The classic sequential part — greedy LEFT-TO-RIGHT non-overlapping
    // merge application within a word (on [a,a,a] the merge (a,a) takes
    // positions 0-1, not 1-2) — is recast relationally: match positions
    // form runs of consecutive pos (gaps-and-islands on pos − row_number)
    // and greedy semantics keep exactly the EVEN offsets within each run.
    // No per-row loops, no HOF folds; both engines run the identical
    // window algebra, so the merge table is hash-exact.
    //
    // Scale: all state is ∝ VOCABULARY (distinct words × word length),
    // never corpus tokens — the q133 argument, now held through a whole
    // training loop. Each round is 3 bounded shuffles on the wid key +
    // a 1-row argmax broadcast; rounds are driver-paced with lazy
    // localCheckpoint (the q104/Components discipline).
    "q143_bpe_train" -> ((s, dir) =>
      bpeTrain(docs(s, dir))._1.orderBy("round")),

    // BPE ENCODE — the apply half of the q143 train symmetry: run the
    // SAME training loop (the final per-word symbol state IS the
    // encoding of every distinct word under the learned merge table),
    // then weight each word's symbol count by its per-lang frequency.
    // The per-lang report (words, chars, symbols, chars/symbol) is the
    // compression dashboard a tokenizer ships with its merge table.
    // Words too short to train (length < 2) encode as one symbol.
    // Scale: everything after the training loop is vocabulary-sized —
    // the (lang, word) table joins the per-word symbol counts
    // co-partitioned on the word key; no corpus-sized second pass.
    "q174_bpe_encode" -> ((s, dir) => {
      val d = docs(s, dir)
      val nsym = bpeFinalToks(s, dir)
        .groupBy(col("wid").as("w")).agg(count(lit(1)).as("ns"))
      val lw = d.select(col("lang"),
          explode(split(col("text"), " ")).as("w"))
        .groupBy("lang", "w").agg(count(lit(1)).as("c"))
      lw.join(nsym, Seq("w"), "left")
        .groupBy("lang")
        .agg(sum("c").as("n_words"),
          sum(col("c") * length(col("w"))).as("n_chars"),
          sum(col("c") * coalesce(col("ns"), lit(1L))).as("n_syms"))
        .select(col("lang"), col("n_words"), col("n_chars"), col("n_syms"),
          (col("n_chars").cast("double") / col("n_syms").cast("double"))
            .as("chars_per_sym"))
        .orderBy("lang")
    }),

    // BPE DECODE round trip (round 16) — the inverse q174 lacked
    // (VERDICT r15 #8), closing the tokenizer loop the way q72–q74/q180
    // close the format loop: symbols → words → documents, with a
    // corpus-wide losslessness pin. Per distinct word, the decoded form
    // is its final symbol state concatenated in pos order (BPE merges
    // only ever concatenate adjacent symbols, so this MUST reproduce
    // the word — roundtrip_rate 1.0 is the contract, spec-pinned);
    // per document, the word stream rejoins on single spaces and is
    // compared to the source text byte-for-byte. Scale: the decode
    // table is VOCABULARY-sized (one row per distinct trained word —
    // the q174 argument), the doc reassembly is one co-partitioned
    // word-key join plus one doc-keyed aggregate whose per-group state
    // is one document's own text — corpus-linear, no all-pairs, no
    // corpus-wide ordering.
    "q192_bpe_decode" -> ((s, dir) => {
      val d = docs(s, dir)
      val dec = bpeFinalToks(s, dir)
        .groupBy(col("wid"))
        .agg(
          concat_ws("", transform(
            array_sort(collect_list(struct(col("pos"), col("sym")))),
            x => x.getField("sym"))).as("dw"),
          count(lit(1)).as("ns"))
      val words = d.select(col("doc_id"), col("lang"), col("text"),
        posexplode(split(col("text"), " ")).as(Seq("wp", "w")))
      val rejoined = words.join(dec, col("w") === col("wid"), "left")
        .groupBy("doc_id", "lang", "text")
        .agg(
          concat_ws(" ", transform(
            array_sort(collect_list(struct(col("wp"),
              coalesce(col("dw"), col("w")).as("dw")))),
            x => x.getField("dw"))).as("decoded"),
          sum(coalesce(col("ns"), lit(1L))).as("n_syms"))
      rejoined.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_syms").as("n_syms"),
          count(when(col("decoded") === col("text"), lit(1))).as("n_ok"))
        .select(col("lang"), col("n_docs"), col("n_syms"), col("n_ok"),
          round(col("n_ok").cast("double") / col("n_docs").cast("double"),
            4).as("roundtrip_rate"))
        .orderBy("lang")
    }),
    // Rolling-hash document fingerprint (Rabin-Karp polynomial hash over
    // the character stream, mod 1e9+7): order-SENSITIVE dedup complement
    // to q32's order-free token-bag fingerprint. Integer-only arithmetic
    // → bit-identical cross-engine (DuckDB list_reduce seeds with the
    // first element, which equals a zero-seeded fold since c₀ < p).
    "q58_rolling_hash" -> ((s, dir) => {
      val rhash = when(length(col("text")) === 0, lit(0L)).otherwise(
        aggregate(split(col("text"), ""), lit(0L),
          (acc, c) => (acc * 31 + ascii(c).cast("long")) % 1000000007L))
      val wF = Window.partitionBy("rhash")
      docs(s, dir)
        .select(col("doc_id"), rhash.as("rhash"))
        .withColumn("n_docs_sharing", count(lit(1)).over(wF))
        .orderBy("doc_id")
    }),

    // WINNOWING document fingerprints (Schleimer, Wilkerson & Aiken,
    // SIGMOD 2003 — the MOSS algorithm): the LOCAL fingerprint selection
    // the catalog's dedup family lacks. MinHash (q27) answers "are these
    // DOCS similar?"; winnowing selects, per doc, a position-anchored
    // subset of k-gram hashes with a worst-case GUARANTEE: any shared
    // token run of length ≥ W + K − 1 (here 6) contributes at least one
    // IDENTICAL fingerprint to both docs — the primitive plagiarism /
    // license-contamination detectors are built on, and q122's span
    // detector with a detection floor instead of a df heuristic.
    //
    // Selection rule, recast relationally: slide a W-wide window over
    // the positional k-gram hash sequence and keep each window's MINIMUM
    // (hash, pos) — encoded as ONE integer key = h32 · 2³⁰ + pos, so the
    // window min is a plain MIN over longs with NO ties to break (pos is
    // unique within a doc; h32 < 2³² and pos < 2³⁰ keep the key under
    // 2⁶² — exact in both engines' signed-64; any real document is
    // orders of magnitude under 2³⁰ tokens, and both engines would
    // overflow IDENTICALLY at the boundary rather than drift). Distinct
    // selected keys are the fingerprint set; expected density 2/(W+1).
    //
    // Scale: ONE window pass partitioned by doc_id (state O(W) per
    // stream, no corpus-wide sort) + one fingerprint-hash groupBy for
    // document frequency (the q88 chunk-dedup shape) — never all-pairs.
    // Docs with fewer than W k-grams emit no full window and report 0
    // fingerprints (documented contract, the q88 short-doc convention).
    // Output per doc: k-gram count, positional fingerprint count, and
    // how many of those fingerprints also occur in ≥1 other doc.
    "q176_winnowing_fingerprints" -> ((s, dir) => {
      val d = docs(s, dir)
      // ONE eager checkpoint of the positional-hash pass — it feeds the
      // k-gram count, the window chain's own count, and the window scan
      // (the q161 fan-out lesson, applied at construction). Cluster-mode
      // tradeoff: PLANS.md "localCheckpoint lineage-cut … at 100 TB".
      val sh = posShingleHashes(d).cut()
      val fph = winnowCore(sh)
      val nsh = sh.groupBy("doc_id").agg(count(lit(1)).as("nsh"))
      val df = fph.groupBy("fp").agg(countDistinct("doc_id").as("nd"))
      val perdoc = fph.join(df, "fp")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_fps"),
          sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_shared_fps"))
      d.select("doc_id", "lang")
        .join(nsh, Seq("doc_id"), "left")
        .join(perdoc, Seq("doc_id"), "left")
        .select(col("doc_id"), col("lang"),
          coalesce(col("nsh"), lit(0L)).as("n_kgrams"),
          coalesce(col("n_fps"), lit(0L)).as("n_fps"),
          coalesce(col("n_shared_fps"), lit(0L)).as("n_shared_fps"))
        .orderBy("doc_id")
    }),
  ) ++ textOpsQueries2

  /** q176 winnowing constants: word-3-gram k-grams (the corpus shingle
    * grain) and a W=4 window ⇒ guarantee floor W + K − 1 = 6 shared
    * tokens. W − 1 is interpolated into BOTH the Spark frame and the
    * oracle's ROWS BETWEEN / start filter (the FUZZY_W lesson: one
    * constant, two engines). */
  private[graft] val WINNOW_W = 4
  /** The key-packing shift: fp = key div 2³⁰, pos = key mod 2³⁰. */
  private val WINNOW_SHIFT = 1073741824L

  /** Positional word-3-gram hashes: (doc_id, pos [1-based], key) with
    * key = h32(shingle) · 2³⁰ + pos. NOT deduplicated (unlike
    * [[shingles]]) — winnowing is positional. */
  private def posShingleHashes(d: DataFrame): DataFrame =
    d.select(col("doc_id"), split(col("text"), " ").as("toks"))
      // guard: sequence(1, 0) DESCENDS in Spark — short docs must yield
      // an empty array (cf. shingles).
      .select(col("doc_id"), explode(when(size(col("toks")) >= 3,
        transform(sequence(lit(1), size(col("toks")) - 2),
          i => struct(i.cast("long").as("pos"), concat_ws(" ",
            element_at(col("toks"), i), element_at(col("toks"), i + 1),
            element_at(col("toks"), i + 2)).as("sh"))))
        .otherwise(array().cast("array<struct<pos:bigint,sh:string>>")))
        .as("ps"))
      .select(col("doc_id"), col("ps.pos").as("pos"),
        (conv(substring(md5(col("ps.sh")), 1, 8), 16, 10).cast("long")
          * lit(WINNOW_SHIFT) + col("ps.pos")).as("key"))

  /** q176 selection over a precomputed (and checkpointed) positional
    * hash frame: distinct W-window min keys, decoded to (doc_id, fp,
    * fp_pos). */
  private def winnowCore(sh: DataFrame): DataFrame = {
    val nsh = sh.groupBy("doc_id").agg(count(lit(1)).as("nsh"))
    val wMin = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.currentRow, WINNOW_W - 1)
    sh.withColumn("mk", min("key").over(wMin))
      .join(nsh, "doc_id")
      .where(col("pos") + (WINNOW_W - 1) <= col("nsh"))
      .select(col("doc_id"), col("mk")).distinct()
      .select(col("doc_id"), expr(s"mk div $WINNOW_SHIFT").as("fp"),
        expr(s"mk % $WINNOW_SHIFT").as("fp_pos"))
  }

  /** q176 core: the distinct selected fingerprints (doc_id, fp, fp_pos)
    * of a document frame — each W-window's min (hash, pos) key, decoded.
    * Factored for the spec, which pins the winnowing guarantee and the
    * min-of-window property. */
  private[graft] def winnowFps(d: DataFrame): DataFrame =
    winnowCore(posShingleHashes(d).cut())

  /** q174's persisted tokenizer state (VERDICT r10 #2): the final
    * per-word symbol table bpeTrain produces, written ONCE per (session,
    * sfDir) as a parquet artifact and probed on every later call — the
    * exact q78 ivfIndexMemo discipline (identity session key so a live
    * map entry can never outlive its SparkContext, stopped-session
    * pruning on access, runToken + per-build id in the path so two live
    * sessions in one JVM never share a directory). This is the serving
    * shape a tokenizer actually has: train once, ship the state, encode
    * many — q174's bench samples after the first time the probe join
    * alone. The roundtrip is exact (string/long columns only), so the
    * oracle hash is unchanged vs. recomputing the loop in-plan. */
  private val bpeStateMemo = new BuildOnceMemo[String]("graft_bpe_state")

  private def bpeFinalToks(s: SparkSession, dir: String): DataFrame = {
    val path = bpeStateMemo.getOrBuild(s, dir) {
      val p = bpeStateMemo.nextPath(dir)
      bpeTrain(docs(s, dir))._2.write.mode("overwrite").parquet(p)
      p
    }
    s.read.parquet(path)
  }

  /** q143/q174 core: the full BPE training loop. Returns (merge table,
    * final per-word symbol state) — the latter IS every distinct word's
    * encoding under the learned merges, which q174 weights by per-lang
    * word frequency. See the q143 catalog scaladoc for the
    * gaps-and-islands greedy-merge recast and the vocabulary-bounded
    * scale argument. */
  private[graft] def bpeTrain(d: DataFrame): (DataFrame, DataFrame) = {
    val wWin = Window.partitionBy("wid").orderBy("pos")
    val words = d
      .select(explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) >= 2)
      .groupBy("w").agg(count(lit(1)).as("wf"))
    // Lazy checkpoints + amortized stats reset (Fixpoint
    // .checkpointRound on the carried toks, VERDICT r9 #2): each
    // round's best.head(1) is the single materializing action; the
    // periodic reset bounds the per-round toks⋈m⋈m join estimates
    // without paying checkpointFresh's re-shuffle every round.
    // best/m are intra-round frames — plain lazy checkpoints.
    var toks = Fixpoint.checkpointFresh(words
        .select(col("w").as("wid"), col("wf"),
          posexplode(split(col("w"), "")).as(Seq("pos", "sym")))
        .select(col("wid"), col("pos").cast("long").as("pos"),
          col("sym"), col("wf")))
      val merges = Seq.newBuilder[DataFrame]
      for (r <- 1 to BPE_ROUNDS) {
        val prs = toks.withColumn("nxt", lead(col("sym"), 1).over(wWin))
        val best = prs
          .where(col("nxt").isNotNull)
          .groupBy(col("sym").as("a"), col("nxt").as("b"))
          .agg(sum("wf").as("pair_count"))
          .orderBy(col("pair_count").desc, col("a"), col("b"))
          .limit(1)
          .cut(false)
        // Fail-loud on a degenerate corpus (ADVICE r8 #2) moved to ONE
        // post-loop action (round 16): the per-round best.head(1) forced
        // eight sequential driver round-trips on a loop whose rounds have
        // no other driver dependency (best flows into the next round as a
        // broadcast FRAME, not a literal) — the warm q143 profile was
        // ~4.2 s of almost pure per-round scheduling. An empty round-r
        // best makes the bestSym crossJoin annihilate the token state and
        // every later merge row, so merge-table count < BPE_ROUNDS is an
        // equivalent (and still loud) detector — checked below, after the
        // loop, with a single action.
        val m = prs
          .join(broadcast(best),
            col("sym") === col("a") && col("nxt") === col("b"))
          .select(col("wid"), col("pos"))
          .withColumn("grp", col("pos") - row_number().over(wWin))
          .withColumn("off", col("pos") -
            min("pos").over(Window.partitionBy("wid", "grp")))
          .where(col("off") % 2 === 0)
          .select(col("wid").as("kwid"), col("pos").as("kpos"))
          .cut(false)
        val bestSym = best.select(concat(col("a"), col("b")).as("msym"))
        toks = Fixpoint.checkpointRound(toks
          .join(m, col("wid") === col("kwid") && col("pos") === col("kpos"),
            "left")
          .join(m.select(col("kwid").as("pwid"), col("kpos").as("ppos")),
            col("wid") === col("pwid") && col("pos") === col("ppos") + 1,
            "left")
          .where(col("ppos").isNull) // the consumed right half of a merge
          .crossJoin(broadcast(bestSym))
          .select(col("wid"), col("pos").as("opos"),
            when(col("kpos").isNotNull, col("msym")).otherwise(col("sym"))
              .as("sym"),
            col("wf"))
          .withColumn("pos", row_number().over(
            Window.partitionBy("wid").orderBy("opos")).cast("long") - 1)
          .select("wid", "pos", "sym", "wf"), r)
        merges += best.select(lit(r.toLong).as("round"),
          col("a").as("left_sym"), col("b").as("right_sym"),
          col("pair_count"))
      }
      val mt = merges.result().reduce(_ unionByName _).cut(false)
      val nMerges = mt.count()
      if (nMerges != BPE_ROUNDS) throw new IllegalStateException(
        s"q143: only $nMerges of $BPE_ROUNDS merge rounds produced a " +
          "pair — corpus exhausted; lower BPE_ROUNDS (see the degenerate-" +
          "corpus note above)")
      (mt, toks)
  }

  /** Second half of the catalog Map — split only because the bpeTrain
    * helper sits between the two literal blocks; `queries` is their
    * concatenation. */
  private def textOpsQueries2
      : Map[String, (SparkSession, String) => DataFrame] = Map(

    // tf-idf with per-doc top-3 terms. Ranking uses the ROUNDED score so
    // cross-engine float noise cannot flip the order; ties break on term.
    "q33_tfidf" -> ((s, dir) => {
      val d = docs(s, dir)
      val terms = d.select(col("doc_id"),
        explode(split(col("text"), " ")).as("term"))
      val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val df = terms.select("doc_id", "term").distinct()
        .groupBy("term").agg(count(lit(1)).as("df"))
      val n = d.select(count(lit(1)).as("n_docs"))
      val scored = tf.join(df, "term").crossJoin(broadcast(n))
        .select(col("doc_id"), col("term"),
          round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6)
            .as("tfidf"))
      val wD = Window.partitionBy("doc_id")
        .orderBy(col("tfidf").desc, col("term"))
      scored.withColumn("rank", row_number().over(wD).cast("long"))
        .where(col("rank") <= 3)
        .orderBy("doc_id", "rank")
    }),

    // PageRank over the near-dup similarity graph — document centrality
    // as a curation signal (a hub duplicated-ish by many sources is
    // boilerplate; an isolated near-dup pair is a mirror). The iterative
    // complement of q65's components: same q29 edge subtree, but a
    // VALUE-propagating fixpoint instead of a label-collapsing one.
    // Determinism is the q82/q101 pattern — per-edge contributions are
    // computed in integer quanta of 1e-12 (floor division — exact and
    // order-free at any partition layout AND any engine; see prStep for
    // the r9 finding that retired the decimal-rounded form), so every
    // iteration stays bit-identical to the oracle's unrolled CTE chain.
    // pr = q/1e12 surfaces only at the output boundary. Scale: one
    // co-partitioned join + one keyed aggregate per iteration (the
    // degree/teleport frame is checkpointed once and reused), lineage
    // truncated per round like q65/q68 — the plan you would run on a
    // billion-edge graph, exercised on this one.
    "q104_pagerank" -> ((s, dir) => {
      val pairs = jaccardPairs(s, dir)
        .select(col("da").as("u"), col("db").as("v"))
      pageRankConverged(pairs)
        .select(col("doc_id"), col("deg"),
          (col("q").cast("double") / lit(1.0e12)).as("pr"))
        .orderBy("doc_id")
    }),

    // Weighted sampling WITHOUT replacement (Efraimidis–Spirakis A-ES),
    // stratified per language: each doc draws u from the md5-uniform
    // family (q66/q67's engine-portable PRNG) and scores key = ln(u)/w
    // with w = n_chars — the monotone twin of u^(1/w), so the top-K keys
    // per stratum ARE a weighted sample without replacement: longer docs
    // proportionally likelier, yet the same docs win at any parallelism
    // on any cluster (q67's determinism, now weight-aware). Cross-engine
    // caveat (the q82 ln precedent): ln is transcendental, so the two
    // engines' libm may differ in the last ulp; the 12-dp quantization +
    // doc_id tiebreak leaves a rank flip possible only when the true key
    // sits within ~1 ulp (≈1e-19) of a 5e-13 rounding boundary —
    // vanishing in practice (hash-verified at sf0.01 and sf0.1), but
    // quantization narrows rather than eliminates the window. One
    // projection + one per-stratum top-K window — no shuffle beyond the
    // stratum partition.
    "q107_weighted_sample" -> ((s, dir) => {
      val m = pmod(h48("wsamp:", col("doc_id").cast("string")), lit(1000000L))
      val u = (m.cast("double") + lit(0.5)) / lit(1000000.0)
      val key = round(log(u) / col("n_chars"), 12)
      val w = Window.partitionBy("lang").orderBy(col("wkey").desc, col("doc_id"))
      docs(s, dir)
        .where(col("n_chars") > 0)
        .select(col("lang"), col("doc_id"), col("n_chars"), key.as("wkey"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .where(col("rk") <= WSAMPLE_K)
        .orderBy("lang", "rk")
    }),

    // Triangle census of the q29 similarity graph — the cluster-density
    // diagnostic that separates boilerplate cliques (triangle-saturated)
    // from drifting near-dup chains (triangle-free) inside the same q65
    // component. Degree-ordered orientation bounds the wedge join's
    // per-key fan-out at O(√m) — see Components.triangleCounts for the
    // hot-node argument; the oracle is the naive a<b<c three-way
    // self-join, fine at oracle scale, quadratic on a hot node at 100 TB.
    "q148_triangle_count" -> ((s, dir) => {
      val pairs = jaccardPairs(s, dir)
        .select(col("da").as("u"), col("db").as("v"))
      Components.triangleCounts(pairs).orderBy("doc_id")
    }),

    // k-core of the q29 similarity graph — the peeling complement of
    // q148's closure census: drifting-revision chains (every internal
    // node deg 2, endpoints deg 1) dissolve under repeated peeling while
    // boilerplate cliques survive intact, so the 2-core IS the "dense
    // duplication" sub-corpus. Parallel peeling, edge-count convergence
    // (deletion-only ⇒ equal count proves the fixpoint), fail-loud round
    // cap — see Components.kCore for the per-round plan shape. The
    // oracle unrolls KCORE_CAP peel rounds as CTEs; peeling is IDEMPOTENT
    // at the fixpoint, so extra unrolled rounds are no-ops and no stop-
    // round selection is needed (contrast q104, whose oracle must pick
    // the first converged iterate).
    "q149_kcore" -> ((s, dir) => {
      val pairs = jaccardPairs(s, dir)
        .select(col("da").as("u"), col("db").as("v"))
      Components.kCore(pairs, KCORE_K, KCORE_CAP).orderBy("doc_id")
    }),

    // Personalized PageRank over the q29 similarity graph — random walk
    // with restart to a SEED set (doc_id ≡ 0 mod 10), the "expand this
    // labeled slice" primitive of semi-supervised data curation: rank
    // the whole corpus by proximity to a trusted seed corpus and take
    // the high-PPR unlabeled docs as candidates. Same integer-quanta
    // discipline as q104 (floor division has no cross-engine ties), same
    // carried-prev two-rounds-per-job convergence loop, same amortized
    // checkpoint stats reset; what changes is the teleport vector (all
    // mass to seeds, so non-seeds hold exactly 0 until wave k reaches
    // them — the left-join + COALESCE handles the zero-contribution
    // frontier the uniform init of q104 never exhibits) and the cap
    // (the concentrated init starts ~n/|S|× further from its fixpoint,
    // so the 0.85-geometric argument needs ~log(n/|S|)/log(1/0.85) more
    // rounds than q104 — 80 covers it where 60 would not).
    "q158_personalized_pagerank" -> ((s, dir) => {
      val pairs = jaccardPairs(s, dir)
        .select(col("da").as("u"), col("db").as("v"))
      pprConverged(pairs)
        .select(col("doc_id"), col("deg"), col("seed").as("is_seed"),
          (col("q").cast("double") / lit(1.0e12)).as("ppr"))
        .orderBy("doc_id")
    }),

    // Degree assortativity of the similarity graph — one number that
    // separates the two duplication regimes the graph family keeps
    // meeting: boilerplate cliques are assortative (high-degree nodes
    // link high-degree nodes), hub-and-spoke template reuse is
    // DISassortative. On a SYMMETRIZED edge list the two degree
    // marginals coincide, so Newman's Pearson-over-edges needs no
    // square root: r = (m·Σxy − (Σx)²) / (m·Σx² − (Σx)²) with x,y the
    // endpoint degrees per directed edge — every sum an exact integer
    // in DECIMAL(38,0), divided only at the double boundary through the
    // exact string route. Plan: degree table joined to the edge list on
    // src then dst (both co-partitioned corpus-sized joins), folding to
    // a ONE-ROW aggregate; no window, no sort. den = 0 only on a
    // degree-regular graph (every clique the same size) — impossible
    // here and documented rather than special-cased.
    "q161_degree_assortativity" -> ((s, dir) =>
      degreeAssortativity(jaccardPairs(s, dir)
        .select(col("da").as("u"), col("db").as("v")))),

    // Local clustering coefficient — the PER-NODE closure ratio
    // cc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)) that q161's one global
    // number cannot give: it labels each individual document "inside a
    // clique" (cc→1, boilerplate copy) vs "bridge between clusters"
    // (cc→0, template hub) — the per-doc routing signal a curation pass
    // acts on. Triangle counts come from the same degree-ordered
    // orientation as q148 (wedge fan-out bounded O(√m) — the hot-node
    // argument in Components.triangleCounts); the degree table is one
    // extra aggregate over the SAME checkpointed pair list, so the
    // jaccard subtree is evaluated once for both consumers. cc is an
    // exact small-integer ratio converted at the boundary via the
    // string route (Exact.asD) and IEEE-divided — bit-identical in both
    // engines. Nodes with deg < 2 are excluded (cc undefined), matching
    // the standard convention (Watts–Strogatz local coefficient).
    "q167_clustering_coeff" -> ((s, dir) =>
      clusteringCoeff(jaccardPairs(s, dir)
        .select(col("da").as("u"), col("db").as("v")))),

    // BFS hop layers from the q158 seed set — exact hop distance to the
    // nearest trusted doc, the third answer in the seed-proximity
    // family (q65: reachable at all; q158: walk mass, decaying with
    // distance AND branching; q172: pure distance). Frontier-sized
    // rounds, grow-only convergence proof, fail-loud cap — see
    // Components.bfsLayers. The oracle walks the same graph as a
    // recursive CTE deduped on (node, dist) pairs and takes MIN(dist)
    // — a formulation with no frontier in it, so a frontier-bookkeeping
    // bug cannot be mirrored.
    "q172_bfs_layers" -> ((s, dir) =>
      Components.bfsLayers(jaccardPairs(s, dir)
          .select(col("da").as("u"), col("db").as("v")),
        PPR_SEED_MOD, BFS_CAP).orderBy("doc_id")),

    // Heaps-law vocabulary-growth curve — distinct SHINGLE (3-gram)
    // vocabulary after the first N shingles of the canonical corpus
    // order, at geometric ladder points: the "how much NEW vocabulary
    // does more data buy" diagnostic that flags corpus saturation
    // before a scaling run (the shingle space is where this corpus
    // actually grows — its unigram vocabulary is a closed 31-word set,
    // saturated inside the first ladder point; measured, which is WHY
    // the curve runs on shingles). The interesting operator underneath
    // is the GLOBAL stream position, assigned scale-safely as a
    // TWO-LEVEL exclusive prefix sum: per-doc counts roll up to
    // 1000-doc slabs; the only full-order window runs over the SLAB
    // SUMMARY (corpus/1000 rows), and the within-slab running sum is a
    // window over ≤1000-row partitions — no single-reducer pass over
    // docs or shingles anywhere. First occurrence needs no positional
    // explode either: per doc only DISTINCT shingles are emitted, and
    // the in-doc offset is array_position (both engines 1-based, first
    // match). Corpus-sized work: one distinct-shingle explode joined
    // co-partitioned on doc_id, one groupBy(sh) min. The ladder join
    // runs ladder × vocab (bounded); points beyond the corpus total
    // are cut.
    "q173_vocab_growth" -> ((s, dir) => {
      import s.implicits._
      // spread the raw scan BEFORE tokenizing (round 16): documents
      // arrives as one unsplittable row group locally, so the trigram
      // transform + distinct-explode ran on ONE core (0.96 s of the
      // 2.7 s warm profile). Conditional — a wide cluster scan is
      // untouched; all consumers are order-free (guide §2.5).
      val d0 = Extras.spreadNarrowScan(docs(s, dir)
          .select(col("doc_id"), col("text")))
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .select(col("doc_id"), when(size(col("toks")) >= 3,
          transform(sequence(lit(1), size(col("toks")) - 2),
            i => concat_ws(" ", element_at(col("toks"), i),
              element_at(col("toks"), i + 1),
              element_at(col("toks"), i + 2))))
          .otherwise(array().cast("array<string>")).as("toks"))
      vocabGrowth(s, d0, VG_SLAB, VG_LADDER)
    }),
  )

  /** q167 core over an undirected pair list — per-node Watts–Strogatz
    * local coefficient; see the catalog entry's scaladoc. The input
    * pairs are checkpointed ONCE here because two consumers read them
    * (triangle census + degree aggregate) and the caller's subtree may
    * be expensive (the q65 lesson). Edges are normalized/deduped here
    * (not just in the census) because the DEGREE aggregate counts the
    * same list — a reversed duplicate must not inflate deg while the
    * census ignores it. */
  private[graft] def clusteringCoeff(pairs0: DataFrame): DataFrame = {
    val pairs = Fixpoint.checkpointFresh(pairs0
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .where(col("u") =!= col("v"))
      .distinct())
    // …Of form (round 16): pairs IS the census's normalized edge
    // relation — the (pairs) wrapper re-shuffled and re-materialized it
    val tri = Components.triangleCountsOf(pairs)
    val deg = pairs.select(col("u").as("doc_id"))
      .unionByName(pairs.select(col("v").as("doc_id")))
      .groupBy("doc_id").agg(count(lit(1)).as("deg"))
    deg.where(col("deg") >= 2)
      .join(tri, Seq("doc_id"), "left")
      .select(col("doc_id"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        (Exact.asD(coalesce(col("n_tri"), lit(0L)) * lit(2)) /
          Exact.asD(col("deg") * (col("deg") - lit(1)))).as("cc"))
      .orderBy("doc_id")
  }

  /** q161 core over an undirected pair list — see the catalog entry's
    * scaladoc for the no-sqrt argument on symmetrized edges. */
  private[graft] def degreeAssortativity(pairs: DataFrame): DataFrame = {
    val D = "decimal(38,0)"
    // Checkpoint the PAIR LIST before fanning out (r11, caught by the
    // sf1 tier bench): the symmetrizing union references pairs twice and
    // the degree table re-references the edges, so without a checkpoint
    // the whole upstream jaccardPairs build ran ~4x — 44.6 s at sf1 vs
    // q29's 18.2 s for ONE build of the same pairs. The q65
    // labels-recompute class (SCALE.md #2). EAGER localCheckpoint, not
    // lazy: both union branches sit in the same stage of the one final
    // job, so a lazy persist lets their tasks race-compute the same
    // source partitions (measured: lazy 24.6 s / eager ~15 s at sf1) —
    // the loop bodies keep the lazy form because their first action
    // lands before any second consumer exists. Cluster-mode tradeoff
    // (executor-loss semantics, reliable-checkpoint switch point):
    // PLANS.md "the localCheckpoint lineage-cut discipline at 100 TB".
    val p = pairs.cut()
    val edges = p.select(col("u").as("src"), col("v").as("dst"))
      .unionByName(p.select(col("v").as("src"), col("u").as("dst")))
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val sums = edges
      .join(deg.select(col("src").as("s1"), col("deg").as("x")),
        col("src") === col("s1"))
      .join(deg.select(col("src").as("s2"), col("deg").as("y")),
        col("dst") === col("s2"))
      .agg(count(lit(1)).as("m"),
        sum(col("x").cast(D)).as("sx"),
        sum(col("x").cast(D) * col("x")).as("sxx"),
        sum(col("x").cast(D) * col("y")).as("sxy"))
    sums.select(col("m"),
      col("sx").cast("long").as("sum_deg"),
      col("sxx").cast("long").as("sum_deg_sq"),
      col("sxy").cast("long").as("sum_xy"),
      (Exact.asD(col("m").cast(D) * col("sxy") - col("sx") * col("sx")) /
        Exact.asD(col("m").cast(D) * col("sxx") - col("sx") * col("sx")))
        .as("assortativity"))
  }

  /** q104/q107 constants — shared with the oracle SQL builders below.
    * PR_CAP is the fail-loud iteration ceiling; the RELATIVE stop
    * tolerance is 10⁻³ — converged when max|q_k − q_{k−1}| ≤ the
    * integer tolerance PR_TOL_NUM_Q div n quanta, i.e. no score is
    * still moving by more than ~0.1% of the uniform score. The damping
    * factor bounds the decay at 0.85^k, so the ceiling covers graphs
    * needing ~log(tol·Δ₀⁻¹)/log(0.85) rounds (sf0.1: ~46).
    *
    * All pagerank arithmetic runs in integer QUANTA of 10⁻¹²
    * (pr = q / PR_Q): floor division is bit-identical in every engine,
    * unlike decimal rounding of doubles, whose half-tie behavior Spark
    * and DuckDB resolve differently often enough to drift at sf1 (the
    * round-9 finding). The three integer constants are spelled out (not
    * derived via double multiplication, which would itself round). */
  private[graft] val PR_CAP        = 60
  private[graft] val PR_Q          = 1000000000000L // 1e12 quanta/unit
  private[graft] val PR_TELEPORT_Q = 150000000000L  // 0.15 · PR_Q
  private[graft] val PR_TOL_NUM_Q  = 1000000000L    // 1e-3 · PR_Q

  /** q183 geometry: docs kept per source (binds at every SF: 20 sources
    * × 25–2500 docs) and the pass-1 salt width — a pure parallelism
    * knob (any SALT ≥ 1 is hash-identical; the oracle is the unsalted
    * single-window form). */
  private[graft] val QUOTA_CAP  = 10
  private[graft] val QUOTA_SALT = 8

  /** q158: the seed rule (doc_id ≡ 0 mod PPR_SEED_MOD — ~10 % of nodes,
    * engine-neutral), and the deeper fail-loud cap: PPR's init sits
    * ~log(n/|S|)/log(1/0.85) ≈ 15 rounds further from its fixpoint than
    * q104's uniform init at these graph sizes (observed: 46 vs ~60 at
    * sf0.1), so q104's 60 would fail loud exactly where the operator
    * still converges fine. */
  private[graft] val PPR_SEED_MOD = 10L
  private[graft] val PPR_CAP      = 80

  /** q172: fail-loud BFS round ceiling — also the oracle CTE's
    * recursion bound, so Spark can never expand deeper than the oracle
    * walks. Observed eccentricity on the sf graphs: 2–4 (near-dup
    * components are cliques and short chains). */
  private[graft] val BFS_CAP = 30

  /** q173: slab width of the two-level prefix sum (the only full-order
    * window runs over corpus/VG_SLAB slab rows) and the geometric
    * ladder of prefix sizes — doubling from 500 tokens to ~2.6·10⁸,
    * enough for any SF this repo ships; points past the corpus total
    * are cut. Both interpolated into the oracle. */
  private[graft] val VG_SLAB = 1000L
  private[graft] val VG_LADDER: Seq[Long] = (0 until 20).map(500L << _)
  private val WSAMPLE_K  = 5

  /** q149: the k of the shipped k-core (2 = dissolve chains, keep
    * anything cyclic) and the fail-loud peel-round ceiling — also the
    * oracle's unroll depth, so Spark can never converge LATER than the
    * oracle stops. Peel depth observed: 2–4 on the sf graphs. */
  private[graft] val KCORE_K   = 2
  private[graft] val KCORE_CAP = 30

  /** q143: BPE training rounds — enough to exercise multi-character
    * merges merging with each other on this vocabulary. */
  private[graft] val BPE_ROUNDS = 8

  /** One damped-PageRank iteration (d = 0.85) in EXACT INTEGER QUANTA
    * of 10⁻¹² (the `q` column; pr = q / 10¹²): contribution = q div deg,
    * damping = (17·sc) div 20, teleport = 0.15·10¹² div n — floor
    * division on positive longs, which every engine computes
    * bit-identically at ANY scale. This replaced the r8 round(double,12)
    * form after the round-9 sf1 oracle run caught it drifting ~7·10⁻¹²:
    * Spark's BigDecimal HALF_UP and DuckDB's multiply-round-divide
    * disagree on values an ulp from a .5 tie, and 50k nodes × ~20 rounds
    * of round() calls made a tie hit near-certain at sf1 while sf0.1
    * stayed green. Integer floor has no ties to disagree on.
    *
    * With `carryPrev` the output also keeps the incoming quanta as
    * `prev`, letting the convergence loop read max|Δ| off the SAME
    * materialized frame instead of re-joining the two iterates in a
    * second job per round (VERDICT r8 #2). The extra join is on the
    * already-shuffled doc_id key against the previous round's
    * checkpoint, so it rides the same exchange. */
  private[graft] def prStepBody(pr: DataFrame, edges: DataFrame,
      degn: DataFrame): DataFrame = {
    val contrib = pr
      .select(col("doc_id").as("src_id"), col("q"), col("deg"))
      .join(edges, col("src_id") === edges("src"))
      .select(edges("dst").as("doc_id"), expr("q div deg").as("c"))
      .groupBy("doc_id").agg(sum("c").as("sc"))
    degn.join(contrib, "doc_id")
      .select(col("doc_id"), col("deg"), col("n"),
        (expr(s"$PR_TELEPORT_Q div n")
          + expr("(17 * sc) div 20")).as("q"))
  }

  private def prStep(pr: DataFrame, edges: DataFrame,
      degn: DataFrame, round: Int, carryPrev: Boolean = false): DataFrame = {
    val stepped = prStepBody(pr, edges, degn)
    val out =
      if (!carryPrev) stepped
      else stepped.join(
          pr.select(col("doc_id").as("pdoc"), col("q").as("prev")),
          col("doc_id") === col("pdoc"))
        .drop("pdoc")
    // Lazy checkpoint + AMORTIZED STATS RESET (see Fixpoint for the r9
    // forensic and the r10 A/B): without any reset, inherited join-size
    // estimates compound per round and the carried second `pr`
    // reference makes the driver's stats BigInts double in digit count
    // every round — exponential planning time from ~round 17. Resetting
    // every round re-shuffles the already-partitioned state; every
    // RESET_EVERY rounds bounds the digits at ≤ 2^8·d₀ (planner
    // microseconds) and keeps the exchange-free round shape between.
    Fixpoint.checkpointRound(out, round)
  }

  /** The symmetrized graph: edge list + per-node degree/count table
    * (symmetrizing means every node has degree ≥ 1 — no dangling-mass
    * term).
    *
    * `p` is the pair list, already EAGERLY cut by the caller — the r11
    * degreeAssortativity lesson: the union references the pairs twice
    * inside the one job that materializes `edges`, so without the cut
    * the whole upstream jaccardPairs build (scan → shingle window →
    * pair self-join → aggregate) ran TWICE per q104/q158 invocation
    * (round-16 StageProbe: two 7 s-cpuSum pair-agg stages). Eager, not
    * lazy, because both branches sit in the same stage of the
    * materializing job and a lazy persist lets their tasks race-compute
    * the same source partitions (the measured degreeAssortativity A/B).
    * The in-process tier's gate reads the same cut, so the pairs are
    * materialized once whichever tier runs. */
  private[graft] def prGraph(p: DataFrame): (DataFrame, DataFrame) = {
    val edges = p.select(col("u").as("src"), col("v").as("dst"))
      .unionByName(p.select(col("v").as("src"), col("u").as("dst")))
      .cut(false)
    val deg0 = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val degn = deg0
      .crossJoin(broadcast(deg0.agg(count(lit(1)).as("n"))))
      .select(col("src").as("doc_id"), col("deg"), col("n"))
      .cut(false) // reused every iteration AND by the output
    (edges, degn)
  }

  private[graft] def prInit(degn: DataFrame): DataFrame =
    degn.select(col("doc_id"), col("deg"), col("n"),
      expr(s"$PR_Q div n").as("q"))

  /** Fixed-iteration damped PageRank — the unit-testable step semantics
    * (PipelineOpsSpec pins it against an independent local model). */
  private[graft] def pageRank(pairs: DataFrame, iters: Int): DataFrame = {
    val (edges, degn) = prGraph(pairs.cut())
    var pr = prInit(degn)
    for (i <- 1 to iters) pr = prStep(pr, edges, degn, i)
    pr
  }

  /** Convergence-based damped PageRank (VERDICT r7 #6): iterate until the
    * max quanta movement drops under the integer tolerance
    * PR_TOL_NUM_Q div n (~0.1% of the uniform score), fail loud at
    * PR_CAP — the Components `sig()` fixpoint discipline (1-row driver
    * check per round, lazy localCheckpoint keeps each round one job)
    * instead of a blind unrolled count. The stop rule is a deterministic
    * function of the (engine-identical) integer iterates, so the DuckDB
    * oracle reaches the SAME iteration by computing every round's delta
    * and selecting the first one under the same integer tolerance — no
    * recursion. An EXACT fixpoint stop would not terminate: the
    * quantized iteration settles into a few-quanta oscillation, which
    * is why the tolerance is relative and ≫ 1 quantum (max(1, …) guards
    * a pathological n > PR_TOL_NUM_Q where the floor would reach 0).
    *
    * Two tiers behind one gate: the pair list is cut once, and one
    * bounded collect (`LocalRank.collectBounded`) reads at most
    * `localMax` + 1 rows of that cut. If the whole list came back, the
    * loop runs in the driver and returns a LocalRelation (the in-process
    * tier, [[LocalRank]]); otherwise `prGraph` + [[converge2]] run over
    * the same cut (the distributed tier, one extra job for the gate).
    * The tiers' iterates, stop round and cap failure are bit-identical;
    * `localMax` = 0 forces the distributed tier. */
  private[graft] def pageRankConverged(pairs: DataFrame,
      cap: Int = PR_CAP,
      unroll: Option[Int] = None,
      localMax: Int = LocalRank.LocalMaxPairs): DataFrame = {
    val p = pairs.cut()
    LocalRank.collectBounded(p, localMax) match {
      case Some(rows) =>
        val g = new LocalRank.Graph(rows)
        g.frame(p, g.converge(g.ids.map(_ => true), cap, "pr"))
      case None =>
        val (edges, degn) = prGraph(p)
        val n = degn.select(col("n")).head().getLong(0) // p is non-empty
        val tolQ = math.max(1L, PR_TOL_NUM_Q / n)
        converge2(prInit(degn), prStepBody(_, edges, degn), tolQ, cap, "pr",
          unroll.getOrElse(convergeUnroll(pairs.sparkSession)), n)
    }
  }

  /** Rounds materialized per convergence job (round 13; was 2 since
    * round-10 session 2). The loops' cost is sequential-JOB latency,
    * not data — deeper unroll amortizes scheduling + AQE planning over
    * more rounds. 4 measured best at sf0.1 (see converge2 scaladoc for
    * the A/B); past that the per-job plan depth starts paying back.
    *
    * Configured via the Spark conf below (round 14, VERDICT r13 #4 —
    * the GRAFT_UNROLL env var was inconsistent with the layout knob
    * `spark.graft.bm25.sortedLayout` and invisible to a session
    * inspecting its own config; A/Bs set it per-JVM with
    * `-Dspark.graft.converge.unroll=N`, which SparkConf folds into the
    * session conf). An unusable value fails LOUDLY here (ADVICE r13):
    * the old parse let 0/negatives through to converge2's runtime
    * require while silently defaulting non-numeric strings — a typo'd
    * A/B must not quietly measure the default. */
  private[graft] val CONVERGE_UNROLL_KEY = "spark.graft.converge.unroll"
  private[graft] def convergeUnroll(s: SparkSession): Int = {
    // transition guard: the knob was the GRAFT_UNROLL env var through
    // round 13 — a harness still exporting it would otherwise silently
    // measure the default, the exact failure mode the fail-loud conf
    // parse exists to prevent.
    if (sys.env.contains("GRAFT_UNROLL")) throw new IllegalArgumentException(
      "GRAFT_UNROLL was replaced in round 14 — set the Spark conf " +
        s"$CONVERGE_UNROLL_KEY (e.g. -D$CONVERGE_UNROLL_KEY=N) instead")
    s.conf.getOption(CONVERGE_UNROLL_KEY) match {
      case None => 4
      case Some(v) => v.toIntOption.filter(_ >= 1).getOrElse(
        throw new IllegalArgumentException(
          s"$CONVERGE_UNROLL_KEY must be an integer >= 1, got '$v'"))
    }
  }

  /** The convergence driver, CONVERGE_UNROLL iterations per job
    * (round-10 session 2 introduced the 2-step unroll after the closing
    * profile put q104+q158 at ~40 s of a 216 s total — nearly all of it
    * sequential-round latency, not data; round 13 generalized it): one
    * job materializes rounds k+1 … k+s (each intermediate state is a
    * lazy localCheckpoint inside the same DAG — its RDD computes once
    * and both consumers of each step read the persisted partitions),
    * and ONE action reads ALL s deltas off the carried q0…q_{s-1}
    * columns. Stop semantics are IDENTICAL to the one-round loop — and
    * therefore to the oracle's first-round-under-tolerance selection:
    * deltas are checked in ROUND ORDER, so convergence at an interior
    * round returns that round's iterate (its column is carried
    * precisely for that). The per-job step count is clamped to
    * cap − k, so no round past the cap is ever requested and the
    * fail-loud cap triggers exactly where the single-step loop would
    * have thrown (the q104 discipline). Iterates are bit-identical
    * (same integer-quanta step body, merely composed), so the unroll
    * is invisible to every oracle.
    *
    * This is the DISTRIBUTED tier of q104/q158: their builders run it
    * only when the gate found more than `localMax` pairs; smaller graphs
    * take the in-process twin `LocalRank.Graph.converge`, which repeats
    * this loop's arithmetic, stop rule and cap failure in the driver.
    * Both tiers log one INFO line per loop ([[logConverged]]), the only
    * use of `nodes`. */
  private def converge2(init: DataFrame, stepBody: DataFrame => DataFrame,
      tolQ: Long, cap: Int, tag: String, unroll: Int,
      nodes: Long): DataFrame = {
    require(unroll >= 1, s"$tag: unroll must be >= 1, got $unroll")
    var pr = init
    var k = 0
    var delta = Long.MaxValue
    while (delta > tolQ) {
      if (k + 1 > cap) throw capExceeded(tag, cap, delta, tolQ)
      val steps = math.min(unroll, cap - k) // ≥ 1 by the guard
      // inter(0) = carried state (round k); inter(i), i ≥ 1 = round k+i,
      // lazily checkpointed; the round k+steps output stays in-plan (the
      // carried-frame checkpoint below owns its materialization).
      val inter = new Array[DataFrame](steps)
      inter(0) = pr
      for (i <- 1 until steps)
        inter(i) = stepBody(inter(i - 1)).cut(false)
      var joined = stepBody(inter(steps - 1))
      for (i <- 0 until steps)
        joined = joined
          .join(inter(i).select(col("doc_id").as(s"p$i"),
            col("q").as(s"q$i")), col("doc_id") === col(s"p$i"))
          .drop(s"p$i")
      // stride-aware reset (ADVICE r13): rounds advance by `steps` per
      // job, so the reset must fire on CROSSING a RESET_EVERY multiple,
      // not on landing on one — unroll values that don't divide
      // RESET_EVERY would otherwise amortize over lcm(unroll, 8) rounds.
      val out = Fixpoint.checkpointRound(joined, k + steps, k)
      // d_i = max |q_i − q_{i−1}| for i = 1…steps (q_steps is "q").
      val aggs = (1 to steps).map { i =>
        val hi = if (i == steps) col("q") else col(s"q$i")
        max(abs(hi - col(s"q${i - 1}")))
      }
      val row = out.agg(aggs.head, aggs.tail: _*).head()
      val ds = (0 until steps).map(row.getLong)
      val carried = (0 until steps).map(i => s"q$i")
      val firstOk = ds.indexWhere(_ <= tolQ) // 0-based: round k+firstOk+1
      if (firstOk >= 0) {
        delta = ds(firstOk); k += firstOk + 1
        pr =
          if (firstOk + 1 == steps) out.drop(carried: _*)
          else out.withColumn("q", col(s"q${firstOk + 1}"))
            .drop(carried: _*)
      } else {
        delta = ds.last; k += steps
        pr = out.drop(carried: _*)
      }
    }
    logConverged(tag, "distributed", nodes, k, delta, tolQ)
    pr
  }

  /** The fail-loud cap of both PageRank tiers — one message, so a cap
    * failure reads the same whichever tier ran. */
  private[queries] def capExceeded(tag: String, cap: Int, delta: Long,
      tolQ: Long): IllegalStateException = new IllegalStateException(
    s"$tag failed to converge within $cap iterations " +
      s"(delta=$delta quanta, tol=$tolQ) — raise the cap or loosen " +
      "the tolerance")

  /** One INFO line per converged PageRank loop: which tier ran, over how
    * many nodes, the round it stopped at and that round's max |Δ|. */
  private[queries] def logConverged(tag: String, tier: String, nodes: Long,
      round: Int, delta: Long, tolQ: Long): Unit =
    org.slf4j.LoggerFactory.getLogger(getClass).info(
      s"$tag: $tier tier converged over $nodes nodes at round $round " +
        s"(delta=$delta quanta, tol=$tolQ)")

  /** q158's fail-loud seedless case, shared by both tiers. */
  private def noSeeds(): IllegalStateException = new IllegalStateException(
    s"personalized pagerank: no seed nodes (doc_id % $PPR_SEED_MOD == 0) " +
      "in the similarity graph — the teleport vector is undefined")

  /** q158: the PPR node table — prGraph's degn extended with the seed
    * indicator and the (broadcast) seed count. Fails loud on a seedless
    * graph: with |S| = 0 the teleport vector is undefined, and silently
    * returning the all-zero fixpoint would look like a result. */
  private def pprGraph(p: DataFrame): (DataFrame, DataFrame) = {
    val (edges, degn) = prGraph(p)
    val seeded = degn.withColumn("seed",
      (pmod(col("doc_id"), lit(PPR_SEED_MOD)) === 0).cast("long"))
    val degns = seeded
      .crossJoin(broadcast(seeded.agg(sum("seed").as("ns"))))
      .cut(false) // reused every round AND by the output
    (edges, degns)
  }

  /** One PPR iteration in the q104 integer quanta: teleport mass lands
    * ONLY on seeds ((0.15·10¹²) div |S| each); the contribution term is
    * identical to prStep except the join back to the node table is LEFT
    * (pre-convergence, nodes beyond wave k have q = 0 and a node whose
    * whole neighborhood is still at 0 receives no contribution rows —
    * q104's uniform init never has this frontier). */
  private def pprStepBody(pr: DataFrame, edges: DataFrame,
      degns: DataFrame): DataFrame = {
    val contrib = pr
      .select(col("doc_id").as("src_id"), col("q"), col("deg"))
      .join(edges, col("src_id") === edges("src"))
      .select(edges("dst").as("doc_id"), expr("q div deg").as("c"))
      .groupBy("doc_id").agg(sum("c").as("sc"))
    degns.join(contrib, Seq("doc_id"), "left")
      .select(col("doc_id"), col("deg"), col("n"), col("seed"), col("ns"),
        (expr(s"CASE WHEN seed = 1 THEN $PR_TELEPORT_Q div ns ELSE 0 END")
          + expr("(17 * coalesce(sc, 0L)) div 20")).as("q"))
  }

  /** Convergence-based PPR — q104's loop discipline verbatim (carried
    * prev, one action per round, amortized checkpoint stats reset,
    * fail-loud cap), over the seeded teleport vector, behind the same
    * two-tier gate as [[pageRankConverged]]. */
  private[graft] def pprConverged(pairs: DataFrame,
      cap: Int = PPR_CAP,
      unroll: Option[Int] = None,
      localMax: Int = LocalRank.LocalMaxPairs): DataFrame = {
    val p = pairs.cut()
    LocalRank.collectBounded(p, localMax) match {
      case Some(rows) =>
        val g = new LocalRank.Graph(rows)
        val seed = g.ids.map(id => Math.floorMod(id, PPR_SEED_MOD) == 0L)
        if (g.ids.nonEmpty && !seed.contains(true)) throw noSeeds()
        g.frame(p, g.converge(seed, cap, "ppr"), Some(seed))
      case None => pprDistributed(p, cap, unroll)
    }
  }

  private def pprDistributed(p: DataFrame, cap: Int,
      unroll: Option[Int]): DataFrame = {
    val (edges, degns) = pprGraph(p)
    val head = degns.select(col("n"), col("ns")).head() // p is non-empty
    val pr = degns.select(col("doc_id"), col("deg"), col("n"),
      col("seed"), col("ns"),
      expr(s"CASE WHEN seed = 1 THEN $PR_Q div ns ELSE 0L END").as("q"))
    if (head.getLong(1) == 0L) throw noSeeds()
    // Tolerance relative to the PER-SEED mass scale 1/|S|, not q104's
    // uniform 1/n: PPR scores concentrate near the seed set (a typical
    // seed holds ~0.15/|S| at the fixpoint), so 1/n-relative stopping
    // would demand |S|/n× more precision than the scores carry — and
    // since Δ₀ ≈ 1/|S| too, it would cost ~log(n/|S|)/log(1/0.85) EXTRA
    // rounds at every scale (measured: 57 rounds vs 42 at sf0.01; ~99 —
    // past any reasonable cap — at sf1's n/|S| ≈ 10 with n = 52k).
    // 1/|S|-relative keeps both the relative precision AND the round
    // count scale-stable (mixing-bound, like q104's).
    val tolQ = math.max(1L, PR_TOL_NUM_Q / head.getLong(1))
    converge2(pr, pprStepBody(_, edges, degns), tolQ, cap, "ppr",
      unroll.getOrElse(convergeUnroll(p.sparkSession)), head.getLong(0))
  }

  /** q29/q65 shared CTE chain: df-capped exact-Jaccard pairs, ending in
    * `jpairs(da, db, jaccard)` — the SQL twin of `jaccardPairs`. */
  /** The q27 candidate chain (shingles → minhash bands → capped buckets →
    * per-doc top-8 → `pairs(da, db)`) — shared by q27's oracle and q130's
    * eval harness. CTE names are disjoint from JPAIRS_CTES so the two
    * chains compose in one WITH. */
  private lazy val MH_CAND_CTES =
    s"""$SH_CTE,
       |mhc(j, a, b) AS (VALUES
       | ${(0 until 16).map(j => s"(${j}, ${mhA(j)}, ${mhB(j)})").mkString(",\n ")}),
       |shb AS (
       | SELECT doc_id, sh,
       |  CAST('0x' || substr(md5(sh), 1, 8) AS BIGINT) AS hb
       | FROM sh),
       |mh AS (
       | SELECT doc_id, c.j AS band, MIN((c.a * hb + c.b) % $MH_P) AS mh
       | FROM shb CROSS JOIN mhc c
       | GROUP BY doc_id, c.j),
       |bsz AS (
       | SELECT band, mh FROM mh GROUP BY band, mh
       | HAVING COUNT(*) BETWEEN 2 AND 20),
       |mem AS (SELECT m.* FROM mh m JOIN bsz USING (band, mh)),
       |coll AS (
       | SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS bo
       | FROM mem a JOIN mem b
       |   ON a.band = b.band AND a.mh = b.mh AND a.doc_id < b.doc_id
       | GROUP BY a.doc_id, b.doc_id),
       |perdoc AS (
       | SELECT da AS doc_id, db AS other, bo FROM coll
       | UNION ALL SELECT db, da, bo FROM coll),
       |top8 AS (
       | SELECT doc_id, other FROM (
       |  SELECT doc_id, other,
       |   ROW_NUMBER() OVER (PARTITION BY doc_id
       |                      ORDER BY bo DESC, other) AS rc
       |  FROM perdoc) WHERE rc <= 8),
       |pairs AS (
       | SELECT DISTINCT least(doc_id, other) AS da,
       |  greatest(doc_id, other) AS db FROM top8)""".stripMargin

  /** q143/q174 shared oracle CTE block: the word-frequency t0 plus
    * BPE_ROUNDS unrolled merge rounds — ends in t$BPE_ROUNDS (the final
    * per-word symbol state, q174's encoding) and best1..bestN (the
    * merge-table rows q143 unions). */
  private val BPE_CTES: String = {
    val roundCtes = (1 to BPE_ROUNDS).map { r =>
      val p = r - 1
      s"""p$r AS MATERIALIZED (
         | SELECT wid, pos, sym, wf,
         |  LEAD(sym) OVER (PARTITION BY wid ORDER BY pos) AS nxt
         | FROM t$p),
         |best$r AS MATERIALIZED (
         | SELECT sym AS a, nxt AS b, CAST(SUM(wf) AS BIGINT) AS cnt
         | FROM p$r WHERE nxt IS NOT NULL
         | GROUP BY 1, 2 ORDER BY cnt DESC, a, b LIMIT 1),
         |k$r AS MATERIALIZED (
         | SELECT wid, pos FROM (
         |  SELECT wid, pos,
         |   pos - MIN(pos) OVER (PARTITION BY wid, grp) AS off
         |  FROM (
         |   SELECT m.wid, m.pos,
         |    m.pos - ROW_NUMBER() OVER (PARTITION BY m.wid
         |                               ORDER BY m.pos) AS grp
         |   FROM p$r m JOIN best$r b ON m.sym = b.a AND m.nxt = b.b))
         | WHERE off % 2 = 0),
         |t$r AS MATERIALIZED (
         | SELECT wid,
         |  ROW_NUMBER() OVER (PARTITION BY wid ORDER BY opos) - 1 AS pos,
         |  sym, wf
         | FROM (
         |  SELECT t.wid, t.pos AS opos,
         |   CASE WHEN k.pos IS NOT NULL
         |        THEN (SELECT a || b FROM best$r) ELSE t.sym END AS sym,
         |   t.wf
         |  FROM t$p t
         |  LEFT JOIN k$r k ON t.wid = k.wid AND t.pos = k.pos
         |  LEFT JOIN k$r kp ON t.wid = kp.wid AND t.pos = kp.pos + 1
         |  WHERE kp.pos IS NULL))"""
    }.mkString(",\n")
    s"""toksw AS (
       | SELECT unnest(string_split(text, ' ')) AS w FROM documents),
       |wfreq AS MATERIALIZED (
       | SELECT w, COUNT(*) AS wf FROM toksw
       | WHERE length(w) >= 2 GROUP BY w),
       |t0 AS MATERIALIZED (
       | SELECT w AS wid, CAST(i - 1 AS BIGINT) AS pos,
       |  substr(w, CAST(i AS INT), 1) AS sym, wf
       | FROM (SELECT w, wf,
       |        unnest(generate_series(1, length(w))) AS i
       |       FROM wfreq)),
       |$roundCtes""".stripMargin
  }

  /** The langidConfusion twin in DuckDB — ends in
    * `langcm(lang, predicted, n)`. Shared by the q30/q170 oracles; the
    * stopword gate is the same tie-free integer multiply-compare as the
    * Spark helper. */
  private val LANGID_CM_CTE =
    """langcm AS (
      | SELECT lang,
      |  CASE WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
      |       WHEN len(list_intersect(string_split(text,' '),
      |              ['the','a','and','of','to','in','is'])) * 2000000
      |            >= 39999 * len(string_split(text,' ')) THEN 'en'
      |       ELSE 'unknown' END AS predicted,
      |  COUNT(*) AS n
      | FROM documents GROUP BY 1, 2)""".stripMargin

  /** The qualityScored twin in DuckDB — ends in
    * `qscore(doc_id, lang, source, n_tokens, n_chars, n_stop, n_dig,
    * sw_u, dg_u, atl_u, score_u)`. ONE definition shared by the
    * q31/q168/q169 oracles, mirroring the ONE Spark helper; `//` is
    * DuckDB's flooring integer division ≡ Spark's truncating `div` on
    * these positive operands. */
  private val QUALITY_U_CTES =
    """qbase AS (
      | SELECT doc_id, lang, source,
      |  len(string_split(text,' ')) AS n_tokens,
      |  length(text) AS n_chars,
      |  len(list_intersect(string_split(text,' '),
      |      ['the','a','and','of','to','in','is'])) AS n_stop,
      |  length(text) - length(regexp_replace(text,'[0-9]','','g')) AS n_dig
      | FROM documents),
      |qu AS (
      | SELECT *,
      |  (n_stop * 2000000 + n_tokens) // (2 * n_tokens) AS sw_u,
      |  (n_dig * 2000000 + n_chars) // (2 * n_chars) AS dg_u,
      |  ((n_chars - n_tokens + 1) * 2000000 + n_tokens) // (2 * n_tokens)
      |    AS atl_u
      | FROM qbase),
      |qscore AS (
      | SELECT *,
      |  ((CASE WHEN n_tokens >= 50 THEN 500000000
      |         ELSE n_tokens * 10000000 END
      |    + (1000000 - dg_u) * 300
      |    + LEAST(sw_u * 10, 1000000) * 200) + 500) // 1000 AS score_u
      | FROM qu)""".stripMargin

  private val JPAIRS_CTES =
    """raw AS (
      | SELECT DISTINCT doc_id, sh FROM (
      |  SELECT doc_id,
      |   unnest(list_transform(
      |     range(1, greatest(len(string_split(text,' ')) - 2, 0) + 1),
      |     i -> string_split(text,' ')[i] || ' ' ||
      |          string_split(text,' ')[i+1] || ' ' ||
      |          string_split(text,' ')[i+2])) AS sh
      |  FROM documents)),
      |dfok AS (SELECT sh FROM raw GROUP BY sh HAVING COUNT(*) <= 1000),
      |shc AS (SELECT doc_id, raw.sh FROM raw JOIN dfok USING (sh)),
      |sizes AS (SELECT doc_id, COUNT(*) AS nsh FROM shc GROUP BY doc_id),
      |shared AS (
      | SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS shared
      | FROM shc a JOIN shc b ON a.sh = b.sh AND a.doc_id < b.doc_id
      | GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |jpairs AS (
      | SELECT da, db,
      |  ROUND(CAST(shared AS DOUBLE) / (na.nsh + nb.nsh - shared), 6)
      |    AS jaccard
      | FROM shared
      | JOIN sizes na ON shared.da = na.doc_id
      | JOIN sizes nb ON shared.db = nb.doc_id
      | WHERE ROUND(CAST(shared AS DOUBLE) / (na.nsh + nb.nsh - shared), 6)
      |       >= 0.05)""".stripMargin

  /** Shared distinct-shingle CTE (uncapped — q27's universe; also the
    * q123 oracle's posting universe). */
  private[queries] val SH_CTE =
    """sh AS (
      | SELECT DISTINCT doc_id, sh FROM (
      |  SELECT doc_id,
      |   unnest(list_transform(
      |     range(1, greatest(len(string_split(text,' ')) - 2, 0) + 1),
      |     i -> string_split(text,' ')[i] || ' ' ||
      |          string_split(text,' ')[i+1] || ' ' ||
      |          string_split(text,' ')[i+2])) AS sh
      |  FROM documents))""".stripMargin

  /** Per-doc 48-bit SimHash fingerprint CTE (ends in `fp(doc_id, fp)`) —
    * the SQL rebuild of SimHashAgg's bit votes over h48 token hashes. */
  private val SIMHASH_FP_CTES =
    """toks AS (
      | SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      | FROM documents),
      |th AS (
      | SELECT doc_id,
      |  CAST('0x' || substr(md5('t:' || tok), 1, 12) AS BIGINT) AS h
      | FROM toks),
      |votes AS (
      | SELECT doc_id, b.b AS bit,
      |  SUM(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS net
      | FROM th CROSS JOIN range(48) b(b)
      | GROUP BY doc_id, b.b),
      |fp AS (
      | SELECT doc_id,
      |  CAST(SUM(CASE WHEN net > 0 THEN (1::BIGINT << bit) ELSE 0 END)
      |       AS BIGINT) AS fp
      | FROM votes GROUP BY doc_id)""".stripMargin

  def oracles: Map[String, String] = Map(
    // q176: positional (NOT deduplicated) k-gram hashes, the same
    // h32·2³⁰+pos key packing, window min over ROWS BETWEEN CURRENT ROW
    // AND ${WINNOW_W − 1} FOLLOWING, full windows only. W and the shift
    // are interpolated from the shared constants.
    "q176_winnowing_fingerprints" ->
      s"""WITH toks AS (
         | SELECT doc_id, lang, string_split(text, ' ') AS t
         | FROM documents),
         |ps AS (
         | SELECT doc_id, i AS pos,
         |  t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
         | FROM (SELECT doc_id, t,
         |        unnest(range(1, greatest(len(t) - 2, 0) + 1)) AS i
         |       FROM toks)),
         |h AS (
         | SELECT doc_id, pos,
         |  CAST('0x' || substr(md5(sh), 1, 8) AS BIGINT)
         |    * $WINNOW_SHIFT + pos AS key
         | FROM ps),
         |n AS (SELECT doc_id, COUNT(*) AS nsh FROM h GROUP BY doc_id),
         |w AS (
         | SELECT doc_id, pos,
         |  MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
         |    ROWS BETWEEN CURRENT ROW AND ${WINNOW_W - 1} FOLLOWING) AS mk
         | FROM h),
         |fps AS (
         | SELECT DISTINCT w.doc_id, mk FROM w JOIN n USING (doc_id)
         | WHERE w.pos + ${WINNOW_W - 1} <= n.nsh),
         |fph AS (SELECT doc_id, mk // $WINNOW_SHIFT AS fp FROM fps),
         |df AS (SELECT fp, COUNT(DISTINCT doc_id) AS nd
         |       FROM fph GROUP BY fp),
         |perdoc AS (
         | SELECT doc_id, COUNT(*) AS n_fps,
         |  CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_shared_fps
         | FROM fph JOIN df USING (fp) GROUP BY doc_id)
         |SELECT d.doc_id, d.lang,
         | COALESCE(n.nsh, 0) AS n_kgrams,
         | COALESCE(p.n_fps, 0) AS n_fps,
         | COALESCE(p.n_shared_fps, 0) AS n_shared_fps
         |FROM documents d
         |LEFT JOIN n ON d.doc_id = n.doc_id
         |LEFT JOIN perdoc p ON d.doc_id = p.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    "q114_incremental_dedup" ->
      s"""WITH $SIMHASH_FP_CTES,
         |cb AS (
         | SELECT doc_id, fp, t.b AS band, (fp >> (t.b * 16)) & 65535 AS sig
         | FROM fp CROSS JOIN range(3) t(b) WHERE doc_id % 5 <> 0),
         |csz AS (
         | SELECT band, sig FROM cb GROUP BY band, sig
         | HAVING COUNT(*) <= 20),
         |idx AS (SELECT cb.* FROM cb JOIN csz USING (band, sig)),
         |bb AS (
         | SELECT doc_id AS batch_id, fp AS bfp, t.b AS band,
         |  (fp >> (t.b * 16)) & 65535 AS sig
         | FROM fp CROSS JOIN range(3) t(b) WHERE doc_id % 5 = 0),
         |hits AS (
         | SELECT DISTINCT b.batch_id, i.doc_id AS corpus_id,
         |  CAST(bit_count(xor(b.bfp, i.fp)) AS BIGINT) AS hamming
         | FROM bb b JOIN idx i ON b.band = i.band AND b.sig = i.sig
         | WHERE CAST(bit_count(xor(b.bfp, i.fp)) AS BIGINT) <= 16),
         |agg AS (
         | SELECT batch_id, COUNT(DISTINCT corpus_id) AS nd,
         |  MIN(corpus_id) AS dup_of, MIN(hamming) AS min_hamming
         | FROM hits GROUP BY batch_id)
         |SELECT d.doc_id,
         | CAST(COALESCE(a.nd, 0) AS BIGINT) AS n_corpus_dups,
         | a.dup_of, a.min_hamming,
         | CAST(CASE WHEN a.nd IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) d
         |LEFT JOIN agg a ON d.doc_id = a.batch_id
         |ORDER BY d.doc_id""".stripMargin,

    "q27_minhash_near_dup" ->
      s"""WITH $MH_CAND_CTES,
         |sizes AS (SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY doc_id),
         |shared AS (
         | SELECT p.da, p.db, COUNT(*) AS shared
         | FROM pairs p
         | JOIN sh sa ON sa.doc_id = p.da
         | JOIN sh sb ON sb.doc_id = p.db AND sb.sh = sa.sh
         | GROUP BY p.da, p.db),
         |verified AS (
         | SELECT s.da, s.db,
         |  ROUND(CAST(s.shared AS DOUBLE)
         |        / (na.nsh + nb.nsh - s.shared), 6) AS jaccard
         | FROM shared s
         | JOIN sizes na ON s.da = na.doc_id
         | JOIN sizes nb ON s.db = nb.doc_id),
         |orient AS (
         | SELECT da AS doc_id, db AS other, jaccard FROM verified
         | UNION ALL SELECT db, da, jaccard FROM verified)
         |SELECT doc_id, other AS best_match, jaccard FROM (
         | SELECT doc_id, other, jaccard,
         |  ROW_NUMBER() OVER (PARTITION BY doc_id
         |                     ORDER BY jaccard DESC, other) AS rn
         | FROM orient) WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "q28_simhash" ->
      s"""WITH $SIMHASH_FP_CTES
         |SELECT doc_id, fp AS simhash FROM fp ORDER BY doc_id""".stripMargin,

    "q54_simhash_near_dup" ->
      s"""WITH $SIMHASH_FP_CTES,
         |bands AS (
         | SELECT doc_id, fp, t.b AS band, (fp >> (t.b * 16)) & 65535 AS sig
         | FROM fp CROSS JOIN range(3) t(b)),
         |bsz AS (
         | SELECT band, sig FROM bands GROUP BY band, sig
         | HAVING COUNT(*) BETWEEN 2 AND 20),
         |mem AS (SELECT b.* FROM bands b JOIN bsz USING (band, sig)),
         |cand AS (
         | SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
         |  CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
         | FROM mem a JOIN mem b
         |   ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id)
         |SELECT da, db, hamming FROM cand
         |WHERE hamming <= 16 ORDER BY da, db""".stripMargin,
    "q24_text_stats" ->
      """SELECT lang, source, COUNT(*) AS n_docs,
        | ROUND(SUM(len(string_split(text,' '))) / COUNT(*), 6) AS avg_tokens,
        | ROUND(SUM(length(text)) / COUNT(*), 6) AS avg_chars,
        | MAX(len(string_split(text,' '))) AS max_tokens
        |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin,

    "q25_exact_dedup" ->
      """SELECT source, COUNT(*) AS n_docs,
        | COUNT(DISTINCT md5(lower(trim(text)))) AS n_distinct,
        | COUNT(*) - COUNT(DISTINCT md5(lower(trim(text)))) AS n_dup_docs
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "q26_dedup_groups" ->
      """SELECT md5(lower(trim(text))) AS h, COUNT(*) AS n_copies,
        | MIN(doc_id) AS canonical_id
        |FROM documents GROUP BY 1 HAVING COUNT(*) > 1 ORDER BY h""".stripMargin,

    "q29_jaccard_pairs" ->
      s"""WITH $JPAIRS_CTES
         |SELECT da, db, jaccard FROM jpairs ORDER BY da, db""".stripMargin,

    // Candidate chain + truth chain composed in one WITH (disjoint CTE
    // names by construction), then the threshold sweep.
    "q130_dedup_quality" ->
      s"""WITH $MH_CAND_CTES,
         |$JPAIRS_CTES,
         |thr(threshold) AS (VALUES (CAST(0.3 AS DOUBLE)),
         | (CAST(0.5 AS DOUBLE)), (CAST(0.7 AS DOUBLE)),
         | (CAST(0.9 AS DOUBLE))),
         |ct AS (
         | SELECT j.jaccard, (p.da IS NOT NULL) AS isc
         | FROM jpairs j LEFT JOIN pairs p ON j.da = p.da AND j.db = p.db),
         |nc AS (SELECT COUNT(*) AS n_cand FROM pairs),
         |m AS (
         | SELECT t.threshold, COUNT(*) AS n_truth,
         |  COUNT(*) FILTER (WHERE isc) AS n_hit
         | FROM thr t JOIN ct ON ct.jaccard >= t.threshold
         | GROUP BY t.threshold)
         |SELECT m.threshold, m.n_truth, nc.n_cand, m.n_hit,
         | ROUND(CAST(m.n_hit AS DOUBLE) / nc.n_cand, 6) AS "precision",
         | ROUND(CAST(m.n_hit AS DOUBLE) / m.n_truth, 6) AS recall
         |FROM m, nc ORDER BY m.threshold""".stripMargin,

    "q82_unigram_logprob" ->
      """WITH toks AS (
        | SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        | FROM documents),
        |freq AS (SELECT tok, COUNT(*) AS tf FROM toks GROUP BY tok),
        |tot AS (SELECT SUM(tf) AS tot FROM freq),
        |lp AS (
        | SELECT tok,
        |  CAST(ln(CAST(tf AS DOUBLE)) - ln(CAST(tot AS DOUBLE))
        |    AS DECIMAL(28,12)) AS lp
        | FROM freq, tot)
        |SELECT t.doc_id, t.lang, COUNT(*) AS n_toks,
        | ROUND(CAST(SUM(l.lp) AS DOUBLE) / COUNT(*), 4) AS avg_logprob
        |FROM toks t JOIN lp l USING (tok)
        |GROUP BY t.doc_id, t.lang ORDER BY t.doc_id""".stripMargin,

    "q179_bigram_logprob" ->
      """WITH t AS (
        | SELECT doc_id, lang, string_split(text, ' ') AS toks
        | FROM documents),
        |big AS MATERIALIZED (
        | SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |    i -> struct_pack(w1 := toks[i], w2 := toks[i + 1]))) AS bg
        |  FROM t)),
        |cbi AS (SELECT w1, w2, COUNT(*) AS cbi FROM big GROUP BY 1, 2),
        |ch AS (SELECT w1, SUM(cbi) AS ch FROM cbi GROUP BY 1),
        |cu AS (SELECT tok AS w2, COUNT(*) AS cu FROM (
        |  SELECT unnest(toks) AS tok FROM t) GROUP BY 1),
        |tot AS (SELECT SUM(len(toks)) AS tot FROM t),
        |lp AS (
        | SELECT w1, w2,
        |  CAST(ln(0.75 * CAST(cbi AS DOUBLE) / CAST(ch AS DOUBLE)
        |        + 0.25 * CAST(cu AS DOUBLE) / CAST(tot AS DOUBLE))
        |    AS DECIMAL(28,12)) AS lp
        | FROM cbi JOIN ch USING (w1) JOIN cu USING (w2) CROSS JOIN tot),
        |per AS (
        | SELECT b.doc_id, COUNT(*) AS n_bigrams,
        |  ROUND(CAST(SUM(l.lp) AS DOUBLE) / COUNT(*), 4) AS avg_logprob
        | FROM big b JOIN lp l USING (w1, w2) GROUP BY 1)
        |SELECT d.doc_id, d.lang, COALESCE(p.n_bigrams, 0) AS n_bigrams,
        | p.avg_logprob
        |FROM documents d LEFT JOIN per p USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    "q84_sequence_packing" ->
      """WITH t AS (
        | SELECT doc_id, lang,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        | FROM documents),
        |c AS (
        | SELECT lang, n_tok,
        |  SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
        |    ROWS UNBOUNDED PRECEDING) AS cum
        | FROM t)
        |SELECT lang, CAST(FLOOR((cum - n_tok) / 512.0) AS BIGINT) AS bin,
        | COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS total_toks
        |FROM c GROUP BY 1, 2 ORDER BY lang, bin""".stripMargin,

    "q85_repetition" ->
      s"""WITH $SH_CTE,
         |dist AS (SELECT doc_id, COUNT(*) AS n_distinct FROM sh
         |         GROUP BY doc_id),
         |base AS (
         | SELECT doc_id, lang,
         |  CAST(greatest(len(string_split(text, ' ')) - 2, 0) AS BIGINT)
         |    AS n_shingles
         | FROM documents)
         |SELECT b.doc_id, b.lang, b.n_shingles,
         | CAST(COALESCE(d.n_distinct, 0) AS BIGINT) AS n_distinct,
         | CASE WHEN b.n_shingles > 0 THEN
         |  ROUND(1.0 - CAST(COALESCE(d.n_distinct, 0) AS DOUBLE)
         |    / b.n_shingles, 6) END AS dup_ratio
         |FROM base b LEFT JOIN dist d ON d.doc_id = b.doc_id
         |ORDER BY b.doc_id""".stripMargin,

    "q83_source_mix" ->
      """WITH agg AS (
        | SELECT source, lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
        | FROM documents GROUP BY source, lang)
        |SELECT source, lang, n_docs, total_chars,
        | ROUND(CAST(n_docs AS DOUBLE) / SUM(n_docs) OVER (), 6)
        |   AS doc_share
        |FROM agg ORDER BY source, lang""".stripMargin,

    "q81_decontamination" ->
      s"""WITH $JPAIRS_CTES,
         |assign AS (
         | SELECT doc_id,
         |  CASE WHEN CAST('0x' || substr(md5('split:' ||
         |         CAST(doc_id AS VARCHAR)), 1, 12) AS BIGINT) % 100 < 80
         |       THEN 'train'
         |       WHEN CAST('0x' || substr(md5('split:' ||
         |         CAST(doc_id AS VARCHAR)), 1, 12) AS BIGINT) % 100 < 90
         |       THEN 'val' ELSE 'test' END AS split
         | FROM documents),
         |oriented AS (
         | SELECT
         |  CASE WHEN sa.split = 'train' THEN j.db ELSE j.da END AS eval_id,
         |  CASE WHEN sa.split = 'train' THEN sb.split ELSE sa.split END
         |    AS split,
         |  CASE WHEN sa.split = 'train' THEN j.da ELSE j.db END AS train_id,
         |  j.jaccard
         | FROM jpairs j
         | JOIN assign sa ON sa.doc_id = j.da
         | JOIN assign sb ON sb.doc_id = j.db
         | WHERE (sa.split = 'train') <> (sb.split = 'train')
         |  AND j.jaccard >= 0.2),
         |ranked AS (
         | SELECT *, ROW_NUMBER() OVER (PARTITION BY eval_id
         |    ORDER BY jaccard DESC, train_id) AS rk
         | FROM oriented)
         |SELECT eval_id, split, train_id, jaccard FROM ranked
         |WHERE rk = 1 ORDER BY eval_id""".stripMargin,

    "q65_dedup_clusters" ->
      s"""WITH RECURSIVE $JPAIRS_CTES,
         |und AS (
         | SELECT da AS u, db AS v FROM jpairs
         | UNION ALL SELECT db, da FROM jpairs),
         |nodes AS (SELECT DISTINCT u AS doc_id FROM und),
         |reach AS (
         | SELECT doc_id AS u, doc_id AS label FROM nodes
         | UNION
         | SELECT e.v, r.label FROM reach r JOIN und e ON e.u = r.u)
         |SELECT u AS doc_id, MIN(label) AS cluster_id FROM reach
         |GROUP BY u ORDER BY doc_id""".stripMargin,

    // q65's closure chain + q31's integer quality chain; the argmax is
    // a window ranked (score_u DESC, doc_id) so the tie rule is total
    "q181_dedup_canonical" ->
      s"""WITH RECURSIVE $JPAIRS_CTES,
         |und AS (
         | SELECT da AS u, db AS v FROM jpairs
         | UNION ALL SELECT db, da FROM jpairs),
         |nodes AS (SELECT DISTINCT u AS doc_id FROM und),
         |reach AS (
         | SELECT doc_id AS u, doc_id AS label FROM nodes
         | UNION
         | SELECT e.v, r.label FROM reach r JOIN und e ON e.u = r.u),
         |labels AS (
         | SELECT u AS doc_id, MIN(label) AS cluster_id FROM reach
         | GROUP BY u),
         |$QUALITY_U_CTES,
         |m AS (
         | SELECT l.cluster_id, l.doc_id, q.score_u
         | FROM labels l JOIN qscore q USING (doc_id)),
         |ranked AS (
         | SELECT cluster_id, doc_id, score_u,
         |  ROW_NUMBER() OVER (PARTITION BY cluster_id
         |    ORDER BY score_u DESC, doc_id) AS rk
         | FROM m),
         |cn AS (SELECT cluster_id, COUNT(*) AS n_members FROM m GROUP BY 1)
         |SELECT r.cluster_id, cn.n_members, r.doc_id AS keep_doc_id,
         | CAST(r.score_u AS DOUBLE) / 1000000.0 AS keep_score,
         | cn.n_members - 1 AS n_dropped
         |FROM ranked r JOIN cn USING (cluster_id)
         |WHERE r.rk = 1 ORDER BY r.cluster_id""".stripMargin,

    // independent formulation on purpose: the oracle enumerates each
    // triangle as its unique u<v<w edge triple (no degrees anywhere),
    // so a bug in the engine's η-orientation bookkeeping cannot be
    // mirrored here
    "q148_triangle_count" ->
      s"""WITH $JPAIRS_CTES,
         |e AS (SELECT da AS u, db AS v FROM jpairs),
         |tri AS (
         | SELECT e1.u AS a, e1.v AS b, e2.v AS c
         | FROM e e1
         | JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
         | JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v),
         |corners AS (
         | SELECT a AS doc_id FROM tri
         | UNION ALL SELECT b FROM tri
         | UNION ALL SELECT c FROM tri)
         |SELECT doc_id, COUNT(*) AS n_tri FROM corners
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // unrolled parallel peeling, KCORE_CAP rounds: each round keeps the
    // edges whose BOTH endpoints currently have degree >= k. Peeling is
    // idempotent at its fixpoint, so unrolling past convergence is a
    // no-op and the final round IS the answer — no stop-round selection
    // (q104's oracle needs one because pagerank iterates never stop
    // changing). The Spark side fails loudly past the same cap, so it
    // can never have peeled deeper than this oracle.
    "q149_kcore" -> {
      val rounds = (1 to KCORE_CAP).map { i =>
        s"""alive$i AS MATERIALIZED (
           | SELECT u AS x FROM (
           |  SELECT u, COUNT(*) AS d FROM (
           |   SELECT u, v FROM e${i - 1}
           |   UNION ALL SELECT v AS u, u AS v FROM e${i - 1}) und$i
           |  GROUP BY u) deg$i
           | WHERE d >= $KCORE_K),
           |e$i AS MATERIALIZED (
           | SELECT e.u, e.v FROM e${i - 1} e
           | JOIN alive$i a ON e.u = a.x
           | JOIN alive$i b ON e.v = b.x)"""
      }.mkString(",\n")
      s"""WITH $JPAIRS_CTES,
         |e0 AS MATERIALIZED (SELECT da AS u, db AS v FROM jpairs),
         |$rounds
         |SELECT u AS doc_id, COUNT(*) AS core_deg FROM (
         | SELECT u, v FROM e$KCORE_CAP
         | UNION ALL SELECT v AS u, u AS v FROM e$KCORE_CAP) undf
         |GROUP BY u ORDER BY doc_id""".stripMargin
    },

    // same recursive-CTE components as q65 + both split policies from
    // the same md5 buckets; the straddle columns are computed, not
    // asserted — an engine that let a cluster straddle would flip them
    "q102_cluster_safe_split" ->
      s"""WITH RECURSIVE $JPAIRS_CTES,
         |und AS (
         | SELECT da AS u, db AS v FROM jpairs
         | UNION ALL SELECT db, da FROM jpairs),
         |nodes AS (SELECT DISTINCT u AS doc_id FROM und),
         |reach AS (
         | SELECT doc_id AS u, doc_id AS label FROM nodes
         | UNION
         | SELECT e.v, r.label FROM reach r JOIN und e ON e.u = r.u),
         |lab AS (SELECT u AS doc_id, MIN(label) AS label FROM reach
         |        GROUP BY u),
         |g AS (
         | SELECT d.doc_id, COALESCE(l.label, d.doc_id) AS cluster_id,
         |  CASE WHEN CAST('0x' || substr(md5('csplit:' ||
         |        CAST(COALESCE(l.label, d.doc_id) AS VARCHAR)), 1, 12)
         |        AS BIGINT) % 100 < 80 THEN 'train'
         |       WHEN CAST('0x' || substr(md5('csplit:' ||
         |        CAST(COALESCE(l.label, d.doc_id) AS VARCHAR)), 1, 12)
         |        AS BIGINT) % 100 < 90 THEN 'val'
         |       ELSE 'test' END AS split,
         |  CASE WHEN CAST('0x' || substr(md5('split:' ||
         |        CAST(d.doc_id AS VARCHAR)), 1, 12)
         |        AS BIGINT) % 100 < 80 THEN 'train'
         |       WHEN CAST('0x' || substr(md5('split:' ||
         |        CAST(d.doc_id AS VARCHAR)), 1, 12)
         |        AS BIGINT) % 100 < 90 THEN 'val'
         |       ELSE 'test' END AS doc_split
         | FROM documents d LEFT JOIN lab l ON d.doc_id = l.doc_id),
         |pc AS (
         | SELECT cluster_id, COUNT(DISTINCT split) AS ns_safe,
         |  COUNT(DISTINCT doc_split) AS ns_doc
         | FROM g GROUP BY cluster_id),
         |st AS (
         | SELECT
         |  CAST(SUM(CASE WHEN ns_safe > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS straddle_cluster_safe,
         |  CAST(SUM(CASE WHEN ns_doc > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS straddle_doc_hash
         | FROM pc)
         |SELECT split, COUNT(*) AS n_docs,
         | COUNT(DISTINCT cluster_id) AS n_clusters,
         | straddle_cluster_safe, straddle_doc_hash
         |FROM g, st
         |GROUP BY split, straddle_cluster_safe, straddle_doc_hash
         |ORDER BY split""".stripMargin,

    "q76_corpus_pipeline" ->
      """WITH f AS (
        | SELECT doc_id, lang, n_chars, md5(lower(trim(text))) AS h,
        |  ROUND(LEAST(CAST(len(string_split(text,' ')) AS DOUBLE)/50, 1.0)*0.5
        |   + (1.0 - ROUND(CAST(length(text)
        |        - length(regexp_replace(text,'[0-9]','','g')) AS DOUBLE)
        |        / length(text), 6))*0.3
        |   + LEAST(ROUND(CAST(len(list_intersect(string_split(text,' '),
        |        ['the','a','and','of','to','in','is'])) AS DOUBLE)
        |        / len(string_split(text,' ')), 6)*10, 1.0)*0.2, 6) AS score
        | FROM documents),
        |k AS (SELECT * FROM f WHERE score >= 0.6),
        |d AS (
        | SELECT *, MIN(doc_id) OVER (PARTITION BY h) AS mn FROM k),
        |dd AS (SELECT * FROM d WHERE doc_id = mn),
        |sp AS (
        | SELECT lang, n_chars,
        |  CASE WHEN CAST('0x' || substr(md5('split:' ||
        |         CAST(doc_id AS VARCHAR)), 1, 12) AS BIGINT) % 100 < 80
        |        THEN 'train'
        |       WHEN CAST('0x' || substr(md5('split:' ||
        |         CAST(doc_id AS VARCHAR)), 1, 12) AS BIGINT) % 100 < 90
        |        THEN 'val' ELSE 'test' END AS split
        | FROM dd)
        |SELECT lang, split, COUNT(*) AS n_docs,
        | CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM sp GROUP BY 1, 2 ORDER BY lang, split""".stripMargin,

    // floor() EXPLICIT in the bucket arithmetic (DuckDB CAST rounds);
    // contributions decimal-pinned before the window sum.
    "q134_psi_drift" ->
      s"""WITH d AS MATERIALIZED (
        | SELECT CASE WHEN b < 80 THEN 'train'
        |             WHEN b < 90 THEN 'val' ELSE 'test' END AS split, n
        | FROM (
        |  SELECT CAST('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)),
        |                             1, 12) AS BIGINT) % 100 AS b,
        |   len(string_split(text, ' ')) AS n
        |  FROM documents)),
        |mm AS (SELECT MIN(n) AS mn, MAX(n) AS mx FROM d),
        |bk AS (
        | SELECT split, $DECILE_BUCKET_SQL AS bucket
        | FROM d, mm),
        |cnt AS (SELECT split, bucket, COUNT(*) AS c FROM bk GROUP BY 1, 2),
        |tot AS (SELECT split, COUNT(*) AS t FROM bk GROUP BY 1),
        |pairs(sa, sb) AS (VALUES ('train', 'val'), ('train', 'test')),
        |frame AS (
        | SELECT sa, sb, bb.bucket FROM pairs,
        |  (SELECT unnest(generate_series(0, 9)) AS bucket) bb),
        |j AS (
        | SELECT f.sa || '->' || f.sb AS pair, f.bucket,
        |  COALESCE(ca.c, 0) AS n_a, COALESCE(cb.c, 0) AS n_b,
        |  ta.t AS ta, tb.t AS tb
        | FROM frame f
        | LEFT JOIN cnt ca ON ca.split = f.sa AND ca.bucket = f.bucket
        | LEFT JOIN cnt cb ON cb.split = f.sb AND cb.bucket = f.bucket
        | JOIN tot ta ON ta.split = f.sa
        | JOIN tot tb ON tb.split = f.sb),
        |sc AS (
        | SELECT pair, bucket, n_a, n_b,
        |  CAST(((CAST(n_a + 1 AS DOUBLE) / (ta + 10))
        |      - (CAST(n_b + 1 AS DOUBLE) / (tb + 10)))
        |    * ln((CAST(n_a + 1 AS DOUBLE) / (ta + 10))
        |        / (CAST(n_b + 1 AS DOUBLE) / (tb + 10)))
        |   AS DECIMAL(28,12)) AS cd
        | FROM j)
        |SELECT pair, bucket, CAST(n_a AS BIGINT) AS n_a,
        | CAST(n_b AS BIGINT) AS n_b,
        | ROUND(CAST(cd AS DOUBLE), 9) AS contrib,
        | ROUND(CAST(SUM(cd) OVER (PARTITION BY pair) AS DOUBLE), 6) AS psi
        |FROM sc ORDER BY pair, bucket""".stripMargin,

    "q66_hash_split" ->
      """WITH b AS (
        | SELECT lang,
        |  CAST('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)),
        |                      1, 12) AS BIGINT) % 100 AS bkt
        | FROM documents)
        |SELECT lang,
        | CASE WHEN bkt < 80 THEN 'train'
        |      WHEN bkt < 90 THEN 'val' ELSE 'test' END AS split,
        | COUNT(*) AS n
        |FROM b GROUP BY 1, 2 ORDER BY lang, split""".stripMargin,

    "q67_stratified_sample" ->
      """WITH h AS (
        | SELECT lang, doc_id,
        |  CAST('0x' || substr(md5('samp:' || CAST(doc_id AS VARCHAR)),
        |                      1, 12) AS BIGINT) AS h
        | FROM documents),
        |ranked AS (
        | SELECT lang, doc_id,
        |  ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rk
        | FROM h)
        |SELECT lang, doc_id FROM ranked WHERE rk <= 50
        |ORDER BY lang, doc_id""".stripMargin,

    "q30_langid" ->
      s"""WITH $LANGID_CM_CTE
         |SELECT lang, predicted, n FROM langcm
         |ORDER BY lang, predicted""".stripMargin,

    // same confusion CTE; the marginal-product chance term in HUGEINT,
    // one string-route division (the Spark side's DECIMAL(38,0) twin)
    "q175_langid_kappa" ->
      s"""WITH $LANGID_CM_CTE,
         |tot AS (
         | SELECT CAST(SUM(n) AS BIGINT) AS nn,
         |  CAST(SUM(CASE WHEN lang = predicted THEN n ELSE 0 END)
         |    AS BIGINT) AS agree
         | FROM langcm),
         |mar AS (
         | SELECT CAST(SUM(COALESCE(rt, 0) * COALESCE(CAST(ct AS HUGEINT), 0))
         |   AS HUGEINT) AS pe_num
         | FROM (SELECT lang AS cls, SUM(n) AS rt FROM langcm GROUP BY 1) r
         | FULL JOIN
         |  (SELECT predicted AS cls, SUM(n) AS ct FROM langcm GROUP BY 1) c
         | USING (cls))
         |SELECT nn AS n_docs, agree,
         | CASE WHEN CAST(nn AS HUGEINT) * nn - pe_num > 0 THEN
         |  CAST(CAST(CAST(CAST(agree AS HUGEINT) * nn - pe_num
         |     AS DECIMAL(38,6)) AS VARCHAR) AS DOUBLE)
         |  / CAST(CAST(CAST(CAST(nn AS HUGEINT) * nn - pe_num
         |     AS DECIMAL(38,6)) AS VARCHAR) AS DOUBLE)
         | END AS kappa
         |FROM tot, mar""".stripMargin,

    // derived entirely from the same confusion CTE as q30; metric
    // divisions are single casts of exact integers (< 2^53) — no
    // string route needed
    "q170_langid_metrics" ->
      s"""WITH $LANGID_CM_CTE,
         |classes AS (
         | SELECT DISTINCT lang AS cls FROM langcm
         | UNION SELECT DISTINCT predicted FROM langcm),
         |bt AS (SELECT lang AS cls, SUM(n) AS n_true FROM langcm
         |       GROUP BY 1),
         |bp AS (SELECT predicted AS cls, SUM(n) AS n_pred FROM langcm
         |       GROUP BY 1),
         |dg AS (SELECT lang AS cls, n AS tp FROM langcm
         |       WHERE lang = predicted),
         |j AS (
         | SELECT c.cls,
         |  CAST(COALESCE(tp, 0) AS BIGINT) AS tp,
         |  CAST(COALESCE(n_pred, 0) - COALESCE(tp, 0) AS BIGINT) AS fp,
         |  CAST(COALESCE(n_true, 0) - COALESCE(tp, 0) AS BIGINT) AS fn
         | FROM classes c LEFT JOIN bt USING (cls)
         |  LEFT JOIN bp USING (cls) LEFT JOIN dg USING (cls))
         |SELECT cls, tp, fp, fn,
         | CASE WHEN tp + fp > 0
         |  THEN CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END
         |  AS precision,
         | CASE WHEN tp + fn > 0
         |  THEN CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END
         |  AS recall,
         | CASE WHEN 2*tp + fp + fn > 0
         |  THEN CAST(2*tp AS DOUBLE) / CAST(2*tp + fp + fn AS DOUBLE) END
         |  AS f1
         |FROM j ORDER BY cls""".stripMargin,

    // the naive single-window statement of the engine's salted
    // two-pass top-K (equivalence: every global winner wins its cell)
    "q183_source_quota" ->
      s"""WITH $QUALITY_U_CTES,
         |ranked AS (
         | SELECT doc_id, source, score_u,
         |  ROW_NUMBER() OVER (PARTITION BY source
         |    ORDER BY score_u DESC, doc_id) AS rk
         | FROM qscore),
         |kept AS (
         | SELECT source, COUNT(*) AS n_kept, MIN(score_u) AS bar_u
         | FROM ranked WHERE rk <= $QUOTA_CAP GROUP BY 1),
         |n AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1)
         |SELECT n.source, n.n_docs, k.n_kept,
         | n.n_docs - k.n_kept AS n_dropped,
         | CAST(k.bar_u AS DOUBLE) / 1000000.0 AS admission_bar
         |FROM n JOIN kept k USING (source) ORDER BY n.source""".stripMargin,

    "q31_quality" ->
      s"""WITH $QUALITY_U_CTES
         |SELECT doc_id, n_tokens, n_chars,
         | CAST(atl_u AS DOUBLE) / 1000000.0 AS avg_token_len,
         | CAST(sw_u AS DOUBLE) / 1000000.0 AS stopword_ratio,
         | CAST(dg_u AS DOUBLE) / 1000000.0 AS digit_ratio,
         | CAST(score_u AS DOUBLE) / 1000000.0 AS score
         |FROM qscore ORDER BY doc_id""".stripMargin,

    // recursive walk deduped on (node, dist) pairs; MIN(dist) GROUP BY
    // — no frontier bookkeeping to mirror a frontier bug
    "q172_bfs_layers" ->
      s"""WITH RECURSIVE $JPAIRS_CTES,
         |e AS (SELECT da AS u, db AS v FROM jpairs),
         |und AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
         |nodes AS (SELECT DISTINCT u AS doc_id FROM und),
         |bfs AS (
         | SELECT doc_id, 0 AS dist FROM nodes
         | WHERE doc_id % $PPR_SEED_MOD = 0
         | UNION
         | SELECT und.v AS doc_id, bfs.dist + 1 AS dist
         | FROM bfs JOIN und ON und.u = bfs.doc_id
         | WHERE bfs.dist < $BFS_CAP)
         |SELECT doc_id, CAST(MIN(dist) AS BIGINT) AS dist
         |FROM bfs GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // independent single-level formulation: DuckDB pays the one global
    // window the Spark side's two-level slab construction exists to
    // avoid — a slab-offset bug cannot be mirrored here
    "q173_vocab_growth" ->
      s"""WITH d0 AS (
         | SELECT doc_id,
         |  list_transform(
         |    range(1, greatest(len(string_split(text,' ')) - 2, 0) + 1),
         |    i -> string_split(text,' ')[i] || ' ' ||
         |         string_split(text,' ')[i+1] || ' ' ||
         |         string_split(text,' ')[i+2]) AS toks
         | FROM documents),
         |pd AS (SELECT doc_id, len(toks) AS n FROM d0),
         |off AS (
         | SELECT doc_id, COALESCE(SUM(n) OVER (ORDER BY doc_id
         |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS doff
         | FROM pd),
         |fp AS (
         | SELECT tok, MIN(doff + list_position(toks, tok) - 1) AS fp
         | FROM (SELECT doc_id, toks, unnest(list_distinct(toks)) AS tok
         |       FROM d0) u
         | JOIN off USING (doc_id)
         | GROUP BY tok),
         |lad AS (
         | SELECT n_prefix FROM
         |  (SELECT unnest([${VG_LADDER.mkString(",")}]) AS n_prefix),
         |  (SELECT SUM(n) AS t FROM pd)
         | WHERE n_prefix <= t)
         |SELECT CAST(l.n_prefix AS BIGINT) AS n_prefix,
         | COUNT(f.tok) AS vocab
         |FROM lad l LEFT JOIN fp f ON f.fp < l.n_prefix
         |GROUP BY l.n_prefix ORDER BY l.n_prefix""".stripMargin,

    // deliberately the NAIVE per-row RANK() midrank formulation — an
    // independent construction of the same U statistic (the Spark side
    // ranks off the bounded distinct-score histogram instead)
    "q168_quality_auc" ->
      s"""WITH $QUALITY_U_CTES,
        |sc AS (
        | SELECT lang, score_u AS su,
        |  CASE WHEN regexp_matches(source, '^src[0-9]$$')
        |   THEN 1 ELSE 0 END AS pos
        | FROM qscore),
        |r AS (
        | SELECT lang, su, pos,
        |  RANK() OVER (PARTITION BY lang ORDER BY su) AS rk,
        |  COUNT(*) OVER (PARTITION BY lang, su) AS c
        | FROM sc),
        |a AS (
        | SELECT lang, SUM(pos) AS n_pos, SUM(1 - pos) AS n_neg,
        |  SUM(CAST(pos AS HUGEINT) * (2*rk + c - 1)) AS s2
        | FROM r GROUP BY lang)
        |SELECT lang, CAST(n_pos AS BIGINT) AS n_pos,
        | CAST(n_neg AS BIGINT) AS n_neg,
        | CAST(s2 - CAST(n_pos AS HUGEINT)*(n_pos+1) AS BIGINT) AS u2,
        | CAST(CAST(CAST(s2 - CAST(n_pos AS HUGEINT)*(n_pos+1)
        |    AS DECIMAL(38,6)) AS VARCHAR) AS DOUBLE)
        |  / CAST(CAST(CAST(2 * CAST(n_pos AS HUGEINT) * n_neg
        |    AS DECIMAL(38,6)) AS VARCHAR) AS DOUBLE) AS auc
        |FROM a ORDER BY lang""".stripMargin,

    // same su micro-units and regex label as q168; bin by integer floor
    // division on both engines (// here, div on the Spark side)
    "q169_score_calibration" ->
      s"""WITH $QUALITY_U_CTES,
        |sc AS (
        | SELECT lang, score_u AS su,
        |  CASE WHEN regexp_matches(source, '^src[0-9]$$')
        |   THEN 1 ELSE 0 END AS pos
        | FROM qscore)
        |SELECT lang, LEAST(su // 100000, 9) AS bin,
        | COUNT(*) AS n, CAST(SUM(pos) AS BIGINT) AS n_pos,
        | CAST(CAST(CAST(SUM(pos) AS DECIMAL(38,6)) AS VARCHAR) AS DOUBLE)
        |  / CAST(CAST(CAST(COUNT(*) AS DECIMAL(38,6)) AS VARCHAR) AS DOUBLE)
        |  AS pos_rate,
        | CAST(CAST(CAST(SUM(CAST(su AS HUGEINT)) AS DECIMAL(38,6))
        |    AS VARCHAR) AS DOUBLE)
        |  / CAST(CAST(CAST(CAST(COUNT(*) AS HUGEINT) * 1000000
        |    AS DECIMAL(38,6)) AS VARCHAR) AS DOUBLE) AS mean_score
        |FROM sc GROUP BY lang, bin ORDER BY lang, bin""".stripMargin,

    "q32_fingerprint" ->
      """SELECT doc_id,
        | md5(array_to_string(list_sort(list_distinct(string_split(text,' '))),' ')) AS fp,
        | COUNT(*) OVER (PARTITION BY
        |   md5(array_to_string(list_sort(list_distinct(string_split(text,' '))),' ')))
        |   AS n_docs_sharing
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q57_bpe_tokens" ->
      """SELECT lang, source,
        | CAST(SUM(len(regexp_extract_all(text,
        |   '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]+'))) AS BIGINT) AS bpe_tokens,
        | CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
        | ROUND(CAST(SUM(len(regexp_extract_all(text,
        |   '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]+'))) AS DOUBLE)
        |   / SUM(len(string_split(text, ' '))), 6) AS inflation
        |FROM documents GROUP BY lang, source ORDER BY lang, source"""
        .stripMargin,

    // substr-pair expansion over the word-frequency table ≡ Spark's
    // split-chars transform on this single-byte corpus; SUM widened back
    // to BIGINT (DuckDB SUM(BIGINT) → INT128).
    "q133_bpe_merge_round" ->
      """WITH toksw AS (
        | SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |wfreq AS MATERIALIZED (
        | SELECT w, COUNT(*) AS wf FROM toksw
        | WHERE length(w) >= 2 GROUP BY w),
        |prs AS (
        | SELECT w, wf,
        |  unnest(generate_series(1, length(w) - 1)) AS i
        | FROM wfreq),
        |pc AS (
        | SELECT substr(w, i, 1) AS left_sym, substr(w, i + 1, 1) AS right_sym,
        |  CAST(SUM(wf) AS BIGINT) AS pair_count
        | FROM prs GROUP BY 1, 2)
        |SELECT rnk, left_sym, right_sym, pair_count FROM (
        | SELECT *, ROW_NUMBER() OVER (
        |   ORDER BY pair_count DESC, left_sym, right_sym) AS rnk
        | FROM pc) WHERE rnk <= 20 ORDER BY rnk""".stripMargin,

    // The same relational BPE trainer, BPE_ROUNDS rounds unrolled: each
    // round re-derives pairs (lead window), the 1-row argmax, the greedy
    // merge keep-set (islands + even offsets), and the recompacted token
    // table. Identical window algebra to the Spark loop.
    "q143_bpe_train" ->
      s"""WITH $BPE_CTES
         |SELECT round, left_sym, right_sym, pair_count FROM (
         | ${(1 to BPE_ROUNDS).map(r =>
            s"SELECT CAST($r AS BIGINT) AS round, a AS left_sym," +
              s" b AS right_sym, cnt AS pair_count FROM best$r")
            .mkString("\n UNION ALL ")})
         |ORDER BY round""".stripMargin,

    // same unrolled training CTEs; the final round's symbol state IS
    // every trained word's encoding — weight by per-lang frequency
    "q174_bpe_encode" ->
      s"""WITH $BPE_CTES,
         |nsym AS (
         | SELECT wid AS w, COUNT(*) AS ns FROM t$BPE_ROUNDS GROUP BY wid),
         |lw AS (
         | SELECT lang, w, COUNT(*) AS c FROM
         |  (SELECT lang, unnest(string_split(text,' ')) AS w
         |   FROM documents)
         | GROUP BY 1, 2)
         |SELECT lang,
         | CAST(SUM(c) AS BIGINT) AS n_words,
         | CAST(SUM(c * length(w)) AS BIGINT) AS n_chars,
         | CAST(SUM(c * COALESCE(ns, 1)) AS BIGINT) AS n_syms,
         | CAST(CAST(SUM(c * length(w)) AS BIGINT) AS DOUBLE)
         |  / CAST(CAST(SUM(c * COALESCE(ns, 1)) AS BIGINT) AS DOUBLE)
         |  AS chars_per_sym
         |FROM lw LEFT JOIN nsym USING (w)
         |GROUP BY lang ORDER BY lang""".stripMargin,

    // same unrolled training CTEs; decode = per-word symbol concat in
    // pos order, per-doc single-space rejoin in word order, compared to
    // the source text verbatim
    "q192_bpe_decode" ->
      s"""WITH $BPE_CTES,
         |dec AS (
         | SELECT wid, string_agg(sym, '' ORDER BY pos) AS dw,
         |  COUNT(*) AS ns
         | FROM t$BPE_ROUNDS GROUP BY wid),
         |words AS (
         | SELECT doc_id, lang, text,
         |  generate_subscripts(string_split(text, ' '), 1) AS wp,
         |  unnest(string_split(text, ' ')) AS w
         | FROM documents),
         |red AS (
         | SELECT doc_id, lang, text,
         |  string_agg(COALESCE(dec.dw, w.w), ' ' ORDER BY wp) AS decoded,
         |  SUM(COALESCE(dec.ns, 1)) AS n_syms
         | FROM words w LEFT JOIN dec ON w.w = dec.wid
         | GROUP BY 1, 2, 3)
         |SELECT lang, COUNT(*) AS n_docs,
         | CAST(SUM(n_syms) AS BIGINT) AS n_syms,
         | COUNT(*) FILTER (decoded = text) AS n_ok,
         | ROUND(CAST(COUNT(*) FILTER (decoded = text) AS DOUBLE)
         |       / COUNT(*), 4) AS roundtrip_rate
         |FROM red GROUP BY lang ORDER BY lang""".stripMargin,

    "q58_rolling_hash" ->
      """WITH h AS (
        | SELECT doc_id,
        |  CASE WHEN length(text) = 0 THEN 0
        |       ELSE list_reduce(
        |         list_transform(string_split(text, ''),
        |                        c -> CAST(ascii(c) AS BIGINT)),
        |         (acc, x) -> (acc * 31 + x) % 1000000007) END AS rhash
        | FROM documents)
        |SELECT doc_id, rhash,
        | COUNT(*) OVER (PARTITION BY rhash) AS n_docs_sharing
        |FROM h ORDER BY doc_id""".stripMargin,

    "q33_tfidf" ->
      """WITH terms AS (
        | SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1,2),
        |df AS (SELECT term, COUNT(*) AS df
        |       FROM (SELECT DISTINCT doc_id, term FROM terms) GROUP BY term),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |scored AS (
        | SELECT tf.doc_id, tf.term,
        |  ROUND(tf * LN(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
        | FROM tf JOIN df USING (term) CROSS JOIN n),
        |ranked AS (
        | SELECT doc_id, term, tfidf,
        |  ROW_NUMBER() OVER (PARTITION BY doc_id
        |                     ORDER BY tfidf DESC, term) AS rank
        | FROM scored)
        |SELECT doc_id, term, tfidf, rank FROM ranked
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    // Convergence-based twin of pageRankConverged: PR_CAP damped
    // iterations UNROLLED as a CTE chain over the shared jpairs subtree,
    // mirroring the Spark loop operation-for-operation in INTEGER QUANTA
    // (q = pr·1e12; `//` floor division ≡ Spark's `div` on the positive
    // longs here — bit-identical in both engines at any scale, which the
    // r8 ROUND(double,12) form was NOT: the r9 sf1 oracle run caught its
    // half-tie divergence). Each round carries its max-delta; the final
    // select picks the FIRST round whose integer delta falls under the
    // same integer tolerance Spark stopped at. DuckDB computes every
    // round; the SELECTED state is the one Spark's early-exit produced —
    // identical stop rule over identical iterates. A graph needing more
    // than PR_CAP rounds yields an empty oracle result, the SQL face of
    // the Spark side's fail-loud cap.
    "q104_pagerank" -> {
      val iterCtes = (1 to PR_CAP).map { i =>
        s"""c$i AS (
           | SELECT e.dst AS doc_id, CAST(SUM(p.q // d.deg) AS BIGINT) AS sc
           | FROM pr${i - 1} p
           | JOIN degn d ON d.doc_id = p.doc_id
           | JOIN edges e ON e.src = p.doc_id
           | GROUP BY e.dst),
           |pr$i AS MATERIALIZED (
           | SELECT d.doc_id,
           |  ($PR_TELEPORT_Q // d.n) + ((17 * c$i.sc) // 20) AS q
           | FROM degn d JOIN c$i ON c$i.doc_id = d.doc_id),
           |d$i AS (
           | SELECT $i AS it, MAX(ABS(a.q - b.q)) AS delta
           | FROM pr$i a JOIN pr${i - 1} b USING (doc_id))"""
      }.mkString(",\n")
      val allPr = (1 to PR_CAP)
        .map(i => s"SELECT $i AS it, doc_id, q FROM pr$i")
        .mkString("\n UNION ALL ")
      val allD = (1 to PR_CAP).map(i => s"SELECT * FROM d$i")
        .mkString("\n UNION ALL ")
      s"""WITH $JPAIRS_CTES,
         |edges AS MATERIALIZED (
         | SELECT da AS src, db AS dst FROM jpairs
         | UNION ALL
         | SELECT db AS src, da AS dst FROM jpairs),
         |deg0 AS (SELECT src AS doc_id, COUNT(*) AS deg FROM edges GROUP BY src),
         |nn AS (SELECT COUNT(*) AS n FROM deg0),
         |degn AS MATERIALIZED (SELECT doc_id, deg, n FROM deg0, nn),
         |pr0 AS MATERIALIZED (
         | SELECT doc_id, $PR_Q // n AS q FROM degn),
         |$iterCtes,
         |deltas AS ($allD),
         |kstar AS (
         | SELECT MIN(it) AS k FROM deltas
         | WHERE delta <= GREATEST(CAST(1 AS BIGINT),
         |   $PR_TOL_NUM_Q // (SELECT MAX(n) FROM degn))),
         |all_pr AS ($allPr)
         |SELECT d.doc_id, d.deg,
         | CAST(p.q AS DOUBLE) / $PR_Q.0 AS pr
         |FROM degn d
         |JOIN all_pr p USING (doc_id)
         |JOIN kstar ON p.it = kstar.k
         |ORDER BY doc_id""".stripMargin
    },

    // q104's unrolled-convergence oracle with the PPR deltas: the degn
    // CTE carries the seed flag and |S|, teleport is seed-gated, the
    // per-round rejoin is LEFT (zero-frontier nodes receive no
    // contribution rows pre-convergence), and the unroll depth is
    // PPR_CAP — same first-round-under-tolerance selection.
    "q158_personalized_pagerank" -> {
      val iterCtes = (1 to PPR_CAP).map { i =>
        s"""c$i AS (
           | SELECT e.dst AS doc_id, CAST(SUM(p.q // d.deg) AS BIGINT) AS sc
           | FROM pr${i - 1} p
           | JOIN degn d ON d.doc_id = p.doc_id
           | JOIN edges e ON e.src = p.doc_id
           | GROUP BY e.dst),
           |pr$i AS MATERIALIZED (
           | SELECT d.doc_id,
           |  (CASE WHEN d.seed = 1 THEN $PR_TELEPORT_Q // d.ns ELSE 0 END)
           |   + ((17 * COALESCE(c$i.sc, 0)) // 20) AS q
           | FROM degn d LEFT JOIN c$i ON c$i.doc_id = d.doc_id),
           |d$i AS (
           | SELECT $i AS it, MAX(ABS(a.q - b.q)) AS delta
           | FROM pr$i a JOIN pr${i - 1} b USING (doc_id))"""
      }.mkString(",\n")
      val allPr = (1 to PPR_CAP)
        .map(i => s"SELECT $i AS it, doc_id, q FROM pr$i")
        .mkString("\n UNION ALL ")
      val allD = (1 to PPR_CAP).map(i => s"SELECT * FROM d$i")
        .mkString("\n UNION ALL ")
      s"""WITH $JPAIRS_CTES,
         |edges AS MATERIALIZED (
         | SELECT da AS src, db AS dst FROM jpairs
         | UNION ALL
         | SELECT db AS src, da AS dst FROM jpairs),
         |deg0 AS (SELECT src AS doc_id, COUNT(*) AS deg FROM edges GROUP BY src),
         |nn AS (SELECT COUNT(*) AS n FROM deg0),
         |sn AS (
         | SELECT CAST(SUM(CASE WHEN doc_id % $PPR_SEED_MOD = 0
         |   THEN 1 ELSE 0 END) AS BIGINT) AS ns FROM deg0),
         |degn AS MATERIALIZED (
         | SELECT doc_id, deg, n,
         |  CASE WHEN doc_id % $PPR_SEED_MOD = 0 THEN 1 ELSE 0 END AS seed,
         |  ns
         | FROM deg0, nn, sn),
         |pr0 AS MATERIALIZED (
         | SELECT doc_id,
         |  CASE WHEN seed = 1 THEN $PR_Q // ns ELSE 0 END AS q
         | FROM degn),
         |$iterCtes,
         |deltas AS ($allD),
         |kstar AS (
         | SELECT MIN(it) AS k FROM deltas
         | WHERE delta <= GREATEST(CAST(1 AS BIGINT),
         |   $PR_TOL_NUM_Q // (SELECT MAX(ns) FROM degn))),
         |all_pr AS ($allPr)
         |SELECT d.doc_id, d.deg, CAST(d.seed AS BIGINT) AS is_seed,
         | CAST(p.q AS DOUBLE) / $PR_Q.0 AS ppr
         |FROM degn d
         |JOIN all_pr p USING (doc_id)
         |JOIN kstar ON p.it = kstar.k
         |ORDER BY doc_id""".stripMargin
    },

    "q161_degree_assortativity" ->
      s"""WITH $JPAIRS_CTES,
         |edges AS (
         | SELECT da AS src, db AS dst FROM jpairs
         | UNION ALL
         | SELECT db AS src, da AS dst FROM jpairs),
         |deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
         |sums AS (
         | SELECT COUNT(*) AS m,
         |  SUM(CAST(a.deg AS HUGEINT)) AS sx,
         |  SUM(CAST(a.deg AS HUGEINT) * a.deg) AS sxx,
         |  SUM(CAST(a.deg AS HUGEINT) * b.deg) AS sxy
         | FROM edges e
         | JOIN deg a ON a.src = e.src
         | JOIN deg b ON b.src = e.dst)
         |SELECT m, CAST(sx AS BIGINT) AS sum_deg,
         | CAST(sxx AS BIGINT) AS sum_deg_sq,
         | CAST(sxy AS BIGINT) AS sum_xy,
         | CAST(CAST(CAST(m AS HUGEINT) * sxy - sx * sx AS VARCHAR)
         |   AS DOUBLE)
         |  / CAST(CAST(CAST(m AS HUGEINT) * sxx - sx * sx AS VARCHAR)
         |   AS DOUBLE) AS assortativity
         |FROM sums""".stripMargin,

    // q148's naive triangle census + a degree CTE; cc through the same
    // string-route boundary as the Spark side (Exact.asD twin)
    "q167_clustering_coeff" ->
      s"""WITH $JPAIRS_CTES,
         |e AS (SELECT da AS u, db AS v FROM jpairs),
         |deg AS (SELECT u AS doc_id, COUNT(*) AS deg FROM (
         |  SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e) und
         | GROUP BY u),
         |tri AS (
         | SELECT e1.u AS a, e1.v AS b, e2.v AS c
         | FROM e e1
         | JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
         | JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v),
         |corners AS (
         | SELECT a AS doc_id FROM tri
         | UNION ALL SELECT b FROM tri
         | UNION ALL SELECT c FROM tri),
         |ntri AS (
         | SELECT doc_id, COUNT(*) AS n_tri FROM corners GROUP BY doc_id)
         |SELECT d.doc_id, d.deg, COALESCE(n.n_tri, 0) AS n_tri,
         | CAST(CAST(CAST(COALESCE(n.n_tri, 0) * 2 AS DECIMAL(38,6))
         |   AS VARCHAR) AS DOUBLE)
         |  / CAST(CAST(CAST(d.deg * (d.deg - 1) AS DECIMAL(38,6))
         |   AS VARCHAR) AS DOUBLE) AS cc
         |FROM deg d LEFT JOIN ntri n USING (doc_id)
         |WHERE d.deg >= 2
         |ORDER BY d.doc_id""".stripMargin,

    // identical md5-uniform draw, ln-key, and rounded rank order
    "q107_weighted_sample" ->
      s"""WITH k AS (
         | SELECT lang, doc_id, n_chars,
         |  ROUND(ln((CAST((CAST('0x' || substr(md5('wsamp:' ||
         |        CAST(doc_id AS VARCHAR)), 1, 12) AS BIGINT) % 1000000)
         |      AS DOUBLE) + CAST(0.5 AS DOUBLE)) / CAST(1000000.0 AS DOUBLE))
         |    / n_chars, 12) AS wkey
         | FROM documents WHERE n_chars > 0),
         |r AS (
         | SELECT lang, doc_id, n_chars, wkey,
         |  ROW_NUMBER() OVER (PARTITION BY lang
         |                     ORDER BY wkey DESC, doc_id) AS rk
         | FROM k)
         |SELECT lang, doc_id, n_chars, wkey, rk
         |FROM r WHERE rk <= $WSAMPLE_K ORDER BY lang, rk""".stripMargin,
  )
}
