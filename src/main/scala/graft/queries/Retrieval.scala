package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables
import Lineage.LineageOps

/** Round-6 retrieval & redundancy tier — the corpus-query and
  * span-level-redundancy operators that round out the LLM-pipeline
  * surface: BM25 sparse retrieval (Robertson-Walker Okapi weighting, the
  * lexical complement to q34's dense cosine top-k), an interval-overlap
  * join (the one join geometry the catalog lacked: range × range, recast
  * as a bucket equi-join), duplicated n-gram SPAN detection (substring-
  * level dedup in the spirit of Lee et al., "Deduplicating Training Data
  * Makes Language Models Better" — doc-level dedup q25-q29 cannot see a
  * copied paragraph inside an otherwise-unique doc), directed shingle
  * containment (Broder's asymmetric |A∩B|/|A| — catches a doc QUOTED
  * inside a larger one, where symmetric Jaccard q29 is diluted by the
  * larger doc's size), and equal-token curriculum binning (difficulty-
  * ordered stage assignment under a fixed per-stage token budget).
  *
  * Scale stance: q120 builds ONE (doc, term) frequency table, restricts
  * it to the bounded query vocabulary FIRST (broadcast semi-filter), and
  * aggregates df from the restricted postings with map-side combine —
  * deliberately NOT a count-over-window on the term key, whose hot
  * partitions (a stop word touches every doc) cannot be AQE-split the
  * way a skewed join can. The only corpus-wide shuffles key on the
  * uniform doc_id; query set, df table, and corpus scalars all ride
  * broadcasts (the J2 pattern). q121 turns the theta join
  * (interval overlap) into an equi-join on the hour bucket: incidents
  * are bucket-aligned so ONLY the session side explodes (bounded by
  * session duration), and every bucket match is provably an overlap —
  * no post-join dedup. q122/q123 are inverted-index plans (the q29
  * family): posting lists keyed by shingle, df computed as count-over-
  * window (no rejoin), q123's lists df-capped before the pair join.
  * q124 replaces the global-sort + corpus-wide cumulative window (the
  * classic curriculum anti-pattern) with a two-pass histogram: the
  * cumulative window runs over the VALUE-BOUNDED difficulty histogram
  * (integer centi-difficulty ⇒ ≤ a few hundred rows at any corpus
  * size), which then broadcasts back onto the corpus.
  *
  * Determinism: q120 pins each term's contribution to DECIMAL(28,12)
  * before the per-(query, doc) sum (order-free summation, the q82/q115
  * discipline), rounds BEFORE ranking, and breaks rank ties on doc_id;
  * q121/q122 are integer-only up to their outputs; q123 rounds
  * containment to 6 decimals with a total (containment, a, b) order;
  * q124's difficulty key is integer centi-difficulty (`n_chars·100 div
  * n_toks`) so the histogram key never touches double rounding.
  */
object Retrieval {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).documents

  /** BM25 shape parameters (Okapi defaults) and report size. k1+1 is its
    * own literal: 1.2 + 1.0 in binary double need not equal the parsed
    * literal 2.2 the oracle uses (the MMR_MU lesson). package-private so
    * RetrievalSpec's local model follows a retune instead of silently
    * testing stale values. */
  private[graft] val BM25_K1 = 1.2
  private[graft] val BM25_K1P1 = 2.2
  private[graft] val BM25_B = 0.75
  private[graft] val BM25_TOPK = 10
  /** q190 recall-stage width: BM25 candidates per query handed to the
    * dense reranker — the 50-candidate pool a production two-stage
    * retriever typically re-scores. */
  private[graft] val RERANK_CAND = 50
  /** RRF dampening constant — 60 per Cormack et al. '09 (the value every
    * production fusion ships with; small ranks dominate, tail flattens). */
  private[graft] val RRF_K = 60

  /** Corpus-size gate for the frozen-sorted-posting layout (VERDICT r12
    * #4 — the dlBroadcastable treatment applied to the lazy checkpoint):
    * the checkpoint + intra-partition sort win is pair-stage-sized and
    * only materializes once the fan-out is large (sf1: q131 61.0 →
    * 21.7 s), while its fixed cost (~+0.3 s per query at sf0.1: the
    * materialize job + block registration) is pure overhead on a small
    * corpus. Gate on the documents table's ON-DISK size — a pure
    * FileSystem metadata call, no Spark job: sf0.1 is 0.6 MB, sf1 is
    * 6.2 MB, so 2 MB splits the regimes with margin on both sides.
    * Both paths are hash-identical (the layout changes physical row
    * order only; every consumer aggregates or re-sorts) — the q120/q131/
    * q178 oracles prove it at the gate every round. The conf override
    * (`always` / `never` / default `auto`) exists so Bm25PlanShapeSpec
    * can pin the frozen layout's plan shape at fixture scale, where the
    * auto gate correctly turns it off.
    *
    * SCOPE (round-13 synthpost, SCALE.md round-13 addendum): corpus size
    * is a PROXY — the true decision variable is the fan-out ratio (pairs
    * per posting) x memory budget. It proxies correctly here because the
    * query set scales with the corpus (QMOD is fixed, |queries| ∝
    * |docs|, so the ratio grows with scale), and because the frozen
    * layout's killer property is budget-INVARIANCE: per-doc runs bound
    * the agg working set to ~|queries| hot keys, so its cost holds
    * (196-270 s CPU, zero spill) across a 10x per-slot memory range
    * where the unsorted layouts degrade 2.1-5.3x. The one shape the
    * proxy misranks — a corpus past the gate probed by a small FIXED
    * query load — is what the `never` override is for, and round 14's
    * partition sizing WIDENED that band (SCALE.md round-14 addendum):
    * r13's "the frozen layout wins 2.46x CPU even at fixed query load
    * by 30x postings" was a property of 32x-OVERSIZED partitions
    * (the unsorted agg's working set spanned ~1.56M interleaved docs);
    * with postingPartitions-sized width the unsorted layout wins the
    * fixed-query corner outright at both 8g and 16g (27.0 vs 53.1 s
    * wall, 774 vs 1,162 s CPU at 16g), so a serving corpus under a
    * small fixed query load should set `never` at ANY size. The
    * query-SCALING regime — the shipped workloads — is unchanged:
    * per-doc runs bound the working set below any per-partition doc
    * span (sf1 fanoutsort: 2.27x CPU at 8g, already right-sized). */
  private[graft] val SORTED_LAYOUT_MIN_BYTES = 2L << 20
  private[graft] def sortedLayoutWorthwhile(s: SparkSession,
      dir: String): Boolean = postingLayout(s, dir)._1

  /** The (frozen?, clusterByDoc width) pair for a corpus dir — gate and
    * width derive from ONE FileSystem metadata probe (getContentSummary
    * is a recursive listing; q120/q131 were paying it twice per build
    * for identical information — review r14). None from the probe
    * (exotic FS, moved table): assume big — the frozen layout is the
    * safe-at-scale default; only the small-corpus fixed cost is at
    * stake — and let the width fall back to the session default. */
  private[graft] def postingLayout(s: SparkSession,
      dir: String): (Boolean, Int) = {
    val bytes = pathBytes(s, s"$dir/documents.parquet")
    val frozen = s.conf.getOption("spark.graft.bm25.sortedLayout")
      .getOrElse("auto") match {
      case "always" => true
      case "never"  => false
      case _        => bytes.forall(_ >= SORTED_LAYOUT_MIN_BYTES)
    }
    val floor = s.conf.get("spark.sql.shuffle.partitions").toInt
    val n = postingPartitions(s, bytes.getOrElse(0L))
    (frozen, if (n > floor) n else 0)
  }

  /** Serving-path layout resolution (ADVICE r13 — the q178 freeze was
    * hard-coded, leaving the documented `never` escape hatch dead on
    * the one path its scaladoc pointed at): q178 freezes BY DEFAULT at
    * every corpus size — its posting subtree is a cheap columnar scan
    * arriving in TERM-BUCKET order, the worst layout for the doc-keyed
    * aggregate, so the corpus-size gate (which prices the re-tokenize
    * paths' rebuild-per-query checkpoint) does not apply (measured
    * both ways at sf0.1: frozen 1.96 vs gated 2.19 s min-of-mins,
    * artifacts/bench_only_sf0.1_r13_layout*). But an EXPLICIT
    * `spark.graft.bm25.sortedLayout=never`/`always` is honored — only
    * `auto` resolves differently here (true, not the size gate). */
  private[graft] def servingLayoutFrozen(s: SparkSession): Boolean =
    s.conf.getOption("spark.graft.bm25.sortedLayout") match {
      case Some("never") => false
      case _ => true
    }

  /** On-disk size of a path via a pure FileSystem metadata call (no
    * Spark job) — the layout gate's probe, shared with the partition
    * sizer below. None when the FS can't answer. */
  private[graft] def pathBytes(s: SparkSession, path: String): Option[Long] =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      Some(p.getFileSystem(s.sparkContext.hadoopConfiguration)
        .getContentSummary(p).getLength)
    } catch { case _: java.io.IOException => None }

  /** Partition sizing for the doc-clustered posting layout (round 14,
    * VERDICT r13 #2 — the 30x/16g synthpost cell): the frozen sort's
    * CPU win is robust to corpus growth and memory budget, but its
    * WALL win additionally needs the per-partition sort to fit
    * execution memory — at 38.5M postings forced into 32 partitions of
    * a 16g JVM the in-line sortWithinPartitions external-sorted
    * (24.5 GB spill) and lost wall 58.9 vs 38.7 s despite keeping a
    * 1.48x CPU win (SCALE.md round-13 addendum). Inheriting
    * `spark.sql.shuffle.partitions` made the win configuration-
    * dependent; deriving the width from corpus bytes (the same FS-
    * metadata call as the layout gate) makes it structural.
    *
    * Unit: DOCUMENTS-table on-disk bytes — the one size every caller
    * can read without a job, and a measured proxy for the sort's
    * footprint (sf1: 6 MB docs → 5.9M postings ≈ 1 posting/byte;
    * sorter footprint ≈ 636 B/posting from the 30x cell's 24.5 GB /
    * 38.5M rows). 256 KB of docs bytes per partition ≈ 150–160 MB of
    * sorter footprint — inside one task slot's execution share at even
    * the 8g budget (250 MB/slot). At sf1 and below the rule yields
    * ≤ 24 and the session shuffle width (32) wins, so every plan at
    * the driver's gate is unchanged; the width is EXPLICIT in the
    * repartition so AQE cannot coalesce partitions back past the
    * sort-fit bound. Hash-identical at any width (the q120/q131/q178
    * oracles prove it at the gate). */
  private[graft] val POSTING_PARTITION_DOCS_BYTES = 256L << 10
  private[graft] val POSTING_PARTITION_MAX = 200000
  private[graft] def postingPartitions(s: SparkSession,
      docsBytes: Long): Int =
    math.max(s.conf.get("spark.sql.shuffle.partitions").toInt,
      math.min(POSTING_PARTITION_MAX.toLong,
        (docsBytes + POSTING_PARTITION_DOCS_BYTES - 1) /
          POSTING_PARTITION_DOCS_BYTES).toInt)

  /** [[postingLayout]]'s width half, as the ARGUMENT for
    * [[clusterByDoc]]: 0 — "inherit the session width" — unless the
    * sizing rule BINDS (sized > session width). Below the bind point
    * the repartition stays the numberless `repartition(col)` form,
    * which AQE may still coalesce and which is byte-identical to the
    * pre-r14 plan at every SF this repo measures; pinning an explicit
    * 32 there would only disable that coalescing for nothing. Unknown
    * table size (exotic FS) also falls back to the session width. */
  private[graft] def postingPartitionsFor(s: SparkSession,
      dir: String): Int = postingLayout(s, dir)._2

  /** The doc-clustering exchange, width-pinned only when the caller's
    * sizing rule bound (see [[postingPartitionsFor]]). */
  private[graft] def clusterByDoc(df: DataFrame, parts: Int): DataFrame =
    if (parts > 0) df.repartition(parts, col("doc_id"))
    else df.repartition(col("doc_id"))

  /** q120's oracle chain through `ranked` (qid, doc_id, bm25, rnk) —
    * shared with the q131 fusion oracle, which also reuses `tf`/`qt`. */
  private lazy val BM25_RANKED_CTES =
    s"""toks AS MATERIALIZED (
       | SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       | FROM documents),
       |tf AS MATERIALIZED (
       | SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
       |aug AS (
       | SELECT doc_id, tok, tf,
       |  SUM(tf) OVER (PARTITION BY doc_id) AS dl,
       |  COUNT(*) OVER (PARTITION BY tok) AS df
       | FROM tf),
       |scal AS (
       | SELECT COUNT(*) AS n_docs,
       |  CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
       | FROM (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY 1)),
       |qt AS MATERIALIZED (SELECT DISTINCT doc_id AS qid, tok FROM toks
       |       WHERE doc_id % $QMOD = 0),
       |contrib AS (
       | SELECT q.qid, a.doc_id,
       |  CAST(ln(CAST(1 AS DOUBLE)
       |     + (CAST(n_docs - df AS DOUBLE) + CAST(0.5 AS DOUBLE))
       |       / (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
       |   * (CAST(tf AS DOUBLE) * CAST($BM25_K1P1 AS DOUBLE))
       |     / (CAST(tf AS DOUBLE) + CAST($BM25_K1 AS DOUBLE)
       |        * (CAST(${1.0 - BM25_B} AS DOUBLE) + CAST($BM25_B AS DOUBLE)
       |           * CAST(dl AS DOUBLE) / avgdl))
       |   AS DECIMAL(28,12)) AS c
       | FROM aug a JOIN qt q USING (tok) CROSS JOIN scal
       | WHERE a.doc_id != q.qid),
       |scored AS (
       | SELECT qid, doc_id, ROUND(CAST(SUM(c) AS DOUBLE), 6) AS bm25
       | FROM contrib GROUP BY 1, 2),
       |ranked AS (
       | SELECT qid, doc_id, bm25,
       |  ROW_NUMBER() OVER (PARTITION BY qid
       |    ORDER BY bm25 DESC, doc_id) AS rnk
       | FROM scored)""".stripMargin

  /** The ONE (doc, term) frequency table + query vocab, shared by both
    * q131 rankers and bm25TopK — factored (review r7b #1) so ranker
    * cost-sharing is by CONSTRUCTION (one lineage → one exchange), not by
    * ReuseExchange happening to canonicalize two hand-built copies, and
    * so the two rankers can never drift in tokenization. */
  private[graft] def tfAndQt(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val toks = docs(s, dir)
      .select(col("doc_id"),
        explode(split(col("text"), " ")).as("tok"))
    val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    // tf already holds ONE row per (doc, term): the query vocabulary
    // comes from it directly — no distinct, and no second corpus scan
    // (2× the IO at 100 TB for an identical result).
    val qt = tf.where(col("doc_id") % QMOD === 0)
      .select(col("doc_id").as("qid"), col("tok"))
    (tf, qt)
  }

  /** q120 core, shared with the q131 fusion: BM25 top-k per query doc
    * (qid, doc_id, bm25, rnk), rnk ≤ BM25_TOPK, ranked AFTER the 6-dp
    * round with a doc_id tiebreak so rank order is cross-engine total.
    *
    * The tokenize+count relation is EAGERLY checkpointed here (the q161
    * lineage-cut discipline, cluster tradeoff in PLANS.md): qt, dl and
    * the scored-posting lineage all consume tf, and the posting branch
    * now lives in its own checkpointed lineage (see bm25Score) where
    * ReuseExchange could no longer dedup a recompute. One cut, three
    * readers. Still build-every-time: the cut is per-construction, not
    * memoized — Bench times it inside every sample. */
  private[graft] def bm25TopK(s: SparkSession, dir: String): DataFrame = {
    val (frozen, parts) = postingLayout(s, dir)
    bm25TopKFromTf(tfAndQt(s, dir)._1.cut(), frozen, parts)
  }

  /** [[bm25TopK]] over a caller-materialized tf (checkpoint or parquet)
    * — q131 shares ONE tf cut across both fusion arms through this. */
  private[graft] def bm25TopKFromTf(tf: DataFrame,
      frozenSortedLayout: Boolean = true,
      postingParts: Int = 0): DataFrame = {
    val qt = tf.where(col("doc_id") % QMOD === 0)
      .select(col("doc_id").as("qid"), col("tok"))
    bm25Score(tf, qt, tf.groupBy("doc_id").agg(sum("tf").as("dl")),
      frozenSortedLayout = frozenSortedLayout,
      postingParts = postingParts)
  }

  /** The BM25 scoring tail over an ARBITRARY (tf, qt, dl) triple —
    * factored (round 11) so q178's prebuilt-index probe runs the
    * IDENTICAL arithmetic over persisted relations that q120 runs over
    * freshly-built ones; the two can't drift.
    *
    * CONTRACT (ADVICE r11): `dl` must cover every doc_id that appears in
    * `tf` — the dim join below is LEFT only as a ReorderJoin barrier, not
    * to tolerate gaps. A missing doc_id would null its tfn and silently
    * shrink that doc's score, so the join output asserts coverage and a
    * mismatched dl FAILS LOUDLY (raise_error) instead of skewing ranks.
    *
    * SCALE CEILING (ADVICE r11): the broadcast(dim) hint ships one row
    * per CORPUS DOCUMENT (~40 B/row: doc_id, dl, two fold-in scalars) to
    * every executor — fine to ~10⁷–10⁸ docs (0.4–4 GB broadcast), i.e.
    * any SF this repo runs, but past that it exceeds broadcast/driver
    * budget where a shuffle join degrades gracefully. A 100 TB caller
    * passes `dlBroadcastable = false`: the dim join becomes a doc_id
    * sort-merge join whose exchange lands exactly where the mandatory
    * `.repartition(doc_id)` below needs the data anyway, so the
    * per-posting hoist and the doc-clustered fan-out both survive the
    * fallback — only the small-side shipping strategy changes. */
  private[graft] def bm25Score(tf: DataFrame, qt: DataFrame,
      dl: DataFrame, dlBroadcastable: Boolean = true,
      frozenSortedLayout: Boolean = true,
      postingParts: Int = 0,
      topK: Int = BM25_TOPK): DataFrame = {
    // LAZY checkpoint of the doc-clustered + doc-SORTED scored postings:
    // the one way to keep the intra-partition sort ALIVE. In-plan,
    // EliminateSorts removes a local sort whose order the aggregate
    // above destroys — and the layout-isolated idle-host A/B (ScaleDebug
    // fanoutsort, per-leg stage metrics) shows the optimizer deletes a
    // 2.8× CPU win: the 507M-pair stage at sf1 runs 3,808 s CPU +
    // 39.6 GB spill in natural order, 491 s doc-clustered, 176 s
    // doc-clustered+sorted (per-doc runs keep the (qid, doc_id) partial
    // agg probing ~520 hot keys). A lazy localCheckpoint freezes the
    // sorted layout as a standalone lineage whose ROOT-level sort
    // nothing eliminates; the fan-out job materializes it in-line (one
    // job, no extra pass) and streams frozen sorted blocks.
    // Bm25PlanShapeSpec pins both halves. Cluster-mode tradeoff of the
    // checkpoint: PLANS.md "localCheckpoint lineage-cut … at 100 TB".
    // Below the corpus-size gate (frozenSortedLayout = false, see
    // sortedLayoutWorthwhile) the checkpoint and its fixed cost are
    // skipped: the doc_id repartition still clusters the fan-out (it
    // survives in-plan — it is an Exchange, not a Sort), EliminateSorts
    // drops the now-unfreezable local sort, and the output is hash-
    // identical either way.
    val sp = scoredPostings(tf, qt, dl, dlBroadcastable, postingParts)
    val posting = if (frozenSortedLayout) sp.cut(false) else sp
    val scored = posting
      .join(broadcast(qt), "tok")
      .where(col("doc_id") =!= col("qid"))
      .groupBy("qid", "doc_id")
      .agg(round(sum("c").cast("double"), 6).as("bm25"))
    scored
      .withColumn("rnk", row_number().over(Window.partitionBy("qid")
        .orderBy(col("bm25").desc, col("doc_id"))))
      .where(col("rnk") <= topK)
  }

  /** The scored-posting relation (tok, doc_id, c), doc-clustered and
    * doc-sorted — everything in BM25 that happens at POSTING granularity,
    * factored so [[bm25Score]] checkpoints exactly this plan and
    * Bm25PlanShapeSpec audits exactly this plan. */
  private[graft] def scoredPostings(tf: DataFrame, qt: DataFrame,
      dl: DataFrame, dlBroadcastable: Boolean = true,
      postingParts: Int = 0): DataFrame = {
    val scal = dl.agg(count(lit(1)).as("n_docs"),
      (sum("dl").cast("double") / count(lit(1))).as("avgdl"))
    val tfq = tf.join(broadcast(qt.select("tok").distinct()), "tok")
    val dfq = tfq.groupBy("tok").agg(count(lit(1)).as("df"))
    val idf = log(lit(1.0) +
      ((col("n_docs") - col("df")).cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)))
    val tfn = (col("tf").cast("double") * lit(BM25_K1P1)) /
      (col("tf").cast("double") + lit(BM25_K1) *
        (lit(1.0 - BM25_B) +
          lit(BM25_B) * col("dl").cast("double") / col("avgdl")))
    // The contribution c = idf·tfn depends ONLY on the posting (term,
    // doc) — NOT on which query matched it — so it is computed here, on
    // the POSTING relation (and the dl/scal joins ride posting-sized
    // rows too), BEFORE the broadcast(qt) fan-out multiplies rows by
    // matching queries (~86x at sf1: 5.9M postings → 507M pairs). The
    // r11 q178 A/B caught the cost the old per-pair placement hid:
    // Catalyst does not hoist arithmetic through joins, and the join
    // order was estimate-dependent (the parquet-fed probe ran the dl
    // join and the decimal math per PAIR — ~2.2x the whole query). Sum
    // order is irrelevant to the hash: c is exact DECIMAL(28,12).
    // The dim side folds the two corpus scalars onto the per-doc length
    // table (52k rows + 2 columns — the cross join runs inside the
    // broadcast build), and joins LEFT: semantically identical (dl
    // covers every posting's doc_id by construction), but a LEFT join
    // is a ReorderJoin BARRIER where an inner join is not. Without it,
    // whenever dl's true size is KNOWN (q178 reads it from parquet),
    // the reorderer moved the dim join — and the c projection that
    // needs it — BELOW the qt fan-out, re-running the lookup and the
    // decimal math per PAIR (507M rows at sf1) instead of per POSTING
    // (5.9M): measured 153 s vs 30 s for the identical query
    // (ScaleDebug bm25idx bisect, variant F vs E). The barrier pins
    // per-posting scoring at ANY estimate quality.
    val dim = dl.crossJoin(scal)
    val dimSide = if (dlBroadcastable) broadcast(dim) else dim
    tfq
      .join(broadcast(dfq), "tok")
      .join(dimSide, Seq("doc_id"), "left")
      // loud coverage check (scaladoc CONTRACT): a doc_id the caller's dl
      // misses throws here, per posting, instead of nulling into sum().
      // Shape matters (ADVICE r12): the old coalesce(dl, raise_error)
      // INSIDE tfn could never fire on a missed join — a missing dim row
      // nulls n_docs/avgdl too, so idf (the LEFT operand of idf*tfn)
      // evaluates to null and Spark's null-short-circuiting Multiply
      // skips tfn entirely; c silently nulled and sum() skewed the score.
      // CaseWhen evaluates its CONDITION unconditionally, so the isNull
      // probe runs before any arithmetic can short-circuit around it.
      .select(col("tok"), col("doc_id"),
        when(col("dl").isNull, raise_error(concat(
          lit("bm25Score contract violated: dl has no row for doc_id="),
          col("doc_id"))).cast("decimal(28,12)"))
          .otherwise((idf * tfn).cast("decimal(28,12)")).as("c"))
      // CLUSTER the scored postings by doc AND sort within partitions
      // BEFORE the query fan-out: the fan-out emits, per posting, one
      // row per matching query; partitioning shrinks the (qid, doc_id)
      // partial aggregate's working set from the whole corpus's
      // ~27M-entry map to one partition's docs, and the sort turns the
      // remaining probes into per-doc runs of ~|queries| hot keys. The
      // idle-host layout A/B (ScaleDebug fanoutsort, stage metrics):
      // natural 3,808 s CPU + 39.6 GB spill, clustered 491 s, clustered
      // + sorted 176 s for the identical sf1 stage. The sort survives
      // ONLY via bm25Score's lazy checkpoint — in-plan, EliminateSorts
      // deletes it (the aggregate above destroys its order).
      // Width: EXPLICIT only when the caller's corpus-bytes sizing rule
      // BOUND (postingPartitionsFor — the r14 sort-fit rule; the
      // explicit width also pins it past AQE coalescing, which is the
      // point there); otherwise the numberless session-width form,
      // byte-identical to the pre-r14 plan.
      .transform(clusterByDoc(_, postingParts))
      .sortWithinPartitions("doc_id")
  }

  /** Build-once registry for the q178 sparse-retrieval serving index —
    * the q78 ivfIndexMemo discipline verbatim (identity session key,
    * stopped-session pruning, runToken + per-build id paths): per
    * (session, sfDir), the postings relation (doc_id, tok, tf)
    * PARTITIONED BY a 64-way term-hash bucket plus the per-doc length
    * table, both parquet. The first call pays tokenize + both
    * aggregations ONCE; every later call probes the columnar artifact —
    * Bench's 2nd..nth q178 samples time the probe alone. The bucket
    * layout is the 100 TB lever: a query-time vocabulary maps to a
    * bucket set and the scan prunes to those partitions. MEASURED
    * (round 12, ScaleDebug bm25prune, sf1): an 8-term query hits 8/64
    * buckets and the postings scan reads exactly 8 files / 2.35 MB /
    * 496k rows vs 35 files / 6.05 MB / 1.28M rows for the same query
    * unpruned — files-read ∝ buckets-hit, stacked ON TOP of the
    * runtime term filter that already row-group-prunes the unpruned
    * scan to 35 of 64 files. (The CATALOG q178 derives its query set
    * from the whole corpus, which covers all 64 buckets — so the
    * catalog run exercises the probe arithmetic, and the short-query
    * serving case gets the pruning.) */
  private val bm25IdxMemo =
    new BuildOnceMemo[(String, String)]("graft_bm25_index")

  private def bm25Index(s: SparkSession, dir: String): (String, String) = {
    bm25IdxMemo.getOrBuild(s, dir) {
      val stem = bm25IdxMemo.nextPath(dir)
      // one eager checkpoint: the tokenize+count pass feeds BOTH the
      // postings write and the dl aggregation (the q161 fan-out lesson)
      val tf = tfAndQt(s, dir)._1.cut()
      // repartition ON the bucket key before the partitioned write: each
      // task then owns whole buckets and writes ONE file per bucket (64
      // total) instead of every task spraying a file into every bucket
      // (32 x 64 ~ 2k small files - measured 196 s probe at sf1 from
      // the multi-scan plan re-opening them; 64 clustered files probe in
      // seconds). Sort within partitions by term so row groups are
      // term-local (zone-map pruning on the probe's term semi-join).
      tf.withColumn("bkt",
          pmod(TextOps.h48("bm25bkt:", col("tok")), lit(64L)).cast("int"))
        .repartition(col("bkt"))
        .sortWithinPartitions("tok")
        .write.mode("overwrite").partitionBy("bkt").parquet(s"$stem/postings")
      tf.groupBy("doc_id").agg(sum("tf").as("dl"))
        .coalesce(8)
        .write.mode("overwrite").parquet(s"$stem/dl")
      (s"$stem/postings", s"$stem/dl")
    }
  }

  /** q131 core: reciprocal-rank fusion of the BM25 and Jaccard arms over
    * one shared tf cut. */
  private[graft] def rrfFusion(s: SparkSession, dir: String): DataFrame = {
      // ONE eager tf cut feeds BOTH fusion arms (each arm's fan-out
      // branch now lives in its own checkpointed lineage, so the old
      // ReuseExchange dedup across arms no longer applies — without the
      // shared cut the tokenize pass would run once per arm).
      val (frozen, parts) = postingLayout(s, dir)
      val dt = tfAndQt(s, dir)._1.cut()
      val qset = dt.where(col("doc_id") % QMOD === 0)
        .select(col("doc_id").as("qid"), col("tok"))
      val a = bm25TopKFromTf(dt, frozen, parts).select(col("qid"),
        col("doc_id"), col("rnk").as("ra"))
      val nd = dt.groupBy("doc_id").agg(count(lit(1)).as("nd"))
      // doc-cluster + doc-sort before the query fan-out — the bm25Score
      // locality treatment applied to the Jaccard arm's identical shape
      // (fan-out on tok, aggregate on (qid, doc_id)); the lazy
      // checkpoint keeps the sort alive, same rationale, same idle-host
      // A/B numbers, same corpus-size gate, and same corpus-sized
      // partition width as scoredPostings.
      val clustered = clusterByDoc(dt, parts)
      val interIn =
        if (frozen) clustered.sortWithinPartitions("doc_id")
          .cut(false)
        else clustered
      val inter = interIn
        .join(broadcast(qset), "tok")
        .where(col("doc_id") =!= col("qid"))
        .groupBy("qid", "doc_id").agg(count(lit(1)).as("ni"))
      val b = inter
        .join(nd, "doc_id")
        .join(broadcast(nd.select(col("doc_id").as("qid"),
          col("nd").as("nq"))), "qid")
        .select(col("qid"), col("doc_id"),
          round(col("ni").cast("double") /
            (col("nq") + col("nd") - col("ni")), 6).as("jacc"))
        .withColumn("rb", row_number().over(Window.partitionBy("qid")
          .orderBy(col("jacc").desc, col("doc_id"))))
        .where(col("rb") <= BM25_TOPK)
        .select(col("qid"), col("doc_id"), col("rb"))
      a.join(b, Seq("qid", "doc_id"), "full_outer")
        .select(col("qid"), col("doc_id"),
          round(coalesce(lit(1.0) / (lit(RRF_K) + col("ra")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(RRF_K) + col("rb")), lit(0.0)), 6)
            .as("rrf"))
        .withColumn("rnk", row_number().over(Window.partitionBy("qid")
          .orderBy(col("rrf").desc, col("doc_id"))))
        .where(col("rnk") <= BM25_TOPK)
        .select(col("qid"), col("rnk").cast("long").as("rnk"),
          col("doc_id"), col("rrf"))
        .orderBy("qid", "rnk")
  }
  /** Query-doc selector: doc_id % QMOD == 0 — a bounded, corpus-derived
    * query set (5 queries at sf0.01, 50 at sf0.1). */
  private[graft] val QMOD = 100

  /** q121 geometry: the incident bucket width and the error count that
    * promotes an hour to an incident (the session gap itself is
    * single-sourced in EventOps.SESSION_GAP_US). */
  private[graft] val HOUR_US = 3600L * 1000000L
  private[graft] val ERR_MIN = 5L

  /** q123 posting-list df cap (the q29 guard): above this corpus's max
    * shingle df, so the guard is value-inert here while pinning the
    * 100 TB shape — a boilerplate shingle shared by millions of docs
    * must not produce a quadratic bucket. */
  private[graft] val CONTAIN_DF_CAP = 1000
  private[graft] val CONTAIN_TOPK = 20

  /** q123's fan-out subtree (capped positioned-less shingle self-join).
    * Output keeps the x/y qualifiers the downstream aggregate expects. */
  private[graft] def q123FanOut(s: SparkSession, dir: String): DataFrame = {
    // eager checkpoint: p feeds both self-join sides (round-16 audit —
    // the un-checkpointed form re-planned the shingle+windows subtree
    // per side; jaccardPairs discipline)
    val p = TextOps.shingles(docs(s, dir))
      .withColumn("sz", count(lit(1)).over(Window.partitionBy("doc_id")))
      .withColumn("df", count(lit(1)).over(Window.partitionBy("sh")))
      .where(col("df") <= CONTAIN_DF_CAP)
      .cut()
    p.as("x").join(p.as("y"),
      col("x.sh") === col("y.sh") &&
        col("x.doc_id") =!= col("y.doc_id"))
  }

  /** q124 stage count. */
  private[graft] val NBINS = 4

  /** q139 geometry: df cap on the positioned 3-gram postings (the q29/q123
    * skew guard — a boilerplate shingle in millions of docs must never
    * seed a quadratic match set), and the minimum reported span length in
    * tokens. 6 sits in the measured gap between chance collisions (runs
    * of 1–3 aligned shingles ⇒ spans ≤ 5 on this corpus) and genuine
    * duplicated passages (≥ 11 tokens). */
  private[graft] val SPAN_DF_CAP = 50
  private[graft] val MIN_SPAN = 6L

  /** Word-3-gram shingles WITH position: (doc_id, pos (1-based), sh).
    * The q122 span logic needs adjacency, so unlike TextOps.shingles
    * this keeps every occurrence and its offset. Sub-3-token docs yield
    * no rows (Spark's sequence(1, 0) DESCENDS — the when-guard matches
    * DuckDB's empty range()). */
  private def posShingles(d: DataFrame): DataFrame =
    d.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), explode(when(size(col("toks")) >= 3,
        transform(sequence(lit(1), size(col("toks")) - 2),
          i => struct(i.cast("long").as("pos"),
            concat_ws(" ", element_at(col("toks"), i),
              element_at(col("toks"), i + 1),
              element_at(col("toks"), i + 2)).as("sh"))))
        .otherwise(array().cast("array<struct<pos:bigint,sh:string>>")))
        .as("ps"))
      .select(col("doc_id"), col("ps.pos").as("pos"), col("ps.sh").as("sh"))

  /** The positioned-shingle CTE chain for the q122 oracle (q123 is
    * positionless and reuses TextOps.SH_CTE instead). */
  private val SHINGLE_SQL =
    """t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |sp AS MATERIALIZED (
      | SELECT doc_id, ps.pos AS pos, ps.sh AS sh FROM (
      |  SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1),
      |    i -> struct_pack(pos := i,
      |      sh := toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])))
      |    AS ps
      |  FROM t))""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // BM25 top-k retrieval (Robertson et al., Okapi at TREC-3) — the
    // sparse-retrieval workhorse for corpus search and decontamination
    // sweeps; complements dense retrieval (q34 brute cosine, q69 IVF).
    //   score(q,d) = Σ_{t∈q} ln(1 + (N−df+.5)/(df+.5))
    //                · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
    // ONE (doc, term) tf table feeds everything. Plan shape, in order:
    // dl = groupBy(doc_id) — uniform key, map-side combine; postings
    // are then semi-filtered to the query vocabulary (broadcast) BEFORE
    // any per-term work, so df aggregates only query-relevant postings
    // (partial combine → |query vocab| rows → broadcast back). The
    // full-corpus term key is never a shuffle or window partition key —
    // a stop word's df row still counts every doc, but through a
    // combiner tree, not a single hot partition. N/avgdl are a 1-row
    // broadcast; the query side (distinct terms of docs with
    // doc_id % QMOD == 0) is a corpus-derived bounded broadcast.
    // Self-matches are excluded.
    // Per-term contributions are pinned to DECIMAL(28,12) before the
    // per-(query, doc) sum; ranking happens AFTER the 6-dp round with a
    // doc_id tiebreak, so rank order is cross-engine total.
    "q120_bm25_retrieval" -> ((s, dir) =>
      bm25TopK(s, dir)
        .select(col("qid"), col("rnk").cast("long").as("rnk"),
          col("doc_id"), col("bm25"))
        .orderBy("qid", "rnk")),

    // BM25 over a PREBUILT postings index — the sparse-retrieval twin
    // of q78's build-once/probe-many IVF serving shape (q120 is the
    // build-every-time form: it re-tokenizes the corpus and re-counts
    // (doc, term) frequencies on every invocation — the right shape for
    // a one-shot batch job, the wrong one for a query service). The
    // index build (tokenize + tf groupBy + dl aggregate) runs once per
    // (session, corpus) and lands as term-bucket-partitioned parquet;
    // the probe reads the columnar postings, derives the query set by
    // the SAME doc_id % QMOD rule, and runs the identical factored
    // scoring tail — so the output, and therefore the ORACLE, is q120's
    // verbatim (the q145/q62 shared-oracle pattern: serving-shape
    // equivalence is hash-checked every round).
    "q178_bm25_prebuilt" -> ((s, dir) => {
      val (pPath, dPath) = bm25Index(s, dir)
      val tf = s.read.parquet(pPath).select("doc_id", "tok", "tf")
      val qt = tf.where(col("doc_id") % QMOD === 0)
        .select(col("doc_id").as("qid"), col("tok"))
      // The serving path freezes BY DEFAULT at every corpus size (round
      // 13; round 14 made the explicit conf override reach it too —
      // servingLayoutFrozen): the corpus gate prices the checkpoint's
      // fixed cost for a posting subtree that is rebuilt per query
      // (tokenize + tf groupBy — q120/q131), but here the subtree is a
      // columnar scan of the prebuilt index, cheap to materialize,
      // while the scan arrives in TERM-BUCKET order — the worst layout
      // for the doc-keyed aggregate — so the sort's win stands at every
      // corpus size. Measured both ways at sf0.1 (artifacts/
      // bench_only_sf0.1_r13_layout*: frozen 1.96 vs gated 2.19 s
      // min-of-mins); hash-identical paths, q120's shared oracle proves
      // it at the gate every round.
      bm25Score(tf, qt, s.read.parquet(dPath),
          frozenSortedLayout = servingLayoutFrozen(s),
          postingParts = postingPartitionsFor(s, dir))
        .select(col("qid"), col("rnk").cast("long").as("rnk"),
          col("doc_id"), col("bm25"))
        .orderBy("qid", "rnk")
    }),

    // Two-stage RETRIEVE → RERANK (round 16) — the production RAG
    // serving shape (VERDICT r15 #5): a cheap high-RECALL sparse pass
    // fans wide, an expensive high-PRECISION dense pass re-scores only
    // what the first pass surfaced. Stage 1 = the q178 prebuilt-index
    // BM25 probe widened to top-RERANK_CAND candidates per query; stage
    // 2 = exact dense cosine (the q34 discipline: vec_dot, 6-dp round,
    // doc_id tiebreak) between the query's and each candidate's
    // embedding (documents and embeddings share the id space), final
    // top-BM25_TOPK by the DENSE score. The point at 100 TB: the
    // per-pair vector math — the expensive part — runs on exactly
    // |queries|·RERANK_CAND rows (the candidate stream joins the
    // embeddings table on its key; the corpus is never cross-scored),
    // so rerank cost is workload-sized while recall comes from the
    // index-pruned sparse pass. bm25_rnk rides along so the output
    // shows the re-ordering the dense stage actually performed.
    "q190_retrieve_rerank" -> ((s, dir) => {
      val (pPath, dPath) = bm25Index(s, dir)
      val tf = s.read.parquet(pPath).select("doc_id", "tok", "tf")
      val qt = tf.where(col("doc_id") % QMOD === 0)
        .select(col("doc_id").as("qid"), col("tok"))
      val cand = bm25Score(tf, qt, s.read.parquet(dPath),
          frozenSortedLayout = servingLayoutFrozen(s),
          postingParts = postingPartitionsFor(s, dir),
          topK = RERANK_CAND)
        .select(col("qid"), col("doc_id"),
          col("rnk").cast("long").as("bm25_rnk"))
      val e = graft.queries.VectorOps.emb(s, dir)
      val eq = e.select(col("vec_id").as("qid"), col("e").as("qe"),
        col("nrm").as("qn"))
      val ec = e.select(col("vec_id").as("doc_id"), col("e").as("ce"),
        col("nrm").as("cn"))
      val rescored = cand.join(eq, "qid").join(ec, "doc_id")
        .select(col("qid"), col("doc_id"), col("bm25_rnk"),
          round(call_function("vec_dot", col("qe"), col("ce"))
            / (col("qn") * col("cn")), 6).as("cos"))
      rescored
        .withColumn("rnk", row_number().over(Window.partitionBy("qid")
          .orderBy(col("cos").desc, col("doc_id"))))
        .where(col("rnk") <= BM25_TOPK)
        .select(col("qid"), col("rnk").cast("long").as("rnk"),
          col("doc_id"), col("cos"), col("bm25_rnk"))
        .orderBy("qid", "rnk")
    }),

    // Hybrid retrieval via RECIPROCAL RANK FUSION (Cormack et al.
    // SIGIR'09) — the standard way a RAG stack merges rankers whose raw
    // scores are incommensurable: rrf(q,d) = Σ_lists 1/(60 + rank),
    // absence contributes nothing. Fused here: the q120 BM25 top-10 and
    // a distinct-token Jaccard top-10 (a genuinely different lexical
    // signal: set overlap vs frequency-weighted relevance; both rankers
    // reuse the ONE (doc, term) frequency table, so fusion costs no new
    // corpus scan). RRF needs only the RANKS, so the per-list top-k
    // truncation IS the scale lever: the fusion join touches
    // O(queries × 2k) rows no matter the corpus size. Rank arithmetic
    // 1/(60+r) is exact double on both engines; ties break on doc_id.
    "q131_rrf_fusion" -> ((s, dir) => rrfFusion(s, dir)),

    // Interval-overlap join — session intervals (q38's 30-min-gap
    // sessionization) × incident windows (hours with ≥ ERR_MIN error
    // events). The naive plan is a theta join (s0 < i1 AND i0 ≤ s1 —
    // a BroadcastNestedLoop at best, a CartesianProduct at worst); the
    // scale plan exploits the incidents being BUCKET-ALIGNED: explode
    // each session to the hour buckets it touches (bounded by session
    // duration — ≤ n_events·gap) and equi-join on the bucket. Because
    // an incident occupies exactly its own bucket, bucket match ⟺
    // interval overlap (proof in RetrievalSpec), so there is no
    // post-join dedup and no residual filter. Arbitrary right-side
    // intervals would explode both sides and dedup pairs — same plan
    // family. overlap_us treats sessions as closed [s0,s1] and
    // incidents as half-open [i0,i1): a point session AT the incident
    // start overlaps (0 µs), one at the incident END does not.
    "q121_interval_join" -> ((s, dir) => {
      val ev = Tables(s, dir).events
      val sess = EventOps.sessionized(ev)
        .groupBy("user_id", "session_id")
        .agg(unix_micros(min("ts")).as("s0"),
          unix_micros(max("ts")).as("s1"))
      val inc = ev.where(col("event_type") === "error")
        .groupBy(expr(s"unix_micros(ts) div $HOUR_US").as("bkt"))
        .agg(count(lit(1)).as("n_errors"))
        .where(col("n_errors") >= ERR_MIN)
      sess
        .withColumn("bkt", explode(sequence(
          expr(s"s0 div $HOUR_US"), expr(s"s1 div $HOUR_US"))))
        .join(inc, "bkt")
        .select(col("user_id"), col("session_id"),
          (col("bkt") * HOUR_US).as("incident_start_us"),
          col("n_errors"),
          (least(col("s1"), (col("bkt") + 1) * HOUR_US) -
            greatest(col("s0"), col("bkt") * HOUR_US)).as("overlap_us"))
        .orderBy("user_id", "session_id", "incident_start_us")
    }),

    // Duplicated n-gram SPAN detection — substring-level redundancy
    // (Lee et al. 2022): a shingle occurrence is "shared" when its
    // 3-gram appears in ≥ 2 DISTINCT docs (within-doc repeats don't
    // count), and consecutive shared positions chain into spans via
    // gaps-and-islands (pos − row_number). Per doc: total shared
    // occurrences, the longest shared span in TOKENS (run + 2), and
    // the shared fraction — the signals a span-level dedup pass cuts
    // on. Inverted-index plan: distinct (doc, shingle) postings, df as
    // count-over-window on the shingle key, one (doc_id, sh)-keyed
    // join back to positions, then per-doc windows. Every doc appears
    // in the output (sub-3-token docs as all-zero rows).
    "q122_duplicate_spans" -> ((s, dir) => {
      // eager checkpoint: sp feeds the df-filter AND the runs join (the
      // round-16 jaccardPairs discipline — the plan scanned documents 3x)
      val sp = posShingles(docs(s, dir)).cut()
      val dup = sp.select(col("doc_id"), col("sh")).distinct()
        .withColumn("dfd", count(lit(1)).over(Window.partitionBy("sh")))
        .where(col("dfd") >= 2)
        .select(col("doc_id"), col("sh"))
      val runs = sp.join(dup, Seq("doc_id", "sh"))
        .withColumn("grp", col("pos") - row_number().over(
          Window.partitionBy("doc_id").orderBy("pos")))
        .groupBy("doc_id", "grp").agg(count(lit(1)).as("len"))
      val agg = runs.groupBy("doc_id")
        .agg(max("len").as("maxrun"), sum("len").as("ndup"))
      docs(s, dir)
        .select(col("doc_id"),
          greatest(size(split(col("text"), " ")) - 2, lit(0))
            .cast("long").as("n_shingles"))
        .join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_shingles"),
          coalesce(col("ndup"), lit(0L)).as("n_dup_shingles"),
          coalesce(col("maxrun") + 2, lit(0L)).as("max_dup_span"),
          round(when(col("n_shingles") === 0, lit(0.0))
            .otherwise(coalesce(col("ndup"), lit(0L)).cast("double") /
              col("n_shingles")), 6).as("dup_frac"))
        .orderBy("doc_id")
    }),

    // Cross-document MAXIMAL repeated spans (Lee et al. 2022's suffix-
    // array operator, distributed): for every doc pair, every maximal
    // run of consecutively-aligned word-3-grams, reported as (doc_a,
    // doc_b, start_a, start_b, span_len≥MIN_SPAN). q122 only scores
    // per-DOC duplication; this emits the actual shared substrings a
    // span-level dedup pass would cut, with both endpoints. The
    // suffix-array formulation is inherently single-machine (one global
    // sort of the corpus); the distributed recast: aligned occurrence
    // pairs from the inverted 3-gram index live on a DIAGONAL
    // (pos_a − pos_b constant), and a maximal repeated substring is
    // exactly a maximal run of consecutive pos_a on one diagonal —
    // gaps-and-islands per (pair, diagonal), no recursion, no global
    // sort. Scale: postings df-capped BEFORE the pair join (the q29
    // guard); the window partitions by (pair, diag) — bounded by doc
    // length, never corpus size. Integer-only output, total order on
    // (doc_a, doc_b, start_a, start_b) — unique because diag is a
    // function of (start_a, start_b).
    //
    // Cap semantics (ADVICE r8 #4): the SPAN_DF_CAP filter runs BEFORE
    // run detection, so "maximal" is maximal OVER THE CAPPED OCCURRENCE
    // SET — a true span containing one >cap-df shingle mid-run is
    // fragmented into shorter spans (or dropped below MIN_SPAN) in BOTH
    // engines identically. That is the intended trade: a shingle in
    // >SPAN_DF_CAP docs is boilerplate whose pair fan-out is the exact
    // quadratic blow-up this operator exists to avoid, and a span-dedup
    // pass treats boilerplate separately (q88). The capped-shingle drop
    // count is reported in SCALE.md (no-silent-caps convention).
    "q139_repeated_spans" -> ((s, dir) => {
      // eager checkpoints: sp feeds the posting filter AND the occurrence
      // join; occ feeds BOTH self-join sides — un-checkpointed, the plan
      // scanned documents 4x (round-16 audit, jaccardPairs discipline)
      val sp = posShingles(docs(s, dir)).cut()
      val post = sp.select(col("doc_id"), col("sh")).distinct()
        .withColumn("df", count(lit(1)).over(Window.partitionBy("sh")))
        .where(col("df") <= SPAN_DF_CAP)
        .select("doc_id", "sh")
      val occ = sp.join(post, Seq("doc_id", "sh")).cut()
      val m = occ.as("a").join(occ.as("b"),
          col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.pos").as("pos_a"), col("b.pos").as("pos_b"),
          (col("a.pos") - col("b.pos")).as("diag"))
      m.withColumn("grp", col("pos_a") - row_number().over(
          Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")))
        .groupBy("doc_a", "doc_b", "diag", "grp")
        .agg(min("pos_a").as("start_a"), min("pos_b").as("start_b"),
          (count(lit(1)) + 2).as("span_len"))
        .where(col("span_len") >= MIN_SPAN)
        .select("doc_a", "doc_b", "start_a", "start_b", "span_len")
        .orderBy("doc_a", "doc_b", "start_a", "start_b")
    }),

    // Directed shingle containment (Broder '97): c(A→B) = |A∩B| / |A|
    // over distinct word-3-gram sets. Asymmetric by design — a short
    // doc fully quoted inside a long one scores c≈1 in that direction
    // while its symmetric Jaccard (q29) is diluted to |A|/|B|; this is
    // the boilerplate/quotation detector. Same inverted-index family
    // as q29: per-doc set size and per-shingle df both as windows on
    // the distinct posting table (no rejoin), df-capped lists, ordered
    // pairs from the shingle-keyed self-join carrying the LEFT side's
    // size, then one grouped count. Top-k under a total order.
    // (fan-out subtree factored to q123FanOut. The repartition is the
    // round-12 single-pass-aggregate fix: this pair agg reduces 293M →
    // 241M at sf1, so map-side combine is pure overhead — pre-
    // clustering on the pair key's first component measured min 42.1 s
    // vs 66.8 s natural; full rationale at TextOps.jaccardPairs.)
    "q123_containment" -> ((s, dir) => {
      q123FanOut(s, dir)
        .repartition(col("x.doc_id"))
        .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
        .agg(max(col("x.sz")).as("size_a"), count(lit(1)).as("inter"))
        .select(col("a"), col("b"), col("inter"), col("size_a"),
          round(col("inter").cast("double") / col("size_a"), 6)
            .as("containment"))
        .orderBy(col("containment").desc, col("a"), col("b"))
        .limit(CONTAIN_TOPK)
    }),

    // Equal-token curriculum binning — order docs by difficulty (mean
    // chars per token) and cut the ordering into NBINS stages of equal
    // TOKEN budget (not equal doc count): the data-ordering step a
    // curriculum or annealed-mixture schedule consumes. The classic
    // formulation (global sort + corpus-wide cumulative sum) funnels
    // the whole corpus through one partition; this plan aggregates a
    // VALUE-BOUNDED histogram first — integer centi-difficulty
    // (n_chars·100 div n_toks, exact in both engines) has at most a
    // few hundred distinct values regardless of corpus size — runs the
    // cumulative window over the histogram, derives each bucket's
    // stage with integer floor division, and broadcasts the bucket →
    // stage map back onto the corpus. Stage boundaries sit between
    // difficulty buckets, so assignment is deterministic everywhere.
    "q124_curriculum_bins" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("n_chars"),
          size(split(col("text"), " ")).cast("long").as("n_toks"))
        .withColumn("dc", expr("n_chars * 100 div n_toks"))
      val hist = d.groupBy("dc").agg(sum("n_toks").as("btoks"))
      val tot = hist.agg(sum("btoks").as("total"))
      val stages = hist
        // global window is SAFE here: it runs over the histogram, whose
        // row count is bounded by the centi-difficulty VALUE domain
        // (few hundred rows at any corpus size), never by |documents|
        .withColumn("cumb", coalesce(sum("btoks").over(
          Window.orderBy("dc")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .crossJoin(broadcast(tot))
        .select(col("dc"), expr(s"cumb * $NBINS div total").as("stage"))
      d.join(broadcast(stages), "dc")
        .groupBy("stage")
        .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("n_tokens"),
          (min("dc").cast("double") / 100).as("min_difficulty"),
          (max("dc").cast("double") / 100).as("max_difficulty"))
        .orderBy("stage")
    }),

    // Positional phrase search — the exact-match retrieval primitive
    // BM25's bag-of-words postings (q120) cannot answer: find documents
    // containing the query terms CONSECUTIVELY. Classic positional-
    // index evaluation chains term i to term i+1 at pos+1; this form
    // NORMALIZES every posting to its candidate phrase START
    // (start = pos − i), which turns the whole chain into equi-joins
    // on the single key (doc_id, start) — one shuffle partitioning
    // serves every term, and Catalyst pushes the per-term predicate
    // into the posting scan so only the query terms' postings flow
    // (three selective scans of the same exploded frame, not |vocab|).
    // Per-term position sets are duplicate-free by construction, so
    // the join chain IS set intersection — no dedup step.
    "q164_phrase_search" -> ((s, dir) =>
      phraseSearch(docs(s, dir), PHRASE)),

    // Collocation mining — the top adjacent word pairs by count, with
    // pointwise mutual information: the statistic that separates real
    // collocations ("data table" beyond chance) from pairs that merely
    // ride two frequent words. Pair EXTRACTION is zero-shuffle: the
    // token array transforms to its adjacent-pair array per row
    // (arrays_zip over two slices — pure map-side, no posting self-join,
    // no window); the only corpus-sized shuffles are the two partial
    // aggregates (bigram and unigram counts). Unigram table and the
    // scalar totals are vocab-sized → broadcast back onto the bigram
    // frame. Ranking key is (count DESC, pair) — pure integers, no
    // float in the ordering; PMI rides along as
    // round(ln(c_ab·M²/(N·c_a·c_b)), 6) under the q82/q107 libm
    // precedent (the ratio is an exact integer quotient of exact
    // counts before the one ln call).
    "q165_collocations" -> ((s, dir) => {
      val toks = docs(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("arr"))
      // size ≥ 2 guard: slice(arr, 1, size − 1) throws on the negative
      // length an EMPTY doc would produce, and single-token docs must
      // contribute a unigram but no pair row (spec-pinned).
      // arrays_zip(tokens[0..n-2], tokens[1..n-1]) — lambda-free on
      // purpose: the equivalent transform(sequence, i -> …) form
      // carries NamedLambdaVariable ids that defeat plan
      // canonicalization, so the N-total below could NOT reuse the
      // bigram exchange and paid a third corpus scan (verified on the
      // executed AQE plan via `graft.Explain … exec`).
      val pairs = toks.where(size(col("arr")) >= 2).select(explode(
        arrays_zip(
          slice(col("arr"), lit(1), size(col("arr")) - 1).as("a"),
          slice(col("arr"), lit(2), size(col("arr")) - 1).as("b")))
          .as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b"))
        // Inert by construction (split() tokens are never null and the
        // two slices have equal length), but load-bearing for the plan:
        // the unigram joins push exactly these IsNotNulls below the
        // bigram PARTIAL aggregate on their side, so without the same
        // filter here the N-total's exchange canonicalizes differently
        // and AQE re-scans the corpus instead of reusing the shuffle
        // (verified both ways on the executed plan).
        .where(col("a").isNotNull && col("b").isNotNull)
      val uni = toks.select(explode(col("arr")).as("t"))
        .groupBy("t").agg(count(lit(1)).as("c1"))
      val big = pairs.groupBy("a", "b").agg(count(lit(1)).as("c_ab"))
      // Totals fold the ALREADY-AGGREGATED frames (M = Σc1 over the
      // vocab, N = Σc_ab over the bigram table — identical integers to
      // counting the corpus again), so the corpus is scanned exactly
      // twice (token explode, pair explode); the naive count(*) forms
      // cost two more full scans that AQE cannot reuse.
      val tot = uni.agg(sum("c1").as("m"))
      val ntot = big.agg(sum("c_ab").as("n"))
      val w = Window.orderBy(col("c_ab").desc, col("a"), col("b"))
      big
        .join(broadcast(uni.select(col("t").as("a"), col("c1").as("c_a"))), "a")
        .join(broadcast(uni.select(col("t").as("b"), col("c1").as("c_b"))), "b")
        .crossJoin(broadcast(tot)).crossJoin(broadcast(ntot))
        .withColumn("rank", row_number().over(w).cast("long"))
        .where(col("rank") <= COLLOC_K)
        .select(col("rank"), col("a"), col("b"), col("c_ab"),
          col("c_a"), col("c_b"),
          round(log(col("c_ab").cast("double") * col("m") * col("m") /
            (col("n").cast("double") * col("c_a") * col("c_b"))), 6)
            .as("pmi"))
        .orderBy("rank")
    }),
  )

  /** q165: collocations kept (count-desc, pair-asc row_number). The
    * global top-K window runs on the BIGRAM frame (vocab²-bounded and
    * count-≥1-filtered — never corpus-sized); K is output-sized. */
  private[graft] val COLLOC_K = 20L

  /** q164: the shipped query phrase — two mid-frequency corpus terms,
    * selective but binding at every sf (20/36/296 matches at
    * sf0.001/0.01/0.1). The implementation chains ANY length. */
  private[graft] val PHRASE = Seq("table", "value")

  /** q164 core: consecutive-term match via start-normalized postings. */
  private[graft] def phraseSearch(docs: DataFrame,
      phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "empty phrase")
    val p = docs.select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "term")))
    val parts = phrase.zipWithIndex.map { case (t, i) =>
      p.where(col("term") === t)
        .select(col("doc_id"), (col("pos") - i).cast("long").as("start"))
    }
    parts.reduce((a, b) => a.join(b, Seq("doc_id", "start")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_matches"), min("start").as("first_pos"))
      .orderBy("doc_id")
  }

  def oracles: Map[String, String] = Map(

    "q120_bm25_retrieval" ->
      s"""WITH $BM25_RANKED_CTES
        |SELECT qid, rnk, doc_id, bm25 FROM ranked
        |WHERE rnk <= $BM25_TOPK ORDER BY qid, rnk""".stripMargin,

    // q178 ≡ q120 by construction (same query rule, same factored
    // scoring tail, different storage): the oracle is q120's VERBATIM,
    // so prebuilt-index serving is hash-checked against the
    // build-every-time form every round.
    "q178_bm25_prebuilt" ->
      s"""WITH $BM25_RANKED_CTES
        |SELECT qid, rnk, doc_id, bm25 FROM ranked
        |WHERE rnk <= $BM25_TOPK ORDER BY qid, rnk""".stripMargin,

    // the two chained stages as two chained CTEs: the same BM25 ranking
    // cut at RERANK_CAND, then the exact-cosine re-score of exactly
    // those candidate pairs (VERDICT r15 #5's oracle shape)
    "q190_retrieve_rerank" ->
      s"""WITH $BM25_RANKED_CTES,
        |emb AS (
        | SELECT vec_id, embedding::DOUBLE[] AS e,
        |  SQRT(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
        |    AS nrm
        | FROM embeddings),
        |cand AS (
        | SELECT qid, doc_id, rnk AS bm25_rnk FROM ranked
        | WHERE rnk <= $RERANK_CAND),
        |resc AS (
        | SELECT c.qid, c.doc_id, c.bm25_rnk,
        |  ROUND(list_dot_product(q.e, d.e) / (q.nrm * d.nrm), 6) AS cos
        | FROM cand c
        | JOIN emb q ON c.qid = q.vec_id
        | JOIN emb d ON c.doc_id = d.vec_id),
        |rr AS (
        | SELECT qid, doc_id, cos, bm25_rnk,
        |  ROW_NUMBER() OVER (PARTITION BY qid
        |    ORDER BY cos DESC, doc_id) AS rnk
        | FROM resc)
        |SELECT qid, rnk, doc_id, cos, bm25_rnk FROM rr
        |WHERE rnk <= $BM25_TOPK ORDER BY qid, rnk""".stripMargin,

    // BM25 chain + the Jaccard ranker off the same tf relation, fused.
    "q131_rrf_fusion" ->
      s"""WITH $BM25_RANKED_CTES,
        |ab AS (SELECT qid, doc_id, rnk AS ra FROM ranked
        |       WHERE rnk <= $BM25_TOPK),
        |nd AS (SELECT doc_id, COUNT(*) AS nd FROM tf GROUP BY doc_id),
        |inter AS (
        | SELECT q.qid, t.doc_id, COUNT(*) AS ni
        | FROM tf t JOIN qt q USING (tok)
        | WHERE t.doc_id != q.qid GROUP BY 1, 2),
        |jb AS (
        | SELECT qid, doc_id, rb FROM (
        |  SELECT i.qid, i.doc_id,
        |   ROW_NUMBER() OVER (PARTITION BY i.qid ORDER BY
        |     ROUND(CAST(ni AS DOUBLE) / (nq.nd + dd.nd - ni), 6) DESC,
        |     i.doc_id) AS rb
        |  FROM inter i
        |  JOIN nd dd ON i.doc_id = dd.doc_id
        |  JOIN nd nq ON i.qid = nq.doc_id)
        | WHERE rb <= $BM25_TOPK),
        |fused AS (
        | SELECT COALESCE(a.qid, b.qid) AS qid,
        |  COALESCE(a.doc_id, b.doc_id) AS doc_id,
        |  ROUND(COALESCE(CAST(1 AS DOUBLE) / ($RRF_K + a.ra), 0)
        |      + COALESCE(CAST(1 AS DOUBLE) / ($RRF_K + b.rb), 0), 6) AS rrf
        | FROM ab a FULL OUTER JOIN jb b
        |   ON a.qid = b.qid AND a.doc_id = b.doc_id)
        |SELECT qid, rnk, doc_id, rrf FROM (
        | SELECT qid, doc_id, rrf,
        |  ROW_NUMBER() OVER (PARTITION BY qid
        |    ORDER BY rrf DESC, doc_id) AS rnk
        | FROM fused) WHERE rnk <= $BM25_TOPK ORDER BY qid, rnk""".stripMargin,

    // the THETA form of the same join — equal hash proves the bucket
    // equi-join recast changed the plan, not the answer
    "q121_interval_join" ->
      s"""WITH ${EventOps.SESSION_SQL},
        |si AS (
        | SELECT user_id, session_id,
        |  MIN(epoch_us(ts)) AS s0, MAX(epoch_us(ts)) AS s1
        | FROM sess GROUP BY 1, 2),
        |inc AS (
        | SELECT (epoch_us(ts) // $HOUR_US) * $HOUR_US AS i0,
        |  COUNT(*) AS n_errors
        | FROM events WHERE event_type = 'error'
        | GROUP BY 1 HAVING COUNT(*) >= $ERR_MIN)
        |SELECT s.user_id, s.session_id, i.i0 AS incident_start_us,
        | i.n_errors,
        | LEAST(s.s1, i.i0 + $HOUR_US) - GREATEST(s.s0, i.i0)
        |   AS overlap_us
        |FROM si s JOIN inc i
        |  ON s.s0 < i.i0 + $HOUR_US AND i.i0 <= s.s1
        |ORDER BY s.user_id, s.session_id, incident_start_us""".stripMargin,

    "q122_duplicate_spans" ->
      s"""WITH $SHINGLE_SQL,
        |dup AS (
        | SELECT doc_id, sh FROM (
        |  SELECT doc_id, sh, COUNT(*) OVER (PARTITION BY sh) AS dfd
        |  FROM (SELECT DISTINCT doc_id, sh FROM sp))
        | WHERE dfd >= 2),
        |runs AS (
        | SELECT doc_id, grp, COUNT(*) AS len FROM (
        |  SELECT sp.doc_id, sp.pos,
        |   sp.pos - ROW_NUMBER() OVER (PARTITION BY sp.doc_id
        |     ORDER BY sp.pos) AS grp
        |  FROM sp JOIN dup USING (doc_id, sh))
        | GROUP BY 1, 2),
        |agg AS (
        | SELECT doc_id, MAX(len) AS maxrun, SUM(len) AS ndup
        | FROM runs GROUP BY 1),
        |base AS (
        | SELECT doc_id,
        |  GREATEST(CAST(len(string_split(text, ' ')) AS BIGINT) - 2, 0)
        |    AS n_shingles
        | FROM documents)
        |SELECT b.doc_id, b.n_shingles,
        | CAST(COALESCE(a.ndup, 0) AS BIGINT) AS n_dup_shingles,
        | COALESCE(a.maxrun + 2, 0) AS max_dup_span,
        | ROUND(CASE WHEN b.n_shingles = 0 THEN CAST(0 AS DOUBLE)
        |       ELSE CAST(COALESCE(a.ndup, 0) AS DOUBLE) / b.n_shingles
        |       END, 6) AS dup_frac
        |FROM base b LEFT JOIN agg a USING (doc_id)
        |ORDER BY b.doc_id""".stripMargin,

    "q139_repeated_spans" ->
      s"""WITH $SHINGLE_SQL,
        |post AS (
        | SELECT doc_id, sh FROM (
        |  SELECT doc_id, sh, COUNT(*) OVER (PARTITION BY sh) AS df
        |  FROM (SELECT DISTINCT doc_id, sh FROM sp))
        | WHERE df <= $SPAN_DF_CAP),
        |occ AS (SELECT sp.doc_id, sp.pos, sp.sh
        |        FROM sp JOIN post USING (doc_id, sh)),
        |m AS (
        | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  a.pos AS pos_a, b.pos AS pos_b, a.pos - b.pos AS diag
        | FROM occ a JOIN occ b
        |   ON a.sh = b.sh AND a.doc_id < b.doc_id),
        |runs AS (
        | SELECT doc_a, doc_b, diag,
        |  pos_a - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, diag
        |    ORDER BY pos_a) AS grp,
        |  pos_a, pos_b FROM m),
        |spans AS (
        | SELECT doc_a, doc_b, MIN(pos_a) AS start_a, MIN(pos_b) AS start_b,
        |  COUNT(*) + 2 AS span_len
        | FROM runs GROUP BY doc_a, doc_b, diag, grp)
        |SELECT doc_a, doc_b, start_a, start_b, span_len
        |FROM spans WHERE span_len >= $MIN_SPAN
        |ORDER BY doc_a, doc_b, start_a, start_b""".stripMargin,

    "q123_containment" ->
      s"""WITH ${TextOps.SH_CTE},
        |p AS MATERIALIZED (
        | SELECT doc_id, sh, sz, df FROM (
        |  SELECT doc_id, sh,
        |   COUNT(*) OVER (PARTITION BY doc_id) AS sz,
        |   COUNT(*) OVER (PARTITION BY sh) AS df
        |  FROM sh)
        | WHERE df <= $CONTAIN_DF_CAP),
        |ag AS (
        | SELECT x.doc_id AS a, y.doc_id AS b,
        |  MAX(x.sz) AS size_a, COUNT(*) AS inter
        | FROM p x JOIN p y
        |   ON x.sh = y.sh AND x.doc_id != y.doc_id
        | GROUP BY 1, 2)
        |SELECT a, b, inter, size_a,
        | ROUND(CAST(inter AS DOUBLE) / size_a, 6) AS containment
        |FROM ag ORDER BY containment DESC, a, b
        |LIMIT $CONTAIN_TOPK""".stripMargin,

    "q124_curriculum_bins" ->
      s"""WITH d AS MATERIALIZED (
        | SELECT doc_id, n_chars,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
        |  n_chars * 100 // CAST(len(string_split(text, ' ')) AS BIGINT)
        |    AS dc
        | FROM documents),
        |hist AS MATERIALIZED (
        | SELECT dc, SUM(n_toks) AS btoks FROM d GROUP BY 1),
        |tot AS (SELECT SUM(btoks) AS total FROM hist),
        |st AS (
        | SELECT dc, COALESCE(SUM(btoks) OVER (ORDER BY dc
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |   AS cumb
        | FROM hist),
        |stg AS (SELECT dc, CAST(cumb * $NBINS // total AS BIGINT) AS stage
        |        FROM st, tot)
        |SELECT stage, COUNT(*) AS n_docs,
        | CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
        | CAST(MIN(d.dc) AS DOUBLE) / 100 AS min_difficulty,
        | CAST(MAX(d.dc) AS DOUBLE) / 100 AS max_difficulty
        |FROM d JOIN stg USING (dc) GROUP BY 1 ORDER BY stage""".stripMargin,

    // generated from the SAME PHRASE constant as the Spark side
    "q164_phrase_search" -> {
      val from = PHRASE.zipWithIndex.map { case (t, i) =>
        val sub = s"(SELECT doc_id, pos - $i AS start FROM p WHERE term = '$t') t$i"
        if (i == 0) sub else s"JOIN $sub USING (doc_id, start)"
      }.mkString("\n  ")
      s"""WITH p AS (
         | SELECT doc_id, unnest(string_split(text, ' ')) AS term,
         |  generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
         | FROM documents)
         |SELECT doc_id, COUNT(*) AS n_matches,
         | CAST(MIN(start) AS BIGINT) AS first_pos
         |FROM $from
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    "q165_collocations" ->
      s"""WITH p AS (
         | SELECT doc_id, unnest(string_split(text, ' ')) AS term,
         |  generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
         | FROM documents),
         |pr AS (
         | SELECT x.term AS a, y.term AS b
         | FROM p x JOIN p y ON y.doc_id = x.doc_id AND y.pos = x.pos + 1),
         |uni AS (SELECT term AS t, COUNT(*) AS c1 FROM p GROUP BY 1),
         |tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS m FROM uni),
         |nt AS (SELECT COUNT(*) AS n FROM pr),
         |big AS (SELECT a, b, COUNT(*) AS c_ab FROM pr GROUP BY 1, 2),
         |rk AS (
         | SELECT a, b, c_ab,
         |  ROW_NUMBER() OVER (ORDER BY c_ab DESC, a, b) AS rank
         | FROM big)
         |SELECT rank, rk.a, rk.b, c_ab, ua.c1 AS c_a, ub.c1 AS c_b,
         | ROUND(ln(CAST(c_ab AS DOUBLE) * m * m /
         |   (CAST(n AS DOUBLE) * ua.c1 * ub.c1)), 6) AS pmi
         |FROM rk
         |JOIN uni ua ON ua.t = rk.a
         |JOIN uni ub ON ub.t = rk.b
         |CROSS JOIN tot CROSS JOIN nt
         |WHERE rank <= $COLLOC_K
         |ORDER BY rank""".stripMargin,
  )
}
