package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import Lineage.LineageOps

/** Connected components over an undirected edge list — the cluster-
  * formation step of the near-dup pipeline (q65).
  *
  * Two implementations with identical output (doc_id, label = component
  * minimum id) over the nodes incident to at least one edge:
  *
  *  - `minLabelPropagation`: each node repeatedly adopts the smallest
  *    label in its closed neighborhood. Simple, but needs one shuffle
  *    round per unit of GRAPH DISTANCE to the component minimum — a
  *    chain of D near-identical boilerplate docs costs D rounds, and a
  *    silently-exiting cap returned WRONG labels (the r4 defect). It now
  *    fails loudly at the cap and remains as the equivalence-test foil.
  *  - `starContraction`: alternating large-star/small-star contraction
  *    (the MapReduce connected-components algorithm of Kiveris et al.,
  *    "Connected Components in MapReduce and Beyond", SoCC 2014):
  *    large-star hangs every node's larger neighbors onto its
  *    neighborhood minimum, small-star hangs its smaller-or-equal ones;
  *    alternating the two contracts every component into a star rooted
  *    at the component minimum in O(log² n) rounds (O(log n) observed) —
  *    independent of component DIAMETER, which is what the 100 TB path
  *    needs. This is the production path behind q65.
  *
  * Edges are kept normalized as (u, v) with u > v; self-loops are
  * dropped. Convergence = the edge set is a fixpoint of one
  * large-star + small-star round, detected by a (count, xxhash64-xor)
  * signature — one single-row aggregate per round instead of an edge-set
  * anti-join (a xor collision across distinct DISTINCT-ed edge sets is
  * ~2⁻⁶⁴ and only ever INTERNAL: the result is oracle-checked; xor, not
  * sum, because ANSI mode makes a hash sum overflow). Each round's
  * state is a lazy [[Lineage.cut]] — the Pregel shape, same as the q68
  * Lloyd loop: the plan is truncated to the materialized state, and its
  * clamped size estimate keeps a deep loop's planning flat. The loops here (`starContractionWithRounds`, `kCore`,
  * `bfsLayers`) each keep their own stop rule and cap message.
  */
object Components {

  /** (row count, hash xor) — cheap edge-set identity for the fixpoint
    * test. */
  private def sig(e: DataFrame): (Long, Long) = {
    val r = e.agg(count(lit(1)),
      coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Both orientations of a normalized edge list. */
  private def undirected(e: DataFrame): DataFrame =
    e.select(col("u"), col("v"))
      .union(e.select(col("v").as("u"), col("u").as("v")))

  /** Large-star: for every node x, connect each STRICTLY LARGER neighbor
    * v to m(x) = min(Γ(x) ∪ {x}). Output stays (u > v)-normalized since
    * v > x ≥ m(x), and is NOT deduped here — the following small-star's
    * min aggregate is duplicate-insensitive and dedupes its own output,
    * so large-star saves one exchange per round. */
  private def largeStar(e: DataFrame): DataFrame = {
    val und = undirected(e)
    val mins = und.groupBy(col("u").as("x")).agg(min("v").as("mn"))
      .select(col("x"), least(col("mn"), col("x")).as("m"))
    und.join(mins, col("u") === col("x"))
      .where(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
  }

  /** Small-star: for every node u (the larger end of each normalized
    * edge), connect its smaller neighbors N and u itself to m = min(N).
    * Output stays normalized: every emitted node exceeds m. */
  private def smallStar(e: DataFrame): DataFrame = {
    val mins = e.groupBy(col("u").as("x")).agg(min("v").as("m"))
    val withM = e.join(mins, col("u") === col("x"))
    val vToM = withM.where(col("v") =!= col("m"))
      .select(col("v").as("u"), col("m").as("v"))
    val uToM = withM.select(col("u"), col("m").as("v"))
    vToM.union(uToM)
      .where(col("u") =!= col("v"))
      .distinct()
  }

  /** Production path: large-star/small-star contraction. Returns
    * ((doc_id, label), rounds). Throws IllegalStateException if the edge
    * set has not reached a fixpoint within `maxIter` rounds — never
    * partial labels.
    *
    * Node-set contract (ADVICE r8 #1): the labeled nodes are the
    * endpoints of at least one NON-self-loop edge. A (u, u) input edge
    * contributes neither an edge nor a node — labels derive from the
    * checkpointed normalized edge set, which drops self-loops (see the
    * `nodes` comment below for why the raw arg must not be re-read).
    * minLabelPropagation applies the same rule, so the equivalence spec
    * compares identical node sets. No catalog caller emits self-loops
    * (jaccardPairs guarantees da < db); the contract is pinned here for
    * external callers. */
  private[graft] def starContractionWithRounds(edges: DataFrame,
      maxIter: Int = 30): (DataFrame, Int) = {
    // Lazy cuts: the sig() aggregate is the action that materializes
    // each round's edge set, so every round costs ONE job (an eager cut
    // + separate sig would cost two). Each cut clamps its size estimate,
    // so the estimates the rounds' self-joins multiply cannot compound
    // (the q104 stats-BigInt tax).
    val e0 = edges
      .select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .where(col("u") =!= col("v"))
      .distinct().cut(false)
    // Node set from the CHECKPOINTED normalized edges, not the raw
    // `edges` arg: the caller's edge subtree (q65/q102: the whole q29
    // pairs build, ~40% of those queries' runtime at 10x scale) would
    // otherwise be re-evaluated once per consumer of the returned
    // labels — measured in the r8 scale sweep (SCALE.md).
    val nodes = undirected(e0).select(col("u").as("doc_id")).distinct()
    var e = e0
    var prevSig = sig(e)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val next = smallStar(largeStar(e)).cut(false)
      val nextSig = sig(next)
      converged = nextSig == prevSig
      prevSig = nextSig
      e = next
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"star contraction did not converge within $maxIter rounds")
    // Fixpoint edges are stars (v, component-min): label every node by
    // its root; roots label themselves.
    val labels = nodes
      .join(e.select(col("u").as("doc_id"), col("v").as("label")),
        Seq("doc_id"), "left")
      .groupBy("doc_id")
      .agg(coalesce(min("label"), min("doc_id")).as("label"))
    (labels, iter)
  }

  private[graft] def starContraction(edges: DataFrame,
      maxIter: Int = 30): DataFrame =
    starContractionWithRounds(edges, maxIter)._1

  /** Per-node triangle participation counts over an undirected simple
    * graph (q148) — the structural-density metric of a near-dup cluster:
    * a boilerplate clique is triangle-saturated while a chain of
    * pairwise-similar revisions has none, so n_tri/deg separates "true
    * duplicate cluster" from "drifting near-dup chain" where component
    * size alone cannot.
    *
    * Algorithm: degree-ordered edge orientation (the classic external-
    * memory/MapReduce triangle count — Suri & Vassilvitskii, "Counting
    * Triangles and the Curse of the Last Reducer", WWW 2011). Under the
    * total order η(x) = (deg(x), x), every edge is directed toward its
    * η-larger endpoint; each triangle {a,b,c} with η(a)<η(b)<η(c) then
    * appears EXACTLY once as the wedge (a→b, a→c) closed by the edge
    * b→c. The point at scale: after orientation every node's
    * OUT-degree is O(√m), so the wedge join's per-key fan-out is
    * bounded — a celebrity node with 10⁶ neighbors contributes 10⁶
    * wedge-join ROWS but never 10¹² wedge pairs, because its incident
    * edges all point INTO it. (The naive u<v wedge join has exactly
    * that quadratic hot-key blowup; the oracle uses it, at sf scale,
    * as the independent check.)
    *
    * Edges are normalized/deduped defensively (callers like
    * jaccardPairs already guarantee u < v distinct); the entry
    * checkpoint keeps the caller's pairs subtree from re-evaluating
    * under the three consumers (degree build + both wedge sides — the
    * q65 lesson), and the oriented edge list is lazily checkpointed
    * because the wedge join reads it twice and the closing join a third
    * time. Output: (doc_id, n_tri) for every node in ≥ 1 triangle. */
  private[graft] def triangleCounts(pairs: DataFrame): DataFrame =
    triangleCountsOf(pairs
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .where(col("u") =!= col("v"))
      .distinct().cut(false))

  /** Census body over edges the CALLER already normalized (u < v,
    * deduped) and materialized — the house `…Of(base)` form (round 16):
    * clusteringCoeff checkpoints exactly this relation for its own
    * degree aggregate, and the entry cut above re-shuffled and
    * re-materialized it a second time when called through the (pairs)
    * wrapper. q148 keeps the wrapper (its caller hands raw pairs). */
  private[graft] def triangleCountsOf(edges: DataFrame): DataFrame = {
    val deg = undirected(edges)
      .groupBy(col("u").as("x")).agg(count(lit(1)).as("d"))
    val withDeg = edges
      .join(deg.select(col("x").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("x").as("v"), col("d").as("dv")), "v")
    val oriented = withDeg.select(
        when(col("du") < col("dv") ||
             (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("s"), col("v").as("t"), col("dv").as("dt")))
        .otherwise(
          struct(col("v").as("s"), col("u").as("t"), col("du").as("dt")))
        .as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"), col("e.dt").as("dt"))
      .cut(false)
    // wedges at the η-minimum corner; strict (dt, t) order picks each
    // unordered target pair once, in the SAME η order the orientation
    // used, so the closing edge is guaranteed to run b→c
    val e1 = oriented.select(col("s"), col("t").as("b"), col("dt").as("db_"))
    val e2 = oriented.select(col("s").as("s2"), col("t").as("c"),
      col("dt").as("dc_"))
    val wedges = e1.join(e2, col("s") === col("s2") &&
        (col("db_") < col("dc_") ||
         (col("db_") === col("dc_") && col("b") < col("c"))))
      .select(col("s").as("a"), col("b"), col("c"))
    val closing = oriented.select(col("s").as("b2"), col("t").as("c2"))
    // EAGER checkpoint of the enumerated triangle list (round 16): the
    // per-corner credit below references tri THREE times, and the
    // column pruning each branch pushes down (a vs b vs c) makes the
    // three wedge-join subtrees DIFFER at the exchange level, so
    // neither ReuseExchange nor AQE's stage cache dedupes them — the
    // static plan enumerated every triangle 3× (plans/r16/
    // q148_triangle_count_before.txt). Eager, not lazy, because all
    // three branches sit in the same final job (the q161 race-compute
    // lesson). The materialized frame is triangle-sized — bounded by
    // the wedge census, far below the edge list it came from.
    val tri = wedges.join(closing,
        col("b") === col("b2") && col("c") === col("c2"))
      .select("a", "b", "c")
      .cut()
    tri.select(col("a").as("doc_id"))
      .unionByName(tri.select(col("b").as("doc_id")))
      .unionByName(tri.select(col("c").as("doc_id")))
      .groupBy("doc_id").agg(count(lit(1)).as("n_tri"))
  }

  /** k-core of an undirected simple graph (q149): the maximal subgraph
    * in which every node keeps degree ≥ k, by PARALLEL PEELING — each
    * round deletes EVERY node currently under-degree (not one at a
    * time, the sequential textbook order), which reaches the same
    * unique fixpoint because k-core membership is order-independent
    * (the standard Matula–Beck argument). On the similarity graph this
    * is the third structure diagnostic next to q65 (membership) and
    * q148 (closure): pendant chains of drifting revisions peel away,
    * boilerplate cliques survive as cores.
    *
    * Plan per round: one degree aggregate over the undirected view
    * (shuffle on node id) and two LEFT SEMI joins re-filtering the edge
    * list (shuffles on u, then v) — all over a monotonically SHRINKING
    * edge set; the `alive` frame is lazily checkpointed because both
    * semi joins read it. Convergence = edge COUNT unchanged, which on a
    * deletion-only loop is a proof, not a heuristic (equal cardinality
    * of nested sets forces equality), so the per-round action is a bare
    * count. Round count = peel depth; a path is the worst case
    * (length/2 rounds for k=2) and the `cap` fails loudly rather than
    * returning a half-peeled subgraph (the r4 components lesson).
    * Carried state is a lazy [[Lineage.cut]], so plan stats stay
    * bounded at any depth. Output: (doc_id, core_deg) for the core's
    * nodes — degrees WITHIN the core, each ≥ k by construction. */
  private[graft] def kCore(pairs: DataFrame, k: Int, cap: Int): DataFrame = {
    var edges = pairs
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .where(col("u") =!= col("v"))
      .distinct().cut(false)
    var n = edges.count()
    var round = 0
    var converged = n == 0L
    while (!converged) {
      round += 1
      require(round <= cap, s"kCore: still peeling after $cap rounds")
      val alive = undirected(edges)
        .groupBy(col("u").as("x")).agg(count(lit(1)).as("d"))
        .where(col("d") >= k)
        .select("x")
        .cut(false)
      val next = edges
        .join(alive.select(col("x").as("u")), Seq("u"), "left_semi")
        .join(alive.select(col("x").as("v")), Seq("v"), "left_semi")
        .select("u", "v").cut(false)
      val m = next.count()
      converged = m == n
      n = m
      edges = next
    }
    undirected(edges)
      .groupBy(col("u").as("doc_id")).agg(count(lit(1)).as("core_deg"))
  }

  /** BFS hop-distance layers from a seed set (q172) — the expansion-wave
    * primitive of seed-anchored curation: hop distance to the nearest
    * trusted doc as a provenance-proximity signal, sitting between q65
    * (reachable at all?) and q158 (PPR mass — decays with BOTH distance
    * and branching). Seeds: graph nodes with doc_id ≡ 0 (mod seedMod),
    * distance 0; round k labels every unlabeled neighbor of the round
    * k−1 frontier with distance k.
    *
    * Plan per round: frontier ⋈ undirected edges (shuffle keyed on the
    * source id) → distinct neighbor set → LEFT ANTI against the
    * accumulated labels — every frame FRONTIER-sized, never graph-sized
    * except the edge probe, and the frontier is monotonically consumed
    * (total work across all rounds = O(m + n), the textbook BFS bound,
    * just bucketed by rounds). Round count = eccentricity of the seed
    * set ≤ graph diameter; the cap fails loudly. Carried labels are
    * lazy [[Lineage.cut]]s, so plan stats stay bounded at any depth.
    * Convergence = empty new frontier — on a grow-only label set
    * that is a proof, not a heuristic. Output: (doc_id, dist) for
    * REACHABLE nodes only (unreachable-from-seeds is q65's membership
    * question, not a distance). */
  private[graft] def bfsLayers(pairs: DataFrame, seedMod: Long,
      cap: Int): DataFrame = {
    val edges = pairs
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .where(col("u") =!= col("v"))
      .distinct().cut(false)
    val und = undirected(edges).cut(false)
    var labels = und.select(col("u").as("doc_id")).distinct()
      .where(pmod(col("doc_id"), lit(seedMod)) === 0)
      .select(col("doc_id"), lit(0L).as("dist"))
      .cut(false)
    var frontier = labels
    var round = 0
    var done = frontier.isEmpty
    while (!done) {
      round += 1
      require(round <= cap, s"bfsLayers: still expanding after $cap rounds")
      val fresh = frontier.select(col("doc_id").as("u"))
        .join(und, Seq("u"))
        .select(col("v").as("doc_id")).distinct()
        .join(labels, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), lit(round.toLong).as("dist")).cut(false)
      if (fresh.isEmpty) done = true
      else {
        labels = labels.unionByName(fresh).cut(false)
        frontier = fresh
      }
    }
    labels
  }

  /** Foil / property-test twin: naive min-label propagation. Rounds =
    * max graph distance to a component minimum; FAILS LOUDLY when the
    * cap exits before the fixpoint (the r4 form silently returned the
    * partial labels). */
  private[graft] def minLabelPropagation(edges: DataFrame,
      maxIter: Int = 20): DataFrame = {
    // same node-set contract as starContraction: self-loops contribute
    // neither edges nor nodes
    val und = undirected(edges.where(col("u") =!= col("v")))
      .cut()
    var labels = und.select(col("u").as("doc_id")).distinct()
      .withColumn("label", col("doc_id"))
      .cut()
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      val nbrMin = und
        .join(labels.select(col("doc_id").as("v"), col("label").as("nl")),
          "v")
        .groupBy(col("u").as("doc_id")).agg(min("nl").as("nbl"))
      // lazy: the `changed` count below is the materializing action
      val next = labels.join(nbrMin, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("label"), coalesce(col("nbl"), col("label")))
            .as("label"))
        .cut(false)
      changed = next.join(labels.select(col("doc_id"),
          col("label").as("old")), "doc_id")
        .where(col("label") =!= col("old")).count()
      labels = next
      iter += 1
    }
    if (changed > 0)
      throw new IllegalStateException(
        s"min-label propagation did not converge within $maxIter rounds " +
          "(component diameter exceeds the cap) — refusing to return " +
          "partial labels; use Components.starContraction")
    labels
  }
}
