package graft

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** Partition-independence, tested rather than asserted: the queries whose
  * semantics could most plausibly leak partitioning (hash-bucket split,
  * reservoir sampling, hash-seeded k-means, LSH banding with caps,
  * vocabulary tie-breaks, star-contraction rounds) are run twice — once
  * under the normal test layout and once with the input split into many
  * tiny file partitions and a co-prime shuffle partition count — and must
  * produce row-identical output. At 100 TB the partition layout is never
  * under the query author's control, so any layout-sensitivity is a
  * correctness bug, not a nuisance.
  */
class PartitionInvarianceSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  private val QUERIES = Seq(
    "q66_hash_split",
    "q67_stratified_sample",
    "q68_kmeans",
    "q27_minhash_near_dup",
    "q65_dedup_clusters",
    "q90_vocab_coverage",
    // r6 sketch/serving tier: CMS merge order, top-8 tie-break, bloom
    // partial-bitset merge, and the md5 Bernoulli draw must all be
    // layout-free
    "q98_cms_heavy_hitters",
    "q100_bloom_prefilter",
    // r7 SemDeDup: hash-seeded k-means feeding a per-cell dominance
    // self-join — centroid rank ties and the distinct() must be
    // layout-free
    "q129_semdedup",
    // r7 HLL rollup: sketch build + union partials merge in whatever
    // order the layout dictates — the within_bound verdict (and the
    // exact columns) must not see it
    "q136_hll_rollup",
    "q137_hll_sliding",
    "q101_source_mix_resample",
    "q102_cluster_safe_split",
    // late r6: decimal-pinned PageRank sums and the A-ES weighted ranks
    // must not depend on summation/merge order
    "q104_pagerank",
    // q158 shares q104's pair build and loop, seeded by doc_id: neither
    // may see the layout (at this scale both loops run in-process;
    // LocalRankSpec varies the layout under the distributed tier)
    "q158_personalized_pagerank",
    "q107_weighted_sample",
    // the broadcast as-of rebuilds its (ts, tie)-sorted index per TASK
    // from broadcast rows whose arrival order the layout controls — the
    // sort + binary search must erase that order completely
    "q113_asof_broadcast",
    // incremental dedup: the persisted index's bucket cap and the
    // broadcast probe must not depend on build/probe partitioning
    "q114_incremental_dedup",
    // selection tier: the DSIR decimal sum must be summation-order-free
    // and the MMR greedy's per-round argmax (centroid avg, first()-on-
    // constant groups, driver-collected picks) must be layout-free
    "q115_dsir_selection",
    "q119_mmr_selection",
    // retrieval tier: BM25's decimal contribution sum and rank ties,
    // the containment top-k boundary, and the curriculum histogram cut
    // must all be summation-/layout-order-free
    "q120_bm25_retrieval",
    "q123_containment",
    "q124_curriculum_bins",
    // CMS join-size estimate: integer cell sums + min-over-depth must
    // not see merge order
    "q126_join_size_estimate",
    // time-series tier: the decimal daily sums feeding the forward fill
    // and the unrolled-lag EWMA must be summation-order-free, and the
    // fill/lag windows must see only the (user, day) total order
    "q127_gap_fill",
    "q128_ewma")

  private def run(name: String): Array[Row] =
    SparkEntry.queries(name)(s, sfDir).collect()

  test("partition layout does not change any partition-sensitive query") {
    val conf = s.conf
    val prevBytes = conf.get("spark.sql.files.maxPartitionBytes", "128MB")
    val prevShuffle = conf.get("spark.sql.shuffle.partitions")
    val baseline = QUERIES.map(q => q -> run(q)).toMap
    try {
      // ~64 KB splits shatter even sf0.001 parquet into many input
      // partitions; 7 is co-prime to the default 4 so every shuffle
      // re-buckets differently
      conf.set("spark.sql.files.maxPartitionBytes", "65536")
      conf.set("spark.sql.shuffle.partitions", "7")
      QUERIES.foreach { q =>
        assert(run(q).toSeq === baseline(q).toSeq,
          s"$q changed under a different partition layout")
      }
    } finally {
      conf.set("spark.sql.files.maxPartitionBytes", prevBytes)
      conf.set("spark.sql.shuffle.partitions", prevShuffle)
    }
  }
}
