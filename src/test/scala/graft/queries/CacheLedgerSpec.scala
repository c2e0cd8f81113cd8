package graft.queries

import graft.{SparkEntry, SparkSpec}

/** The cache ledger: every batch catalog query that still holds a
  * persisted frame once it is built, grouped by why the cache stays
  * (SCALE.md "Cache lifecycle contract"). `persist` registers its plan
  * with the CacheManager when it is called, so building each query at
  * sf0.001, with no action, is enough to see it. A query that gains or
  * loses a cache fails here until the ledger names the change. Plan
  * pins elsewhere assert cache READS; this spec sees registration
  * only. */
class CacheLedgerSpec extends SparkSpec {

  /** More than one action reads the cached frame (a driver collect
    * plus the result, or a driver loop), or Spark requires the cache
    * (q242 queries `_corrupt_record` of a raw JSON read). */
  private val multiAction = Set(
    "q59_simhash_pairs", "q177_mix_allocation", "q189_mmr_rerank",
    "q192_dsir_weights", "q210_cell_caps", "q228_bloom_replay",
    "q242_jsonl_quarantine", "q247_record_linkage")

  /** One action reads the cache, but the query measured slower
    * without it at sf0.1, per execution (cache cleared between runs):
    * exchange reuse shares only the work below the exchange. */
  private val measuredSlower = Set(
    "q35_embedding_neardup", "q70_decontaminate", "q77_bm25",
    "q81_semdedup", "q82_pagerank", "q88_segment_dedup",
    "q100_gap_fill", "q113_cooccurrence", "q123_bigram_lm",
    "q125_label_cohesion", "q126_weighted_pagerank", "q128_ivf_balance",
    "q145_prefix_jaccard", "q153_pad_batching", "q178_max_spans",
    "q185_simhash_pairs", "q190_margin_mining", "q200_market_basket",
    "q201_winnowing", "q202_winnow_pairs", "q222_rand_stability",
    "q230_modularity", "q233_ingest_dedup", "q246_frame_dhash")

  /** Share `Dedup.minhashDocsAndCands`: dropping its caches speeds
    * q223 up and slows q184 down, so both keep them. */
  private val sharedHelper = Set("q184_minhash_jaccard", "q223_lsh_recall")

  /** Inherit the cache of a kept query they build on: q181 ranks q77's
    * BM25, q182 fills q177's allocation, q241 runs q126's weighted
    * PageRank. */
  private val inherited = Set(
    "q181_hybrid_rrf", "q182_curated_mix", "q241_textrank")

  /** One action reads the cache, and `graft.Bench` times the query
    * faster with it than without: Bench clears the cache only after
    * all timed runs of a query, so its second run reads the cache that
    * its first run filled. Per execution, with the cache cleared
    * between runs, the uncached plans ran fewer jobs and were no
    * slower beyond the cached plan's run-to-run spread.
    * Re-decide them once Bench clears between runs. */
  private val benchReuse = Set(
    "q58_heavy_hitters", "q74_dup_ngram_coverage", "q79_lm_quality",
    "q97_frame_dedup", "q99_label_prop", "q195_contrastive_pairs",
    "q219_markov_eval", "q224_cms_width_sweep", "q245_ingest_ann")

  /** One action reads the cache (three consumers of q24's per-doc
    * shingle hashes), and no measurement of the uncached plan has
    * been made yet. */
  private val unmeasured = Set("q24_minhash_lsh")

  private val groups = Seq(multiAction, measuredSlower, benchReuse,
                           sharedHelper, inherited, unmeasured)

  test("the ledger groups are disjoint catalog batch queries") {
    val batch = SparkEntry.catalog.filterNot(_.streaming).map(_.name).toSet
    val all = groups.flatten
    assert(all.size == all.toSet.size, s"a query is in two groups: ${all.diff(all.distinct)}")
    assert(all.toSet.subsetOf(batch), s"not a batch query: ${all.toSet -- batch}")
  }

  test("exactly the ledger's queries hold a cache once built") {
    val cacheManager = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    spark.catalog.clearCache()
    val cachers = SparkEntry.catalog.filterNot(_.streaming).flatMap { q =>
      q.build(spark, sf0001)
      val cached = !cacheManager.isEmpty
      spark.catalog.clearCache()
      if (cached) Some(q.name) else None
    }.toSet
    val ledger = groups.flatten.toSet
    assert(cachers == ledger,
      s"caching but not in the ledger: ${(cachers -- ledger).toSeq.sorted}; " +
      s"in the ledger but not caching: ${(ledger -- cachers).toSeq.sorted}")
  }
}
