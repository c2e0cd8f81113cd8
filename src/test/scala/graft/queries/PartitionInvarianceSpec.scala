package graft.queries

import graft.SparkSpec

/** Layout independence, automated: a query's RESULT may never depend
  * on spark.sql.shuffle.partitions (accumulation order, partition
  * boundaries, window batching). The round-2 audit proved this
  * one-off for the then-current surface; this spec keeps the
  * property under CI for a representative slice of every operator
  * family added since — the queries whose shapes are most exposed to
  * partition effects (multi-window chains, pattern-compression
  * rollups, per-partition batching, iterative rounds).
  */
class PartitionInvarianceSpec extends SparkSpec {

  private val sample = Seq(
    "q100_gap_fill",          // window chain + map-side explode
    "q105_weighted_sample",   // BottomK aggregate combine tree
    "q108_source_similarity", // pattern-compression rollup
    "q113_cooccurrence",      // per-doc pair fan-out
    "q124_batch_score",       // per-partition batch assembly
    "q126_weighted_pagerank", // iterative join+agg rounds
    "q129_dedup_rate",        // two-level hash rollup
    "q132_churn_deltas",      // lag/lead over distinct activity
    "q103_token_budget",      // r6 two-phase distributed prefix sum
    "q151_shard_pack",        // r6 prefix sum, doc_id-bucketed
    "q144_sorted_neighborhood", // r6 bucketed rank + pair joins
    "q150_skyline",           // r6 mapPartitions local frontier
    "q168_bloom_decontaminate", // r6 driver-built bloom literal
    "q169_pca_power",         // r6 integer scatter + power iteration
    "q171_curriculum_order",  // r6 prefix-rank round-robin interleave
    "q172_user_gini",         // r7 prefix-rank weighted sum
    "q174_kcenter_coreset",   // r7 driver-iterated argmax rounds
    "q176_dup_spans",         // r7 two-level span rollup + top-k
    "q177_mix_allocation",    // r7 waterfill window arithmetic
    "q145_prefix_jaccard",    // r8 PPJoin candidate agg + verify joins
    "q178_max_spans",         // r8 gaps-and-islands span merge
    "q179_cms_heavy_hitters", // r8 linear-sketch counters + probe join
    "q180_peak_concurrency",  // r8 sweep-line prefix over ±1 deltas
    "q181_hybrid_rrf",        // r8 two top-k rankings + fusion join
    "q182_curated_mix",       // r8 prefix-budget cut + waterfill
    "q184_minhash_jaccard",   // r8 replayable signatures + band join
    "q185_simhash_pairs",     // r8 packed fingerprints + chunk bands
    "q26_ann_topk",           // r9 bounded BottomK aggregate combine tree
    "q186_linear_count",      // r9 bucket-occupancy sketch state
    "q187_kmv_quantiles",     // r9 bottom-k-by-hash sample + rank pick
    "q188_bpe_merges",        // r9 iterative argmax + vocab rewrite
    "q189_mmr_rerank",        // r9 per-query greedy over micro-sim maps
    "q190_margin_mining",     // r9 blocked top-k neighborhoods + margin
    "q191_bpe_encode",        // r9 trained-merge fold + broadcast join-back
    "q192_dsir_weights",      // r9 vocab ratio join + top-k
    "q193_retrieval_auc",     // r9 collapsed-score distributed prefix
    "q194_calibration_bins",  // r9 shifted-integer binning
    "q195_contrastive_pairs", // r9 blocked candidates + dual argmax
    "q196_classification_report", // r9 conditional-count aggregate
    "q197_variant_extract",   // r9 VARIANT parse + banded aggregate
    "q198_lexicon_sentiment", // r9 broadcast lexicon + sign classes
    "q199_sketch_rollup",     // r9 per-day partial sets + union merge
    "q200_market_basket",     // r9 Apriori prune + basket pair join
    "q201_winnowing",         // r9 per-doc window min + keyed rollup
    "q202_winnow_pairs",      // r9 df-capped fingerprint self-join
    "q203_matryoshka_recall", // r9 two bounded BottomK passes + set join
    "q204_rake_keywords",     // r9 island windows + doc-keyed joins
    "q205_ewma_forecast",     // r9 16-lag dyadic window chain
    "q206_skipgram_cooc",     // r9 HOF pair explode + pair-keyed agg
    "q207_novelty_curve",     // r9 min-attribution double aggregate
    "q208_frame_phash",       // r9 aHash chunk banding + capped buckets
    "q209_hits",              // r9 L-inf fixed-point mutual rounds
    "q210_cell_caps",         // r10 driver cap scalar + BottomK survivors
    "q211_seq_patterns",      // r10 in-array sort + HOF triple fan-out
    "q212_colbert_maxsim",    // r10 max-then-sum interaction reduction
    "q213_kmv_set_ops",       // r10 bottom-k sketches + list HOF combine
    "q214_hll_registers",     // r10 register max + two-regime estimate
    "q215_kcore",             // r10 per-round cut semi-join peeling
    "q216_containment",       // r10 longs-only counting + bound prune
    "q217_ndcg_eval",         // r10 bounded top-k + log2 discount sums
    "q219_markov_eval",       // r10 hash split + argmax model broadcast
    "q220_keyframes",         // r10 per-video lag over aHash prints
    "q221_kanon_audit",       // r10 QI-class double rollup
    "q222_rand_stability",    // r10 dual-round labels + pair identity
    "q223_lsh_recall",        // r10 truth/candidate semi-join audit
    "q224_cms_width_sweep",   // r10 per-width sketch error rollups
    "q225_fuzzy_parts",       // r10 two-pass neighborhood + JW scoring
    "q227_assortativity")     // r10 degree joins + global 4-sum

  test("results are identical under 3 and 32 shuffle partitions") {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    def runAll(parts: String): Map[String, Seq[String]] = {
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      try sample.map { name =>
        val rows = graft.SparkEntry.queries(name)(spark, sf0001)
          .collect().map(_.toString).toSeq
        spark.catalog.clearCache()
        name -> rows
      }.toMap
      finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    val at3 = runAll("3")
    val at32 = runAll("32")
    sample.foreach { name =>
      assert(at3(name) == at32(name),
        s"$name result depends on shuffle partition count")
    }
  }
}
