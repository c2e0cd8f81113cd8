package graft.queries

import graft.SparkSpec

/** Pins the physical-plan properties SCALE.md claims, so a regression
  * that silently un-broadcasts a dim or un-prunes a scan fails CI
  * instead of surfacing at 100 TB. */
class PlanAuditSpec extends SparkSpec {

  private def plan(name: String): String =
    graft.SparkEntry.queries(name)(spark, sf0001)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)

  test("q01 prunes the lineitem scan and pushes the date filter") {
    val p = plan("q01_pricing_summary")
    val read = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p).map(_.group(1))
    assert(read.isDefined, s"no ReadSchema in:\n${p.take(800)}")
    val nCols = read.get.split(",").length
    assert(nCols <= 7, s"lineitem scan reads $nCols of 16 columns: ${read.get}")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      "shipdate filter not pushed to the scan")
  }

  test("q02 broadcasts every dimension join") {
    val p = plan("q02_revenue_by_nation")
    val n = "BroadcastHashJoin".r.findAllIn(p).length
    assert(n >= 3, s"expected >=3 broadcast dim joins, found $n")
  }

  test("q03 is top-k, not a global sort") {
    assert(plan("q03_top_orders").contains("TakeOrderedAndProject"))
  }

  test("aggregations combine map-side (partial HashAggregate)") {
    val p = plan("q01_pricing_summary")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      "expected partial+final HashAggregate pair")
  }

  test("q25 simhash is a single map-side pass (no shuffle before sort)") {
    val p = plan("q25_simhash")
    // the only exchange allowed is the final ORDER BY's range partitioning
    assert(!p.contains("Exchange hashpartitioning"),
      s"unexpected aggregation/join shuffle:\n${p.take(1200)}")
  }

  test("q70 probes the benchmark gram set via broadcast, never shuffling the corpus") {
    val p = plan("q70_decontaminate")
    assert(p.contains("BroadcastHashJoin"),
      "benchmark gram probe must be a broadcast hash join")
    assert(!p.contains("SortMergeJoin"),
      s"corpus-side shuffle join found:\n${p.take(1200)}")
  }

  test("runtime bloom filter injects into the fact side of a selective join") {
    import org.apache.spark.sql.functions._
    val prev = spark.conf.getOption(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    spark.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val l = graft.Tables.lineitem(spark, sf0001)
      val o = graft.Tables.orders(spark, sf0001)
        .filter(col("o_orderpriority") === "1-URGENT")
      val p = l.join(o, col("l_orderkey") === col("o_orderkey"))
        .agg(count(lit(1)))
        .queryExecution.executedPlan.toString
      assert(p.contains("might_contain"),
        s"no runtime bloom filter in plan:\n${p.take(1200)}")
    } finally {
      spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        prev.getOrElse("10GB"))
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("no scan reads the full documents text column where unused") {
    val p = plan("q19_token_count")
    val read = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p).map(_.group(1))
    assert(read.isDefined && read.get.split(",").length <= 2,
      s"q19 should read only doc_id+text: ${read.getOrElse("")}")
  }

  test("q77 corpus stats re-enter as a broadcast, never a shuffled join") {
    val p = plan("q77_bm25")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"single-row stats must broadcast:\n${p.take(1200)}")
    assert(!p.contains("SortMergeJoin"),
      s"corpus-side shuffle join found:\n${p.take(1200)}")
  }

  test("q79 joins the top-V vocab by broadcast") {
    val p = plan("q79_lm_quality")
    assert(p.contains("BroadcastHashJoin"),
      s"vocab probe must be a broadcast hash join:\n${p.take(1200)}")
    assert(p.contains("TakeOrderedAndProject"),
      "top-V vocab must be TakeOrdered, not a global sort")
  }

  test("q78 repartitions the pair stream before the DP stage") {
    val p = plan("q78_edit_distance")
    assert(p.contains("RoundRobinPartitioning"),
      s"candidate pairs must round-robin repartition before the DP:\n${p.take(1200)}")
    assert(p.contains("TakeOrderedAndProject"),
      "top-20 must be TakeOrdered, not a global sort")
  }
  test("q243 repartitions the rows before the xB bootstrap explode") {
    // the events scan is one byte-small split but the stage after it
    // is compute-bound (B md5s per row); losing this exchange silently
    // re-serializes the whole bootstrap onto one core (measured 5x at
    // sf0.1 — and no-arg repartition() is a silent no-op, so pin the
    // partitioning kind, not just a repartition call)
    val p = plan("q243_poisson_bootstrap")
    assert(p.contains("RoundRobinPartitioning"),
      s"bootstrap input must round-robin before the explode:\n${p.take(1200)}")
  }

  test("q82 reuses the persisted edge frame across rank rounds") {
    val p = plan("q82_pagerank")
    assert("InMemoryTableScan".r.findAllIn(p).length >= 3,
      s"each PageRank round must read the cached (edge x degree) frame:\n${p.take(1200)}")
  }

  test("q104 zorder key is a pure map pass (no shuffle before the sort)") {
    val p = plan("q104_zorder_key")
    assert(!p.contains("Exchange hashpartitioning"),
      s"zorder key must add no aggregation/join shuffle:\n${p.take(1200)}")
    assert(p.contains("zorder2"), "codegen'd zorder2 expression missing")
  }

  test("q111 normalization is a pure map pass over the scan") {
    val p = plan("q111_normalize")
    assert(!p.contains("Exchange hashpartitioning"),
      s"normalize must add no shuffle:\n${p.take(1200)}")
    assert(p.contains("nfc_normalize"), "codegen'd NFC expression missing")
  }

  test("q113 broadcasts the vocab and doc-count sides") {
    val p = plan("q113_cooccurrence")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 1 &&
           "BroadcastNestedLoopJoin|BroadcastExchange".r.findAllIn(p).length >= 2,
      s"vocab and n_docs must ride broadcasts:\n${p.take(1200)}")
  }

  test("q118 joins the per-type stats as a broadcast, not a window") {
    val p = plan("q118_daily_anomalies")
    assert(p.contains("BroadcastHashJoin"),
      s"stats join must broadcast:\n${p.take(1200)}")
    assert(!p.contains("Window"), "no window should exist in q118")
  }
  test("q145 prefix join never degenerates to a nested-loop/cartesian plan") {
    val p = plan("q145_prefix_jaccard")
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"),
      s"prefix candidate generation must stay an equi hash join:\n${p.take(1200)}")
  }

  test("q146 corr matrix is one aggregation pass over one scan") {
    val p = plan("q146_corr_matrix")
    // formatted explain prints each node in the tree AND the detail
    // section — count detail headers ("(id) Scan parquet")
    assert("\\(\\d+\\) Scan parquet".r.findAllIn(p).length == 1,
      "all 14 sums must come from a single lineitem scan")
    assert(!p.contains("Join"), "no join belongs in a single-pass aggregate")
    assert("\\(\\d+\\) HashAggregate".r.findAllIn(p).length == 2,
      "expected exactly the partial+final pair")
  }

  test("q148 prunes the documents scan to the two searched columns") {
    val p = plan("q148_phrase_search")
    val reads = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(p).map(_.group(1)).toSeq
    assert(reads.nonEmpty)
    reads.foreach { r =>
      assert(!r.contains("lang") && !r.contains("source"),
        s"postings build must not read unused columns: $r")
    }
  }

  test("q157 BFS output is assembled from checkpointed hops, no recompute") {
    // each hop localCheckpoints eagerly, so the final plan must be a
    // union of checkpoint scans — any parquet scan or join here would
    // mean a hop's lineage leaked into the output plan (re-running
    // the BFS on every downstream action)
    val p = plan("q157_khop_bfs")
    assert(p.contains("ExistingRDD") && !p.contains("Scan parquet"),
      s"expected only checkpointed hop frames:\n${p.take(1200)}")
    assert(!p.contains("Join"), "hops must be materialized, not re-joined")
  }

  /** VERDICT r8 #1: the ANN top-k must be the bounded BottomK
    * aggregator (map-side partial ObjectHashAggregate, ≤k rows per
    * query per partition cross the shuffle) — NEVER a
    * row_number window that routes a corpus-sized candidate set
    * through one task per query. */
  test("q26 top-k is a bounded aggregate, not a per-query window sort") {
    val p = plan("q26_ann_topk")
    assert(!p.contains("Window"),
      s"corpus-sized per-query window found in q26:\n${p.take(1200)}")
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2,
      "expected partial+final ObjectHashAggregate pair for the BottomK aggregate")
  }

  test("q27 top-k is a bounded aggregate; only the C-row probe may window") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val df = graft.SparkEntry.queries("q27_ivf_topk")(spark, sf0001)
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2,
      "expected partial+final ObjectHashAggregate pair for the BottomK aggregate")
    // the probe-selection window ranks (query × centroid) rows — its
    // input must be the broadcast-sized centroid cross-join, never a
    // corpus-carrying lineage (embeddings scan under the window)
    val wins = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.length <= 1, s"expected at most the probe window, found ${wins.length}")
    // the probe window's lineage reads embeddings only for the 8
    // query vectors — the (vec_id < 8) filter must sit BELOW the
    // window, so its input is 8 × C rows, never the corpus
    wins.foreach { w =>
      assert(w.child.toString.contains("< 8"),
        s"probe window input is not query-filtered:\n${w.child.toString.take(600)}")
    }
  }

  /** VERDICT r8 #6 (re-pinned r14): exact-NDV stats as per-column
    * value-keyed subtrees, NOT the multi-count-distinct Expand. The
    * Expand shape read the table once but multiplied EVERY row
    * (N+1)× before the first exchange and funneled the expanded
    * stream through one partial aggregate; the union shape scans one
    * pruned column per subtree (same parquet I/O in total), dedups
    * map-side, and its five subtrees schedule concurrently —
    * measured 1.77 → 0.84 s at sf0.1 (OPTIMIZATION_r14.md). */
  test("q136 exact-NDV stats: per-column subtrees, no Expand, no self-join") {
    val p = plan("q136_table_stats")
    assert(!p.contains("Expand"),
      s"the multi-count-distinct Expand shape is the rejected one:\n${p.take(800)}")
    // one narrow scan per column subtree + the row-count subtree
    // (formatted mode prints each node twice: tree + details)
    assert("Scan parquet".r.findAllIn(p).length <= 10,
      s"expected at most the 5 per-column/count scans:\n${p.take(800)}")
    // the only join is the 1-row broadcast cross of n_rows
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin") &&
           !p.contains("CartesianProduct"),
      "stats must not self-join the table")
  }

  test("q154 as-of tolerance join is the one-window union, not a range join") {
    val p = plan("q154_asof_tolerance")
    assert(!p.contains("Join"),
      s"as-of must be the union+carry-forward shape, never a join:\n${p.take(800)}")
    // formatted mode prints each node twice (tree + details)
    assert("\\bWindow\\b".r.findAllIn(p).length <= 2,
      "expected exactly one per-user window carrying the view timestamp")
  }

  test("q157 k-hop BFS output reads only cut frames (no scan/window replay)") {
    // after the per-hop lineage cuts, the FINAL job must touch no
    // parquet scan and no window — everything flows from the
    // materialized frontier RDDs; a regression here means the event
    // scan + sessionize-style edge build replays once per hop
    val df = graft.SparkEntry.queries("q157_khop_bfs")(spark, sf0001)
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(!p.contains("Scan parquet"),
      s"final BFS plan re-derives the events scan:\n${p.take(800)}")
    assert(!p.contains("Window"),
      "final BFS plan re-derives the edge-build window")
  }

  test("q187 sample quantiles: no corpus window; ranking is sample-sized") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val df = graft.SparkEntry.queries("q187_kmv_quantiles")(spark, sf0001)
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2,
      "expected partial+final ObjectHashAggregate pair for the bottom-k sample")
    // no window at all: the ranks are picked from each group's sorted
    // sample, and the collect that gathers it reads the JOINED sample
    // (≤ k·|groups| rows) — its lineage contains the broadcast
    // id-join, never a bare scan
    val op = df.queryExecution.optimizedPlan
    assert(op.collect { case w: LWindow => w }.isEmpty, s"unexpected window:\n$op")
    val collects = op.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate
          if a.aggregateExpressions.exists(_.exists(_.isInstanceOf[
            org.apache.spark.sql.catalyst.expressions.aggregate.CollectList])) => a
    }
    assert(collects.nonEmpty)
    collects.foreach { a =>
      assert(a.child.collectFirst {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }.isDefined,
        s"rank collect input is not the sample join:\n${a.child.toString.take(400)}")
    }
  }

  test("q186 linear counting runs in one scan (Expand, no self-join)") {
    val p = plan("q186_linear_count")
    assert("Scan parquet".r.findAllIn(p).length <= 2, // tree + details
      s"linear counting must read orders exactly once:\n${p.take(800)}")
    assert(p.contains("Expand"),
      "expected the two-count-distinct Expand (one-pass sketch state)")
    assert(!p.contains("Join"), "sketch state must not self-join")
  }

  test("q189 MMR re-rank: bounded aggregator + broadcast join-backs, no window") {
    val p = plan("q189_mmr_rerank")
    // retrieval is the bounded BottomK aggregate and the greedy loop is
    // per-query flatMapGroups — a Window over the corpus-sized scored
    // frame would be the q26 r8 defect reappearing
    assert(!p.contains("Window"), s"unexpected window:\n${p.take(1200)}")
    assert("BroadcastHashJoin|BroadcastNestedLoopJoin".r.findAllIn(p).length >= 2,
      "query broadcast + candidate join-back must both be broadcast joins")
  }

  test("q190 margin mining: cell-blocked candidates, never a cartesian product") {
    val p = plan("q190_margin_mining")
    assert(!p.contains("CartesianProduct"),
      s"bipartite product must be LSH-cell-blocked:\n${p.take(1200)}")
    assert(p.contains("BroadcastHashJoin"),
      "vector join-backs must broadcast the corpus frame")
  }

  test("q191 BPE encode joins token lengths back via broadcast with no cache") {
    val p = plan("q191_bpe_encode")
    assert(p.contains("BroadcastHashJoin"),
      "vocabulary token lengths must broadcast, never shuffle the corpus side")
    assert(!p.contains("InMemoryTableScan"),
      s"the per-(source,word) frame must be shared by exchange reuse, not a cache:\n${p.take(1200)}")
  }

  test("q195 triplet mining is cell-blocked with map-side argmax picks") {
    val p = plan("q195_contrastive_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("Window"),
      s"candidates must be LSH-cell-blocked, picks map-side:\n${p.take(1200)}")
    assert(p.contains("BroadcastHashJoin"),
      "vector join-backs must broadcast")
  }

  test("q197 variant extract is one scan into one aggregate pair") {
    val p = plan("q197_variant_extract")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"variant parse+extract must fuse into the scan pass:\n${p.take(800)}")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      "expected partial+final HashAggregate pair")
  }

  test("q198 sentiment joins the lexicon broadcast, never shuffling tokens to it") {
    val p = plan("q198_lexicon_sentiment")
    assert(p.contains("BroadcastHashJoin"), "lexicon must broadcast")
    assert(!p.contains("SortMergeJoin"),
      s"token stream must not shuffle for the lexicon:\n${p.take(800)}")
  }

  test("q199 rollup reads the cached events projection for both sketch paths") {
    val p = plan("q199_sketch_rollup")
    // daily partials AND the direct reference both consume the
    // persisted 4-column projection — a second parquet scan here
    // would double the corpus read the rollup exists to avoid
    assert("InMemoryTableScan".r.findAllIn(p).length >= 2,
      s"both paths must read the persisted projection:\n${p.take(1200)}")
    assert(p.contains("BroadcastHashJoin"),
      "the merged-vs-direct join (rows = |event types|) must broadcast")
    spark.catalog.clearCache()
  }

  test("q200 basket mining broadcasts every metric lookup; top-k not global sort") {
    val p = plan("q200_market_basket")
    assert(p.contains("TakeOrderedAndProject"),
      "top-50 by lift must plan as TakeOrderedAndProject")
    // threshold, basket count, and both support lookups ride broadcast
    assert("BroadcastHashJoin".r.findAllIn(p).length +
           "BroadcastNestedLoopJoin".r.findAllIn(p).length >= 4,
      s"metric lookups must broadcast:\n${p.take(1200)}")
    // the distinct basket frame feeds supports, count, and the pair
    // join from cache — not three parquet scans
    assert(p.contains("InMemoryTableScan"),
      "basket frame must be persisted for its three consumers")
    spark.catalog.clearCache()
  }

  test("q202 winnow pairs reads the fingerprint cache for all consumers") {
    val p = plan("q202_winnow_pairs")
    assert("InMemoryTableScan".r.findAllIn(p).length >= 3,
      s"df counts, both join sides and totals must read the fp cache:\n${p.take(1200)}")
    assert(p.contains("TakeOrderedAndProject"),
      "top-30 by overlap must plan as TakeOrderedAndProject")
    spark.catalog.clearCache()
  }

  test("q203 truncated pass rides the bounded TopK aggregator, no corpus window") {
    val p = plan("q203_matryoshka_recall")
    assert(!p.contains("Window"),
      s"top-k must not be a per-query window sort:\n${p.take(1200)}")
    assert(p.contains("ObjectHashAggregate"),
      "bounded BottomK aggregate missing from the truncated pass")
    spark.catalog.clearCache()
  }

  test("q204 RAKE: one doc_id exchange serves every stage (r15 shape)") {
    val p = plan("q204_rake_keywords")
    assert(p.contains("TakeOrderedAndProject"),
      "top-25 must plan as TakeOrderedAndProject")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "all RAKE joins are equi-joins on (doc_id, ...) keys")
    // r15: every aggregate/join/window keys on doc_id (or a superset),
    // so the executed plan shuffles exactly twice — the island
    // window's hash(doc_id) (reused by every consumer) and the final
    // phrase rollup. The r14 cache-based shape re-exchanged SEVEN
    // times because cached relations hide their output partitioning.
    // The INITIAL AQE plan printed here may carry one duplicate of
    // the doc_id exchange on a join build side (AQE dedups identical
    // shuffle stages at runtime), hence <= 3.
    val exchanges = """\(\d+\) Exchange""".r.findAllIn(p).length
    assert(exchanges <= 3,
      s"expected <= 3 shuffle exchanges (doc_id [x2 pre-AQE-reuse] + phrase rollup), found $exchanges:\n${p.take(1200)}")
    assert(!p.contains("InMemoryTableScan"),
      "r15 shape shares the doc_id exchange instead of caching (caches hide partitioning)")
    spark.catalog.clearCache()
  }

  test("q205 EWMA windows run on the daily rollup, one corpus scan") {
    val p = plan("q205_ewma_forecast")
    // formatted mode prints each scan twice (tree + detail); count
    // scan NODES via their unique Location detail lines
    assert("Location: InMemoryFileIndex".r.findAllIn(p).length == 1,
      s"one events scan expected:\n${p.take(1200)}")
    // the lag chain and rn/rn_max windows see only the (type, day)
    // aggregate, never raw events: aggregation happens BELOW them
    val winIdx = p.indexOf("Window")
    val aggIdx = p.indexOf("HashAggregate")
    assert(winIdx >= 0 && aggIdx >= 0, "window and aggregate both present")
    spark.catalog.clearCache()
  }

  test("q206 skipgram pair explode is join-free map-side work") {
    val p = plan("q206_skipgram_cooc")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin") &&
           !p.contains("CartesianProduct"),
      s"pair generation must be the HOF explode, not a self-join:\n${p.take(1200)}")
    assert(p.contains("TakeOrderedAndProject"),
      "top-40 must plan as TakeOrderedAndProject")
  }

  test("q207 novelty needs no gram-to-doc join-back") {
    val p = plan("q207_novelty_curve")
    // exactly one equi-join (the doc-keyed perDoc<->novel merge) plus
    // the broadcast 1-row max; a gram-keyed join-back would add a
    // third corpus-sized join input. Count detail headers — formatted
    // mode prints every node twice (tree + detail section).
    val joins =
      """\(\d+\) (SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)""".r
        .findAllIn(p).length
    assert(joins == 1, s"expected exactly one doc-keyed join, found $joins:\n${p.take(1200)}")
  }

  test("q208 phash: map-side banded pairing, only longs cross the shuffle") {
    val p = plan("q208_frame_phash")
    assert(p.contains("TakeOrderedAndProject"),
      "top-30 video pairs must plan as TakeOrderedAndProject")
    // r15: candidate pairs expand map-side from the ≤ dfCap bucket
    // lists (the q91 posting-list shape) — the chunk-keyed self-join
    // of the fingerprint frame is gone; the only join left is the
    // rare-bucket LEFT SEMI riding the shared (c, ckey) exchange
    assert(p.contains("LeftSemi"),
      s"rare-bucket filter must be the count-then-collect semi join:\n${p.take(1200)}")
    assert("""\(\d+\) (SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) Inner""".r
             .findFirstIn(p).isEmpty,
      s"the banded self-join must be the map-side bucket expansion:\n${p.take(1200)}")
    // frame strings/bytes must never cross an exchange: every
    // Exchange's schema carries only ids/longs, not the frame column
    assert(!"Exchange[^\\n]*\\bf#".r.findFirstIn(p).isDefined,
      s"frame payload crossed a shuffle:\n${p.take(1200)}")
    spark.catalog.clearCache()
  }

  test("q209 HITS final plan reads only the last cuts; max is broadcast") {
    // after the per-half-step lineage cuts (VERDICT r9 #1) the
    // returned union must read the two final checkpointed score
    // frames — never the parquet scan or any earlier round's lineage
    val p = plan("q209_hits")
    assert(p.contains("ExistingRDD"),
      s"final plan must read the checkpointed score frames:\n${p.take(1200)}")
    assert(!p.contains("Scan parquet"),
      s"round history leaked into the final plan:\n${p.take(1200)}")
    assert(!p.contains("CartesianProduct"),
      "the L-inf rescale must broadcast its 1-row max")
    spark.catalog.clearCache()
  }

  /** VERDICT r9 #3: the guardrail that would have caught q209's
    * exponential plan pre-merge. An iterative operator whose carried
    * frame re-enters a round more than once without a lineage cut
    * doubles its plan subtree per round — optimized-plan node count
    * goes exponential in `iters` and shows up here as a super-linear
    * second delta long before the bench burns. Every round-count-
    * parameterized operator must stay at most LINEAR. */
  private def nodeCount(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case n => n }.length

  test("iterative operators: plan node count grows at most linearly in rounds") {
    val mk: Seq[(String, Int => org.apache.spark.sql.DataFrame)] = Seq(
      "q82_pagerank" -> (i => graft.ops.GraphOps.q82PageRank(spark, sf0001, i)),
      "q99_label_prop" -> (i => graft.ops.GraphOps.q99LabelProp(spark, sf0001, i)),
      "q126_weighted_pagerank" ->
        (i => graft.ops.GraphOps.q126WeightedPageRank(spark, sf0001, i)),
      "q157_khop_bfs" ->
        (i => graft.ops.GraphOps.q157KHopBfs(spark, sf0001, maxHops = i)),
      "q209_hits" -> (i => graft.ops.GraphOps.q209Hits(spark, sf0001, i)),
      "q215_kcore" ->
        (i => graft.ops.GraphOps.q215KCore(spark, sf0001, rounds = i)),
      "q241_textrank" ->
        (i => graft.ops.TextOps.q241TextRank(spark, sf0001, iters = i)))
    for ((name, f) <- mk) {
      val counts = Seq(2, 3, 4).map { i =>
        val n = nodeCount(f(i)); spark.catalog.clearCache(); n
      }
      val (d1, d2) = (counts(1) - counts(0), counts(2) - counts(1))
      assert(d2 <= d1 + 4,
        s"$name plan grows super-linearly: nodes(iters=2,3,4)=$counts")
    }
  }

  test("q209 plan is CONSTANT in rounds — cuts erase all history") {
    val n2 = nodeCount(graft.ops.GraphOps.q209Hits(spark, sf0001, 2))
    spark.catalog.clearCache()
    val n5 = nodeCount(graft.ops.GraphOps.q209Hits(spark, sf0001, 5))
    spark.catalog.clearCache()
    assert(n2 == n5, s"q209 plan grew with iters: nodes(2)=$n2 nodes(5)=$n5")
  }

  test("q210 cell caps: bounded TopK survivor pick, broadcast join-back, no corpus window") {
    val p = plan("q210_cell_caps")
    assert(!p.contains("Window"),
      s"survivor pick must be the bounded aggregator, not a window:\n${p.take(1200)}")
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2,
      "expected partial+final BottomK ObjectHashAggregate pair")
    assert(p.contains("BroadcastHashJoin"),
      "kept-id stats join must broadcast the tiny survivor frame")
    spark.catalog.clearCache()
  }

  test("q211 subsequence enumeration is join-free map-side HOF work") {
    val p = plan("q211_seq_patterns")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin") &&
           !p.contains("CartesianProduct"),
      s"triple enumeration must be nested transforms, not self-joins:\n${p.take(1200)}")
    assert(p.contains("TakeOrderedAndProject"),
      "top-k patterns must be TakeOrdered, not a global sort")
  }

  test("q212 MaxSim: broadcast queries, bounded top-k, no corpus window") {
    val p = plan("q212_colbert_maxsim")
    assert(!p.contains("Window"),
      s"top-k must not window the corpus-sized score frame:\n${p.take(1200)}")
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2,
      "expected partial+final BottomK ObjectHashAggregate pair")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "query token vectors must broadcast against the corpus")
  }

  test("q213 KMV sketches ride the bounded aggregator; pair stage sees only sketch rows") {
    val p = plan("q213_kmv_set_ops")
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2,
      "expected partial+final bottom-k ObjectHashAggregate pair")
    assert(!p.contains("CartesianProduct"),
      s"type-pair combination must be the keyed/broadcast join:\n${p.take(1200)}")
  }

  test("q214 HLL registers: map-side combine, no window, no self-join") {
    val p = plan("q214_hll_registers")
    assert(!p.contains("Window"), "register build must not window")
    assert("HashAggregate".r.findAllIn(p).length >= 4,
      "expected partial+final pairs for both the register and rollup aggs")
    spark.catalog.clearCache()
  }

  test("q216 containment: map-side pair expansion, no cache, no self-join of the corpus") {
    val p = plan("q216_containment")
    assert(!p.contains("InMemoryTableScan"),
      s"postings, sizes and both verify sides must share exchanges, not a cache:\n${p.take(1200)}")
    assert(p.contains("TakeOrderedAndProject"),
      "top-30 must be TakeOrdered, not a global sort")
    assert(!p.contains("CartesianProduct"),
      "candidates must come from the long_pairs generator over df-capped posting lists")
    spark.catalog.clearCache()
  }

  test("q217 nDCG: bounded top-k retrieval, broadcast grading joins, no corpus window") {
    val p = plan("q217_ndcg_eval")
    assert(!p.contains("Window"),
      s"retrieval must be the bounded aggregator:\n${p.take(1200)}")
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2,
      "expected partial+final BottomK ObjectHashAggregate pair")
    assert("BroadcastHashJoin|BroadcastNestedLoopJoin".r.findAllIn(p).length >= 2,
      "label lookups and query attach must ride broadcasts")
  }

  test("q219 Markov eval: model broadcasts onto the test stream; transitions cached once") {
    val p = plan("q219_markov_eval")
    assert(p.contains("BroadcastHashJoin"),
      s"the |types|-row model must broadcast:\n${p.take(1200)}")
    assert(p.contains("InMemoryTableScan"),
      "train and test must read the one cached transition frame")
    assert(!p.contains("SortMergeJoin"),
      s"no corpus-side shuffle join belongs here:\n${p.take(1200)}")
    spark.catalog.clearCache()
  }

  test("q222 contingency sums are tiny broadcast-crossed rollups over the cached join") {
    val p = plan("q222_rand_stability")
    assert("BroadcastNestedLoopJoin|BroadcastExchange".r.findAllIn(p).length >= 3,
      s"the three 1-row C(.,2) rollups must broadcast-cross:\n${p.take(1200)}")
    assert(p.contains("InMemoryTableScan"),
      "all four rollups must read the persisted (la, lb) join")
    spark.catalog.clearCache()
  }

  test("q223 compares the persisted truth/candidate frames, no recompute") {
    val p = plan("q223_lsh_recall")
    assert("InMemoryTableScan".r.findAllIn(p).length >= 3,
      s"truth (x2) and candidates must read their caches:\n${p.take(1200)}")
    assert(!p.contains("CartesianProduct"),
      "only 1-row broadcast crosses belong here")
    spark.catalog.clearCache()
  }

  test("q225 scores with the codegen'd jaro_winkler; no cartesian, one rank over both passes") {
    val p = plan("q225_fuzzy_parts")
    assert(p.contains("jaro_winkler"),
      s"scoring must use the codegen'd expression:\n${p.take(1200)}")
    assert(!p.contains("CartesianProduct"),
      "candidates must come from the sorted-neighborhood rank joins")
    assert(!p.contains("InMemoryTableScan"),
      s"the name dictionary is recomputed from one groupBy, not cached:\n${p.take(1200)}")
    assert(!p.contains("SinglePartition"),
      s"the two passes are two real sources: no constant-source totals window:\n${p.take(1200)}")
    spark.catalog.clearCache()
  }

  test("q227 assortativity: degree joins + one global aggregate, no window") {
    val p = plan("q227_assortativity")
    assert(!p.contains("Window") && !p.contains("CartesianProduct"),
      s"the 4-sum reduction must be a plain aggregate:\n${p.take(800)}")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      "expected partial+final pair for the global sums")
    spark.catalog.clearCache()
  }

  test("q196 report is one scoring pass into one aggregate pair") {
    val p = plan("q196_classification_report")
    assert(!p.contains("SortMergeJoin") && !p.contains("Window"),
      s"counting must be map-side:\n${p.take(800)}")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      "expected partial+final HashAggregate pair")
  }

  test("q192 DSIR top-k is a TakeOrderedAndProject, never a global sort") {
    val p = plan("q192_dsir_weights")
    assert(p.contains("TakeOrderedAndProject"),
      s"expected map-side partial top-k:\n${p.take(800)}")
  }

  test("q193 AUC windows only ever see the score-collapsed frame") {
    // constant-source caveat: the lit("all") folds out of the window
    // specs, so the (source, bucket) shape check does not apply —
    // the load-bearing property is that EVERY window input is the
    // distinct-score Aggregate (or derived from it), never the raw
    // per-vector score stream
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val lp = graft.SparkEntry.queries("q193_retrieval_auc")(spark, sf0001)
      .queryExecution.optimizedPlan
    val wins = lp.collect { case w: LWindow => w }
    assert(wins.nonEmpty, "expected prefix windows in the plan")
    wins.foreach { w =>
      assert(w.child.collectFirst { case a: Aggregate => a }.isDefined,
        s"window over a non-collapsed input:\n${w.child.toString.take(400)}")
    }
  }

  test("q194 calibration shuffles nothing but the 20-bin aggregate") {
    val p = plan("q194_calibration_bins")
    // the only join allowed is the broadcast probe attach; binning
    // itself must be map-side into a partial+final aggregate pair
    assert(!p.contains("SortMergeJoin") && !p.contains("Window"),
      s"binning must be map-side:\n${p.take(800)}")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      "expected partial+final HashAggregate pair")
  }

  test("q158 plans a single WindowExec for all three ranking functions") {
    val p = plan("q158_window_suite")
    val n = "\\bWindow\\b".r.findAllIn(p).length
    assert(n <= 2, s"expected one shared window operator (+exchange), found $n:\n${p.take(800)}")
  }

  /** VERDICT r5 #1: the pack family's running sums must be the
    * two-phase distributed prefix — any window partitioned by source
    * alone may only run over the per-bucket TOTALS frame (an
    * Aggregate), never the raw row stream, and at least one window
    * must partition by (source, bucket). */
  private def auditPrefixWindows(name: String): Unit =
    auditPrefixWindowsOf(name, graft.SparkEntry.queries(name)(spark, sf0001))

  private def auditPrefixWindowsOf(
      name: String, df: org.apache.spark.sql.DataFrame): Unit = {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val lp = df.queryExecution.optimizedPlan
    val wins = lp.collect { case w: LWindow => w }
    assert(wins.nonEmpty, s"$name: expected window nodes in the plan")
    wins.foreach { w =>
      if (w.partitionSpec.length <= 1)
        assert(w.child.collectFirst { case a: Aggregate => a }.isDefined,
          s"$name: source-only window over the raw row stream:\n$w")
    }
    assert(wins.exists(_.partitionSpec.length >= 2),
      s"$name: no bucketed (source, bucket) window found")
  }

  test("q103 token budget uses the two-phase distributed prefix sum") {
    auditPrefixWindows("q103_token_budget")
  }

  test("q62 chunk packing uses the two-phase distributed prefix sum") {
    auditPrefixWindows("q62_pack_chunks")
  }

  test("q151 shard pack uses the two-phase distributed prefix sum") {
    auditPrefixWindows("q151_shard_pack")
  }

  test("q153 pad batching uses the two-phase distributed prefix sum") {
    // audited on the un-persisted frame: the full query caches it
    // (both waste rollups share one derivation), which hides the
    // window nodes inside the InMemoryRelation. Clear the cache
    // first — if another suite ran q153 in this shared session, the
    // cache manager would substitute the cached relation into THIS
    // plan too and the audit would see no windows.
    spark.catalog.clearCache()
    auditPrefixWindowsOf("q153_pad_batching",
      graft.ops.Sampling.q153SizedFrame(spark, sf0001))
  }

  test("q171 curriculum rank uses the two-phase distributed prefix sum") {
    auditPrefixWindows("q171_curriculum_order")
  }

  test("q180 sweep line: no GLOBAL window anywhere; prefix is bucketed") {
    // the generic prefix audit flags any 1-key window over raw rows,
    // but q180's sessionize window partitions by user_id (per-user
    // cardinality — scale-safe); what must never appear is a window
    // with an EMPTY partition spec (the single-task global running
    // sum the sweep line exists to avoid), and the concurrency prefix
    // itself must be the bucketed (source, hour) two-phase form
    // (the lit("all") source column constant-folds out of the specs,
    // so the totals-offset window legitimately shows an EMPTY spec —
    // over the occupancy-sized aggregate, never the row stream)
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val lp = graft.SparkEntry.queries("q180_peak_concurrency")(spark, sf0001)
      .queryExecution.optimizedPlan
    val wins = lp.collect { case w: LWindow => w }
    assert(wins.nonEmpty)
    wins.filter(_.partitionSpec.isEmpty).foreach { w =>
      assert(w.child.collectFirst { case a: Aggregate => a }.isDefined,
        s"global window over the raw row stream:\n$w")
    }
    assert(wins.exists(_.partitionSpec.nonEmpty),
      "no partitioned window found (sessionize + bucketed prefix expected)")
  }

  test("q182 budget cut uses the two-phase distributed prefix sum") {
    auditPrefixWindows("q182_curated_mix")
  }

  test("q179 CMS probe broadcasts the counter matrix and top-ks without a global sort") {
    val p = plan("q179_cms_heavy_hitters")
    assert(p.contains("BroadcastHashJoin"),
      s"sketch probe must broadcast the d×w counters:\n${p.take(1200)}")
    assert(p.contains("TakeOrderedAndProject"),
      "top-k must be TakeOrdered, not a global sort")
  }

  test("q184/q185 reuse their persisted per-doc frame across band and verify consumers") {
    // the signature/fingerprint scan must run once: band explosion and
    // both verify sides read the cached frame (the q24 pin, extended)
    for (name <- Seq("q184_minhash_jaccard", "q185_simhash_pairs")) {
      spark.catalog.clearCache()
      val plan = graft.SparkEntry.queries(name)(spark, sf0001)
        .queryExecution.executedPlan.toString
      assert(plan.contains("InMemoryTableScan"),
        s"$name: expected cached per-doc frame reuse:\n${plan.take(1200)}")
      spark.catalog.clearCache()
    }
  }

  test("q181 both retrieval arms end in TakeOrdered; the query vector broadcasts") {
    val p = plan("q181_hybrid_rrf")
    assert("TakeOrderedAndProject".r.findAllIn(p).length >= 2,
      s"lexical and dense top-k must both be TakeOrdered:\n${p.take(1200)}")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "query vector must broadcast against the corpus")
  }

  test("q169 scatter matrix aggregates buffers before any explode") {
    // tree-reduce shape, explode-free on the row stream: the raw rows
    // must feed the ScatterMatrixAgg ObjectHashAggregate (one flat
    // buffer per task), and the only Generate (posexplode) may consume
    // aggregate OUTPUT — it must sit above the object aggregate in the
    // plan, never between the scan and it. Plans print root-first, so
    // "above" means an earlier string index.
    val p = graft.ops.Similarity.q169ScatterTerms(spark, sf0001)
      .queryExecution.executedPlan.toString
    val objAggs = "ObjectHashAggregate".r.findAllIn(p).length
    assert(objAggs >= 2,
      s"expected partial+final ScatterMatrixAgg pair:\n${p.take(1000)}")
    val gen = p.indexOf("Generate")
    assert(gen >= 0, s"expected a posexplode of the buffers:\n${p.take(1000)}")
    assert(gen < p.indexOf("ObjectHashAggregate"),
      "the explode must consume aggregated buffers, not raw rows")
    assert(!p.contains("WindowExec") && !p.contains("SortExec"),
      s"row stream must not sort/window:\n${p.take(1000)}")
  }

  test("q172 gini rank uses the two-phase distributed prefix sum") {
    // q172's prefix source is a constant (one global rank), which the
    // optimizer rightly prunes from the partition specs — so the
    // stronger form of the pack-family audit applies: NO window may
    // run unpartitioned over the raw user stream; any window whose
    // partition spec pruned to empty/degenerate must consume the
    // per-bucket totals AGGREGATE, and the local rank window must
    // keep its bucket key.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val lp = graft.SparkEntry.queries("q172_user_gini")(spark, sf0001)
      .queryExecution.optimizedPlan
    val wins = lp.collect { case w: LWindow => w }
    assert(wins.nonEmpty, "expected window nodes in the plan")
    wins.foreach { w =>
      if (w.partitionSpec.isEmpty)
        assert(w.child.collectFirst { case a: Aggregate => a }.isDefined,
          s"unpartitioned window over the raw row stream:\n$w")
    }
    assert(wins.exists(_.partitionSpec.nonEmpty),
      "no bucket-partitioned local window found")
  }

  test("q174 k-center probe is shuffle-free codegen'd top-1 scans") {
    // Each greedy round must be a map-side probe (literal centers,
    // codegen'd sqdist_l64) into TakeOrderedAndProject(limit=1) —
    // never a global sort, never an exchange of the vector table.
    val probe = graft.Tables.embeddings(spark, sf0001)
      .select(org.apache.spark.sql.functions.col("vec_id"),
              org.apache.spark.sql.functions.transform(
                org.apache.spark.sql.functions.col("embedding"),
                x => org.apache.spark.sql.functions.floor(
                  x.cast("double") * 1000d + 0.5d).cast("long")).as("qv"))
      .select(org.apache.spark.sql.functions.col("vec_id"),
              graft.functions.VectorFunctions.sqDistL64(
                org.apache.spark.sql.functions.col("qv"),
                org.apache.spark.sql.functions.typedLit(Seq.fill(64)(0L)))
                .as("d"))
      .orderBy(org.apache.spark.sql.functions.col("d").desc,
               org.apache.spark.sql.functions.col("vec_id"))
      .limit(1)
    val p = probe.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"),
      s"probe must be top-1, not a global sort:\n${p.take(800)}")
    assert(!p.contains("Exchange"),
      s"probe must not shuffle the vector table:\n${p.take(800)}")
    assert(p.contains("sqdist_l64"),
      s"probe must use the codegen'd kernel:\n${p.take(800)}")
  }

  test("q229 attaches the LLR model by broadcast and sorts only the top-k") {
    val p = plan("q229_dsir_weights")
    // the 4096-row LLR table must ride a broadcast onto the corpus
    // stream — a sort-merge attach would shuffle the feature stream a
    // second time for a model-sized build side
    assert(p.contains("BroadcastHashJoin"),
      s"LLR attach must broadcast:\n${p.take(800)}")
    assert(!p.contains("SortMergeJoin"),
      s"no corpus-sized join allowed:\n${p.take(800)}")
    // final selection is a bounded top-k, never a global sort
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must be TakeOrdered:\n${p.take(800)}")
  }

  test("q228 bloom probe carries the filter as a plan constant, no gram join") {
    // the probe branch tests bits against a literal word array — the
    // only joins in the whole plan are doc-keyed result assembly and
    // the exact-audit broadcast, never a shuffle join on gram strings
    val p = plan("q228_bloom_replay")
    val smj = "SortMergeJoin".r.findAllIn(p).length
    assert(smj <= 3, s"corpus-side gram join leaked into the plan ($smj SMJs)")
    assert(!p.toLowerCase.contains("cartesian"), "no cartesian products")
  }

  test("q232 salted join: salt expansion present, join keys carry the salt") {
    val p = plan("q232_salted_skew_join")
    // the dim side must be exploded once per salt value (the Generate
    // node) and the join must key on (hot_key, __salt) — a revert to
    // the plain join would pin every whale-key row to one reducer
    assert(p.contains("Generate") && p.contains("explode"),
      s"dim-side salt expansion missing:\n${p.take(1200)}")
    assert(p.contains("__salt"),
      "join no longer keys on the salt — hot keys collapse to one reducer")
    assert(!p.toLowerCase.contains("cartesian"), "no cartesian products")
  }

  test("q233 incremental ingest: batch probes the corpus index, no cartesian") {
    val p = plan("q233_ingest_dedup")
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"),
      s"batch x corpus probe must stay an equi hash join on (band, bkey):\n${p.take(1200)}")
    // both sides read the ONE persisted per-doc frame (the index)
    assert(p.contains("InMemoryTableScan"),
      "per-doc frame must be persisted — the corpus index is read, not recomputed")
  }

  test("q245 ingest ANN: persisted IVF index probed, bounded top-k, no cartesian") {
    val p = plan("q245_ingest_ann")
    // the corpus cell assignment is THE index: persisted once, probed
    // by the batch — never recomputed per batch vector
    assert(p.contains("InMemoryTableScan"),
      "corpus IVF index must be persisted and probed, not recomputed")
    assert(!p.contains("CartesianProduct"),
      s"batch x corpus probe must stay an equi join on cell:\n${p.take(1200)}")
    // top-k rides the bounded BottomK aggregate (partial+final pair),
    // never a corpus-sized per-query window sort
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2,
      "expected partial+final ObjectHashAggregate pair for the BottomK aggregate")
  }

  test("q249 link prediction: long_pairs wedges; known edges go via left-anti") {
    val p = plan("q249_link_predict")
    assert(!p.contains("CartesianProduct"),
      s"wedges must come from the long_pairs generator over per-neighbor adjacency arrays:\n${p.take(1200)}")
    assert(p.contains("LeftAnti"),
      "existing edges must leave via a left-anti join")
    // the oriented edge list feeds adjacency (twice) and the anti-join
    // through one reused exchange, not a cache
    assert(!p.contains("InMemoryTableScan"),
      s"the edge list must not be cached:\n${p.take(1200)}")
  }

  test("q250 silhouette: centroids broadcast; top-2 reduced by a " +
       "partial-combined aggregate, no corpus window sort") {
    val p = plan("q250_silhouette")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "the n x C similarity pass must broadcast the centroid set")
    assert(!p.contains("Window"),
      s"per-vector top-2 must be an aggregate, not a window sort:\n${p.take(1200)}")
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2,
      "expected partial+final pair for the top-2 collect aggregate")
  }

  test("q251 item CF: the item-item matrix broadcasts; clicked items " +
       "leave via left-anti; top-k rides the bounded aggregator") {
    val p = plan("q251_item_cf")
    assert(p.contains("BroadcastHashJoin"),
      "the catalog-bounded co-occurrence matrix must broadcast")
    assert(p.contains("LeftAnti"),
      "already-clicked items must leave via a left-anti join")
    assert(!p.contains("CartesianProduct"),
      s"no cartesian belongs in CF scoring:\n${p.take(1200)}")
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2,
      "expected partial+final ObjectHashAggregate pair for the BottomK aggregate")
  }

  test("q248 image dHash: codec stages stay map-side — no join, no " +
       "aggregation shuffle before the final sort") {
    val p = plan("q248_image_dhash")
    // encode (flatMap) and decode (mapPartitions) are per-partition
    // object stages; the fingerprint is a codegen'd expression — the
    // only exchange allowed is the cosmetic ORDER BY's range
    // partitioning, so the codec path scales as one linear pass
    assert(!p.contains("Exchange hashpartitioning"),
      s"unexpected shuffle in the codec pipeline:\n${p.take(1200)}")
    assert(!p.contains("CartesianProduct") &&
           !"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r
             .findFirstIn(p).isDefined,
      s"no join belongs in q248:\n${p.take(1200)}")
    assert(p.contains("MapPartitions"),
      "decode stage must be a typed per-partition operator")
  }

  test("q247 record linkage: both blocking passes stay equi joins; " +
       "EM weights fold in as literals (no weight join)") {
    val p = plan("q247_record_linkage")
    // blocked self-joins must never degrade to a cartesian — the
    // block keys are equality conditions in both passes
    assert(!p.contains("CartesianProduct"),
      s"blocked self-join degraded to cartesian:\n${p.take(1200)}")
    // the EM-fitted weights are driver-computed LITERALS since r14:
    // scoring is a pure projection over the persisted candidate
    // frame — no weight-frame join of any kind may appear on it
    assert(p.contains("InMemoryTableScan"),
      "candidate pairs must be persisted (contingency count + scoring share them)")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "weights must fold in as literals, not join onto the pairs")
    // two blocked equi-join passes (A and B) exist; at sf0.001 the
    // tiny sides broadcast, at scale they shuffle — any equi node
    assert("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r
             .findAllIn(p).length >= 2,
      s"expected two blocked equi-join passes:\n${p.take(1200)}")
  }
}
