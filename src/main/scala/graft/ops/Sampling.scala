package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Deterministic sampling for training-data pipelines. Spark's
  * `df.sample` is seed-dependent on partitioning (a repartition
  * changes the sample), which makes corpus builds unreproducible.
  * Content-hash sampling is stable under any layout, re-run, or
  * engine: a doc is in the sample iff a hash of its CONTENT lands
  * under the threshold — the property that lets two teams (or two
  * engines, as the DuckDB oracle proves) agree on the same sample
  * without coordination.
  */
object Sampling {

  /** 4-bit content-hash bucket (last md5 hex nibble, 0-15): identical
    * in any engine with md5. Fraction k/16 = keep buckets < k. */
  def hashBucket16(c: Column): Column =
    conv(substring(md5(c), 32, 1), 16, 10).cast("int")

  /** q56 — stratified sample accounting per source: total vs sampled
    * (2/16 ≈ 12.5% content-hash sample) with the realized rate. One
    * aggregation pass (conditional count), no second scan. */
  def q56StratifiedSample(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_total"),
           count(when(hashBucket16(col("text")) < 2, 1)).as("n_sampled"))
      .withColumn("rate",
        round(col("n_sampled").cast("double") / col("n_total"), 6))
      .orderBy(col("source"))

  /** 52-bit content-hash rank key (first 13 md5 hex chars): a total,
    * engine-agnostic, layout-independent order over content. 52 bits
    * so the value is exact as a double (the TopK aggregator scores in
    * doubles). */
  def hashRank52(c: Column): Column =
    conv(substring(md5(c), 1, 13), 16, 10).cast("long")

  private val Q72K = 50

  /** q72 — balanced corpus sampling (the data-mixing stage): cap
    * every source at `k` docs, chosen as the k smallest content-hash
    * ranks — so the per-source subsample is reproducible across
    * engines, re-runs, and layouts, exactly like q56's rate sample
    * but with a hard per-group budget.
    *
    * Shaped for scale via the bounded [[graft.functions.TopK]]
    * aggregator (same machinery as q43), NOT a window: sources are
    * few and huge — a window would shuffle and sort the entire
    * corpus into one partition per source (the canonical skew
    * disaster), while the aggregator combines map-side and ships at
    * most k rows per source per partition. The oracle replays it as
    * the window formulation, which must agree exactly. */
  def q72BalancedSample(s: SparkSession, dir: String, k: Int = Q72K): DataFrame = {
    val d = Tables.documents(s, dir)
    import d.sparkSession.implicits._
    import graft.functions.TopK
    d.select(col("source"), col("doc_id"), hashRank52(col("text")).as("h"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      // TopK keeps score DESC; negate so the k smallest hashes win
      .mapValues { case (_, id, h) => TopK.Scored(id, -h.toDouble) }
      .agg(TopK.topK(k).toColumn.name("top"))
      .flatMap { case (src, top) =>
        top.zipWithIndex.map { case (sc, i) => (src, sc.id, (i + 1).toLong) } }
      .toDF("source", "doc_id", "rk")
      .orderBy(col("source"), col("rk"))
  }

  /** q76 — deterministic train/val/test split: every doc is assigned
    * by CONTENT hash (md5 16-bit slice mod 100 → 80/10/10), never by
    * position, random seed, or layout. The property that matters for
    * a training corpus: byte-identical texts always land in the SAME
    * split — the cheapest possible guard against train/test leakage
    * of exact duplicates — and any engine, re-run, or repartition
    * reproduces the assignment bit-for-bit (the DuckDB oracle is the
    * proof).
    *
    * Scale shape: a pure map pass — one codegen'd md5 per row, no
    * shuffle anywhere (the ORDER BY is the gate's determinism
    * requirement, not the operator's). At 100 TB this is the shape
    * you want: split assignment costs one scan and parallelizes
    * perfectly. */
  def q76HashSplit(s: SparkSession, dir: String): DataFrame = {
    val bucket =
      pmod(conv(substring(md5(col("text")), 29, 4), 16, 10).cast("long"),
           lit(100L))
    Tables.documents(s, dir)
      .select(col("doc_id"), bucket.as("bucket"),
              when(bucket < 80, "train")
                .when(bucket < 90, "val")
                .otherwise("test").as("split"))
      .orderBy(col("doc_id"))
  }

  /** q84 — temperature-weighted source mixing (the pretraining
    * mixture-sampling recipe): each source's keep probability is
    * proportional to n_s^α with α = 0.5 — sources smaller than the
    * largest are UP-weighted relative to proportional sampling, the
    * standard move to keep a mixture from being swamped by its
    * biggest source. p_s = sqrt(n_s)/sqrt(max_s n_s) lands in
    * (0, 1]; a doc survives iff its 20-bit content-hash bucket <
    * floor(p_s · 2^20). sqrt is a correctly-rounded IEEE operation
    * (unlike ln/exp), so both engines compute the identical
    * threshold and the identical survivor set — selection is by
    * CONTENT hash, reproducible under any layout or engine.
    *
    * Scale shape: per-source counts are one map-side agg broadcast
    * back onto the stream (aggregate-then-broadcast); the verdict is
    * then a pure map pass. Emitted per source: total, threshold,
    * kept — the mixture audit a corpus build logs. */
  def q84TemperatureMix(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val maxN = counts.agg(max(col("n_docs")).as("n_max"))
    val thr = floor(sqrt(col("n_docs").cast("double")) /
                    sqrt(col("n_max").cast("double")) *
                    lit(1048576.0)).cast("long")
    val bucket20 = pmod(conv(substring(md5(col("text")), 28, 5), 16, 10)
                          .cast("long"), lit(1048576L))
    docs.join(broadcast(counts), Seq("source"))
      .crossJoin(broadcast(maxN))
      .select(col("source"), col("n_docs"), thr.as("threshold"),
              (bucket20 < thr).cast("long").as("keep"))
      .groupBy(col("source"))
      .agg(first(col("n_docs")).as("n_docs"),
           first(col("threshold")).as("threshold"),
           sum(col("keep")).as("n_kept"))
      .orderBy(col("source"))
  }

  private val Q85DfCap = 256

  /** q85 — inverted-index build: per token, the document frequency,
    * posting-list bounds (first/last doc), and — for tokens with
    * df ≤ dfCap — the full posting list surfaced as md5-of-list so
    * the gate compares the exact list without hauling arrays through
    * the comparison. The df cap is part of the CONTRACT (r10 verdict
    * #2): a stopword-class token's posting list is corpus-sized, and
    * no single aggregation buffer may hold it — above the cap the
    * index row carries df + bounds only (`postings_md5` NULL), which
    * is exactly the point where a production build switches that
    * token to blocked/skipped postings.
    *
    * Scale shape: the explode reduces map-side to distinct
    * (token, doc) pairs before the shuffle (dropDuplicates' partial
    * agg); df/bounds come from one scalar aggregate (longs only,
    * map-side combine — safe on any skew); posting lists are then
    * assembled ONLY for the df ≤ dfCap survivors via a semi-join, so
    * every collect_list buffer is ≤ dfCap entries by construction. */
  def q85InvertedIndex(s: SparkSession, dir: String,
                       dfCap: Int = Q85DfCap): DataFrame = {
    // distinct + one hash exchange on token, PERSISTED: the stats
    // aggregate, the semi-join probe and the capped collect all read
    // the cached token-partitioned frame (InMemoryRelation keeps the
    // child partitioning, so neither aggregate re-exchanges and the
    // scan+dedup chain runs once, not per branch); the harness drops
    // the cache after the query (cache-lifecycle contract)
    val pairs = Tables.documents(s, dir)
      .select(explode(TextOps.tokens(col("text"))).as("token"), col("doc_id"))
      .dropDuplicates("token", "doc_id")
      .repartition(col("token"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val stats = pairs.groupBy(col("token"))
      .agg(count(lit(1)).as("df"),
           min(col("doc_id")).as("first_doc"),
           max(col("doc_id")).as("last_doc"))
    val rareMd5 = pairs
      .join(stats.filter(col("df") <= dfCap).select(col("token")),
            Seq("token"), "left_semi")
      .groupBy(col("token"))
      .agg(md5(concat_ws(",", sort_array(collect_list(col("doc_id")))))
             .as("postings_md5"))
    stats.join(rareMd5, Seq("token"), "left")
      .select(col("token"), col("df"), col("first_doc"), col("last_doc"),
              col("postings_md5"))
      .orderBy(col("token"))
  }

  private val Q93bAccuracy = 10000

  /** q93b — the 100 TB twin of [[q93DecileBins]] (VERDICT r5 #5,
    * following the q42/q53 exact/approx pairing): decile fences from
    * `percentile_approx` (one mergeable-sketch aggregation — map-side
    * partials, NO global sort anywhere), broadcast back per source,
    * bin assignment as a map-side array scan, then the same rollup.
    * At default accuracy 10⁴ the sketch's rank error is n/10⁴ per
    * source, which the spec pins as a rank bound on every fence and
    * an occupancy-drift bound vs the exact ntile bins.
    *
    * Rows-only gate by design: approx_percentile's interpolation
    * differs between engines, so there is no cross-engine hash
    * oracle — the error-bound spec is the correctness contract
    * (q41/q53 precedent). */
  def q93bApproxDecileBins(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("source"), col("doc_id"), col("n_chars"))
    val fences = docs.groupBy(col("source"))
      .agg(percentile_approx(
             col("n_chars"),
             typedLit((1 to 9).map(_ / 10.0)),
             lit(Q93bAccuracy)).as("fences"))
    docs.join(broadcast(fences), Seq("source"))
      .withColumn("decile",
        (size(filter(col("fences"), f => f < col("n_chars"))) + 1)
          .cast("long"))
      .groupBy(col("source"), col("decile"))
      .agg(count(lit(1)).as("n_docs"),
           min(col("n_chars")).as("min_chars"),
           max(col("n_chars")).as("max_chars"),
           sum(col("n_chars")).cast("long").as("total_chars"))
      .orderBy(col("source"), col("decile"))
  }

  /** q93 — exact per-source decile bins of doc length (distributed
    * sort-based order statistics; q93b is the sketch twin). The
    * equi-depth binning is the feature-binning pass before stratified
    * splits or curriculum bucketing: ntile(10) over a TOTAL order
    * (n_chars, then doc_id — the tiebreak makes bin membership
    * deterministic, not layout-dependent), reported as
    * per-bin occupancy and bounds. ntile is SQL-standard and agrees
    * bit-for-bit across engines once the order is total.
    *
    * Scale shape: one range-partitioned sort per source partition —
    * the same machinery as a global orderBy — then a tiny aggregate.
    * At 100 TB you'd swap the exact window for approx_percentile
    * fences at a 10⁻³ error budget; the exact form is the oracle-able
    * contract. */
  def q93DecileBins(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_chars"), col("doc_id"))
    Tables.documents(s, dir)
      .select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("decile", ntile(10).over(w).cast("long"))
      .groupBy(col("source"), col("decile"))
      .agg(count(lit(1)).as("n_docs"),
           min(col("n_chars")).as("min_chars"),
           max(col("n_chars")).as("max_chars"),
           sum(col("n_chars")).cast("long").as("total_chars"))
      .orderBy(col("source"), col("decile"))
  }

  private val Q105K = 10

  /** q105 — weighted priority sampling per source: the k docs with
    * the smallest `hash52(text) div weight` priorities (weight =
    * n_chars), so heavier docs draw proportionally smaller
    * priorities — the integer-deterministic analogue of
    * exponential-race / A-Res weighted reservoir sampling, whose
    * `-ln(u)/w` priorities would hang cross-engine correctness on
    * float logs (the same reason q54 uses a rational idf). Selection
    * depends only on content + weight: reproducible across engines,
    * re-runs, and layouts.
    *
    * Scale shape: identical to q72 — the bounded
    * [[graft.functions.TopK]] aggregator combines map-side and ships
    * ≤ k rows per source per partition; no per-source full sort
    * exists (the window formulation the oracle replays would
    * one-partition-per-source collapse at corpus scale). Priorities
    * are ≤ 2^52 so the aggregator's double scores stay exact. */
  def q105WeightedSample(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    import d.sparkSession.implicits._
    import graft.functions.TopK
    d.select(col("source"), col("doc_id"),
             hashRank52(col("text")).as("h"), col("n_chars"))
      .withColumn("prio", expr("h div n_chars")) // exact integer floor-div
      .select(col("source"), col("doc_id"), col("prio"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      // TopK keeps score DESC with id-asc ties; negate so the k
      // smallest priorities win
      .mapValues { case (_, id, p) => TopK.Scored(id, -p.toDouble) }
      .agg(TopK.topK(Q105K).toColumn.name("top"))
      .flatMap { case (src, top) =>
        top.zipWithIndex.map { case (sc, i) =>
          (src, sc.id, -sc.score.toLong, (i + 1).toLong) } }
      .toDF("source", "doc_id", "prio", "rk")
      .orderBy(col("source"), col("rk"))
  }

  /** q121 — split-leakage audit: for each split-assignment method,
    * how many groups of byte-identical documents straddle more than
    * one of train/val/test — the eval-hygiene check that catches a
    * benchmark leaking its own training duplicates. Two methods are
    * audited side by side: POSITIONAL assignment (doc_id mod 100 —
    * the anti-pattern: identical texts at different positions land
    * in different splits) and q76's CONTENT-HASH assignment (leakage
    * structurally zero: identical bytes hash identically). The
    * second row is the proof the q76 design note claims.
    *
    * Scale shape: one md5-keyed aggregation carrying two
    * count-distincts over 3-valued split labels; the verdict rollup
    * is 2 rows. Text never moves — only its 16-byte hash. */
  def q121SplitLeakage(s: SparkSession, dir: String): DataFrame = {
    val bucketPos = pmod(col("doc_id"), lit(100L))
    val bucketCh =
      pmod(conv(substring(md5(col("text")), 29, 4), 16, 10).cast("long"),
           lit(100L))
    def splitOf(b: Column): Column =
      when(b < 80, "train").when(b < 90, "val").otherwise("test")
    val groups = Tables.documents(s, dir)
      .select(md5(col("text")).as("fp"),
              splitOf(bucketPos).as("s_pos"), splitOf(bucketCh).as("s_ch"))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n_docs"),
           countDistinct(col("s_pos")).as("k_pos"),
           countDistinct(col("s_ch")).as("k_ch"))
      .filter(col("n_docs") > 1)
    groups.agg(
        count(lit(1)).as("n_dup_groups"),
        count(when(col("k_pos") > 1, 1)).as("leaked_positional"),
        count(when(col("k_ch") > 1, 1)).as("leaked_content_hash"))
      .select(col("n_dup_groups"), col("leaked_positional"),
              col("leaked_content_hash"))
  }

  /** Two-phase distributed prefix sum (VERDICT r5 #1): the running
    * token sum and row number per `source`, in the total order
    * (bucket asc, tie-order asc), WITHOUT routing a whole source
    * through one window partition.
    *
    * Phase 1 windows PARTITION BY (source, bucket) — `bucket` must be
    * order-contiguous (every row of bucket b precedes every row of
    * b+1 in the intended order), so the local pass is the textbook
    * parallel-prefix up-sweep, one bounded sort per bucket. Phase 2
    * prefix-sums the per-bucket TOTALS (one row per occupied bucket,
    * an n/occupancy-sized frame, not the data) per source and
    * broadcast-joins the exclusive offsets back; the down-sweep add
    * is map-side. The only source-only window left in the plan runs
    * over the totals frame — at 25 B docs / B=4096 that is ~10⁶
    * 24-byte rows through one partition, and the same helper can
    * recurse on the totals if a deployment ever needs a third level.
    *
    * Output = input columns + `cum_before` (exclusive prefix token
    * sum) + `rn` (1-based row number in the total order). Both are
    * partitioning-independent: the order (bucket, tieOrder) is a
    * total order on rows, so every value is unique and deterministic.
    */
  /** `withSum = false` emits the global RANK only (no `cum_before`):
    * a consumer that drops the running sum would otherwise get its
    * sum window expression eliminated in the main branch while the
    * totals branch keeps it — canonically unequal subtrees, no shared
    * exchange, double-planned input (the q171 ScanReuseSpec catch).
    *
    * `keepBucket = true` returns the `pb` bucket column: a consumer
    * whose output needs the value the bucket was derived from should
    * read it back off `pb` (e.g. score = −pb) instead of carrying the
    * original column through the exchange — an output-only column is
    * pruned from the totals branch but not the rank branch, which
    * also breaks the subtree equality. */
  private[graft] def distributedPrefix(
      df: DataFrame, bucket: Column, tieOrder: Seq[Column],
      withSum: Boolean = true, keepBucket: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // One EXPLICIT exchange on (source, bucket) feeds BOTH consumers,
    // and the bucket TOTALS are read off the local window's own
    // output (the bucket-final running sum / row number) instead of a
    // separate aggregation of the raw input — so the input lineage is
    // planned ONCE: one scan, one fact shuffle, with the totals
    // aggregate running post-window in the same stage (it is already
    // clustered by the grouping keys). The previous formulation
    // re-derived the full input lineage per branch: at 25 B docs a
    // second scan + tokenize of the corpus just to count bucket
    // occupancy (r7 plan-audit catch, ScanReuseSpec pins it).
    // Null keys are excluded EXPLICITLY (the pre-r7 inner join dropped
    // them implicitly): with the isnotnull predicates present below
    // the exchange, constraint inference adds nothing branch-specific
    // above it, keeping the two consumers' subtrees canonically equal.
    //
    // Known trade-off (r9 audit): a caller whose `source` is a
    // CONSTANT (q172, q131) sees the literal fold out of the window's
    // partition spec while staying in the repartition key, so
    // ENSURE_REQUIREMENTS adds a second exchange on the bucket alone.
    // Keying everything on one struct(source, pb) ATTRIBUTE removes
    // that exchange but was measured to BREAK the branch-reuse this
    // helper exists for (the struct projection prunes differently per
    // branch → canonical inequality → the input lineage plans twice)
    // and benched slower on every caller — rejected. The extra
    // exchange only ever moves an already-collapsed aggregate frame
    // (per-user counts, per-token counts), never the corpus; callers
    // whose prefix input IS corpus-sized all carry a real source
    // column. q180, which needed neither rn output nor a real source,
    // left this helper for a tailored hourly rollup instead. q172, q131
    // and q193 are the remaining constant-source callers. A caller that
    // needs several orderings ranks them as sources of ONE call
    // instead of one call per ordering: q225 keys each name twice
    // (source "fwd" on the name, "rev" on its reversal), which drops
    // the extra exchange and plans the helper's lineage once.
    val in = df.withColumn("pb", bucket)
      .filter(col("source").isNotNull && col("pb").isNotNull)
      .repartition(col("source"), col("pb"))
    val localW = Window.partitionBy(col("source"), col("pb"))
      .orderBy(tieOrder: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withRn = in.withColumn("loc_rn", row_number().over(localW).cast("long"))
    val ranked =
      if (withSum) withRn.withColumn("loc_cum", sum(col("n_tokens")).over(localW))
      else withRn
    // bucket-final running values = the bucket totals (max over the
    // unique loc_rn picks the LAST row, so this holds for any sign
    // of n_tokens, not just monotone running sums)
    val totals =
      if (withSum)
        ranked.groupBy(col("source"), col("pb"))
          .agg(max(struct(col("loc_rn"), col("loc_cum")))
                 .getField("loc_cum").cast("long").as("b_sum"),
               max(col("loc_rn")).as("b_cnt"))
      else
        ranked.groupBy(col("source"), col("pb"))
          .agg(max(col("loc_rn")).as("b_cnt"))
    val offW = Window.partitionBy(col("source")).orderBy(col("pb"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets0 = totals
      .withColumn("off_cnt", coalesce(sum(col("b_cnt")).over(offW), lit(0L)))
    val offsets =
      if (withSum)
        offsets0
          .withColumn("off_sum", coalesce(sum(col("b_sum")).over(offW), lit(0L)))
          .select(col("source"), col("pb"), col("off_sum"), col("off_cnt"))
      else offsets0.select(col("source"), col("pb"), col("off_cnt"))
    // LEFT join, not inner: every (source, pb) on the left exists in
    // offsets BY CONSTRUCTION (offsets derive from ranked), so the
    // semantics are identical — but an inner join would infer an
    // isnotnull(bucket) filter into the probe branch's scan only,
    // breaking the canonical equality that lets the planner reuse
    // the shared exchange (ScanReuseSpec).
    val joined = ranked
      .join(broadcast(offsets), Seq("source", "pb"), "left")
      .withColumn("rn", coalesce(col("off_cnt"), lit(0L)) + col("loc_rn"))
    val out =
      if (withSum)
        joined.withColumn("cum_before",
          coalesce(col("off_sum"), lit(0L)) + col("loc_cum") - col("n_tokens"))
          .drop("off_sum", "loc_cum")
      else joined
    val cleaned = out.drop("loc_rn", "off_cnt")
    if (keepBucket) cleaned else cleaned.drop("pb")
  }

  /** Order-contiguous bucket for doc_id-ordered prefixes: dense ids
    * make `doc_id div 256` ≈ 256-row ranges (≈ 13 rows per
    * (source, bucket) at 20 interleaved sources — the phase-2 totals
    * frame is ~n/13 rows of 24 bytes; raise the divisor to trade
    * totals-frame size against per-bucket sort width at scale). */
  private val docIdBucket: Column = expr("doc_id div 256L")

  /** Order-contiguous bucket for (n_tokens DESC, doc_id) prefixes:
    * (negated count, doc-id range) — bucket-ascending = tokens-
    * descending, and within a count the id-range term keeps the
    * order while SUB-SPLITTING the bucket, because doc lengths
    * concentrate (a truncation cap puts a large share of the corpus
    * on one exact length — without the sub-split that one window
    * partition would sort it alone; r7, the q131 hapax lesson). */
  private val negLenBucket: Column =
    struct((-col("n_tokens")).as("nl"), expr("doc_id div 256L").as("dr"))

  private val Q103Budget = 1500L

  /** q103 — greedy token-budget selection per source on the
    * two-phase distributed prefix sum (longest-first until the
    * budget). Each source's docs are ordered by a quality proxy
    * (longest first, doc_id tiebreak), keeping the prefix whose
    * cumulative whitespace-token count fits the budget — the "fill
    * the training mix to N tokens per source" step that follows
    * dedup/quality filtering in a corpus build.
    *
    * Scale shape: the running sum is [[distributedPrefix]] over
    * [[negLenBucket]] buckets, so no source runs through one window
    * partition; all-integer arithmetic. cum_tokens is strictly
    * increasing within a source (every doc has ≥ 1 token), so
    * (source, cum_tokens) is a total order. */
  def q103TokenBudget(s: SparkSession, dir: String,
                      budget: Long = Q103Budget): DataFrame = {
    val sized = Tables.documents(s, dir)
      .select(col("source"), col("doc_id"),
              size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
    distributedPrefix(sized, negLenBucket, Seq(col("doc_id")))
      .withColumn("cum_tokens", col("cum_before") + col("n_tokens"))
      .filter(col("cum_tokens") <= budget)
      .select(col("source"), col("doc_id"), col("n_tokens"), col("cum_tokens"))
      .orderBy(col("source"), col("cum_tokens"))
  }

  private val Q151Budget = 4096L

  /** q151 — training-shard assignment: docs are packed into contiguous
    * shards of ≤ `budget` tokens by a running token total (a doc whose
    * START offset falls in shard k belongs to shard k — the standard
    * streaming-pack rule, so shard boundaries are deterministic and
    * independent of partitioning). The output is the shard manifest a
    * dataloader consumes: doc span + exact token count per shard.
    *
    * Scale shape: the running sum is the two-phase
    * [[distributedPrefix]] (per-source sequences — how corpora
    * actually ship — but each source's rows spread across many
    * (source, bucket) window partitions, offsets reconciled from the
    * tiny totals frame); the manifest aggregation is a follow-up
    * groupBy. */
  def q151ShardPack(s: SparkSession, dir: String): DataFrame = {
    val sized = Tables.documents(s, dir)
      .select(col("source"), col("doc_id"),
              size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
    distributedPrefix(sized, docIdBucket, Seq(col("doc_id")))
      .withColumn("start_offset", col("cum_before"))
      .withColumn("shard_id", expr(s"start_offset div ${Q151Budget}L"))
      .groupBy(col("source"), col("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_tokens")).cast("long").as("shard_tokens"),
           min(col("doc_id")).as("first_doc"),
           max(col("doc_id")).as("last_doc"))
      .orderBy(col("source"), col("shard_id"))
  }

  /** q153's double-prefix frame, un-persisted — split out so the
    * plan audit can inspect the window shapes that the persist in
    * [[q153PadBatching]] hides inside the cached relation. */
  private[graft] def q153SizedFrame(s: SparkSession, dir: String,
                                    batchSize: Int = 32): DataFrame = {
    val base = Tables.documents(s, dir)
      .select(col("source"), col("doc_id"),
              size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
    val withLen = distributedPrefix(base, negLenBucket, Seq(col("doc_id")))
      .withColumnRenamed("rn", "rn_len").drop("cum_before")
    distributedPrefix(withLen, docIdBucket, Seq(col("doc_id")))
      .withColumnRenamed("rn", "rn_arr").drop("cum_before")
      .withColumn("b_len", expr(s"(rn_len - 1L) div $batchSize"))
      .withColumn("b_arr", expr(s"(rn_arr - 1L) div $batchSize"))
  }

  private val Q153BatchSize = 32

  /** q153 — length-bucketed batch padding audit: docs sorted by token
    * count DESC within each source and cut into fixed-size batches of
    * `batchSize`; a batch pads every member to its longest doc, so
    * waste = n·max − Σtokens. Sorting by length first is exactly why
    * dataloaders length-bucket: the report quantifies the padding this
    * saves vs arrival order (the arrival-order waste is computed in
    * the same pass for comparison).
    *
    * Scale shape: both rankings come from the two-phase
    * [[distributedPrefix]] (length-bucketed and doc_id-bucketed), so
    * neither routes a whole source through one window partition;
    * batch stats are a groupBy over batch ids. */
  def q153PadBatching(s: SparkSession, dir: String): DataFrame = {
    // persist: both waste rollups consume the double-prefix frame —
    // uncached, the scan+tokenize+two-prefix chain runs twice (r7
    // single-planning audit); the cache is |docs| rows of five longs
    val sized = q153SizedFrame(s, dir, Q153BatchSize)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val lenWaste = sized.groupBy(col("source"), col("b_len"))
      .agg((count(lit(1)) * max(col("n_tokens")) - sum(col("n_tokens")))
        .cast("long").as("w"))
      .groupBy(col("source"))
      .agg(sum(col("w")).cast("long").as("bucketed_pad_tokens"))
    val arrWaste = sized.groupBy(col("source"), col("b_arr"))
      .agg((count(lit(1)) * max(col("n_tokens")) - sum(col("n_tokens")))
        .cast("long").as("w"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_batches"),
           sum(col("w")).cast("long").as("arrival_pad_tokens"))
    arrWaste.join(lenWaste, Seq("source"))
      .select(col("source"), col("n_batches"),
              col("arrival_pad_tokens"), col("bucketed_pad_tokens"))
      .orderBy(col("source"))
  }

  /** q171 — CURRICULUM TRAINING ORDER: every document gets a single
    * global position such that (a) within each source, higher-quality
    * docs (integer lexical-diversity score, exact micro-rational
    * `n_unique·1e6 div n_tokens`) come first, and (b) sources are
    * consumed round-robin, so no training window sees one source for
    * long. This is the manifest a curriculum dataloader walks — the
    * quality-descending analogue of q151's shard pack.
    *
    * The interleave needs NO global window: per-source quality rank
    * `rn` comes from the two-phase [[distributedPrefix]] (bucket =
    * negated score, order-contiguous), the source index from a
    * broadcast of the tiny source dimension, and the global position
    * is PURE ARITHMETIC — `(rn−1)·S + src_idx` — strictly increasing
    * in round-robin consumption order and unique across the corpus
    * (positions of absent (rank, source) cells at the ragged tail are
    * simply unassigned, which a dataloader skips for free). The plan
    * is two bounded window passes plus broadcast joins — nothing
    * routes the corpus through one partition at any scale. */
  def q171CurriculumOrder(s: SparkSession, dir: String): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    // The score exists ONLY as the (negated) bucket column: q171's
    // output doesn't use the running sum (withSum = false) and reads
    // the score back as −pb (keepBucket = true) — any column one
    // branch uses and the other prunes would make the rank/totals
    // subtrees canonically unequal, costing the shared exchange and
    // double-scanning the corpus (r7 ScanReuseSpec catch).
    val scored = Tables.documents(s, dir)
      .select(col("source"), col("doc_id"),
              size(toks).cast("long").as("n_tokens"),
              size(array_distinct(toks)).cast("long").as("n_unique"))
      .withColumn("score_micro", expr("(n_unique * 1000000L) div n_tokens"))
      .drop("n_unique")
    val ranked = distributedPrefix(
      scored,
      // (negated score, doc-id range): scores concentrate too — the
      // same modal-bucket sub-split as negLenBucket
      struct((-col("score_micro")).as("ns"), expr("doc_id div 256L").as("dr")),
      Seq(col("doc_id")),
      withSum = false, keepBucket = true)
      .withColumn("score_micro", -col("pb.ns"))
    val srcIdx = {
      import org.apache.spark.sql.expressions.Window
      // straight off the documents scan (the oracle's own
      // formulation): a one-column pruned scan, not a re-derivation
      // of the ranked lineage (which would re-tokenize the corpus
      // just to list sources). The explicit isNotNull mirrors
      // distributedPrefix's own filter so both sides of the join
      // agree on the source domain — without it a null-source row
      // would inflate nSrc and shift every global_pos stride
      // (ADVICE r7).
      Tables.documents(s, dir).select(col("source"))
        .filter(col("source").isNotNull).distinct()
        .withColumn("src_idx",
                    row_number().over(Window.orderBy(col("source")))
                      .cast("long"))
    }
    val nSrc = srcIdx.count() // tiny dim, one job; broadcast below
    ranked.join(broadcast(srcIdx), Seq("source"))
      .select(col("doc_id"), col("source"), col("score_micro"), col("rn"),
              ((col("rn") - 1) * lit(nSrc) + col("src_idx")).as("global_pos"))
      .orderBy(col("global_pos"))
  }

  /** q177 — training-mix token allocation (FIXPOINT waterfill): split
    * a token budget equally across sources, cap each source at what
    * it actually has, and redistribute the freed budget among the
    * uncapped sources — repeated until no redistribution round caps a
    * new source (r7's single-round contract under-allocated whenever
    * the redistribution itself capped a second source, the common
    * case in long-tail mixes). This is the "how many tokens do I take
    * from each source" planning step that turns per-source counts
    * into a sampling plan, run before q103's per-source greedy
    * selection executes it. Budget defaults to half the corpus, so
    * the plan is data-derived and scale-free.
    *
    * The iterate is a SCALAR fixpoint: because a source is capped iff
    * avail < level, and the level sequence
    *   level(k+1) = (budget − Σ_{avail<level(k)} avail) div (n − #capped)
    * is provably non-decreasing (freed budget spreads over fewer
    * heads), the capped set is a function of the current level alone —
    * so the loop carries one long, converges in ≤ |sources| rounds,
    * and runs DRIVER-side on the collected |sources|-row aggregate
    * (bounded by the source domain, never the corpus). All arithmetic
    * is integer; final_alloc = min(avail, final level) never exceeds
    * the budget. The DuckDB oracle replays the identical iterate as a
    * recursive CTE.
    *
    * Scale shape: ONE map-combined aggregate over documents (out:
    * |sources| rows, persisted so the collect and the output frame
    * share the single corpus pass); the waterfill is a driver loop on
    * that tiny frame plus literal arithmetic on its persisted copy. */
  def q177MixAllocation(s: SparkSession, dir: String): DataFrame = {
    val avail = Tables.documents(s, dir)
      .select(col("source"), size(TextOps.tokens(col("text"))).cast("long")
        .as("n_tokens"))
      .groupBy(col("source"))
      .agg(sum(col("n_tokens")).cast("long").as("avail_tokens"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val av = avail.collect().map(_.getLong(1)).sorted
    val n = av.length.toLong
    val budget = av.sum / 2L
    val base = if (n > 0) budget / n else 0L
    var level = base
    var done = n == 0
    while (!done) {
      val capped = av.takeWhile(_ < level) // sorted: capped = prefix
      val next =
        if (n - capped.length > 0) (budget - capped.sum) / (n - capped.length)
        else level
      if (next == level) done = true else level = next
    }
    val lv = level
    avail
      .select(col("source"), col("avail_tokens"), lit(base).as("base_alloc"),
              (col("avail_tokens") < lv).cast("long").as("capped"),
              least(col("avail_tokens"), lit(lv)).cast("long")
                .as("final_alloc"))
      .orderBy(col("source"))
  }

  /** q182 — CURATED TRAINING MIX: the end-to-end artifact a data-mix
    * pipeline actually ships, composing three operators this engine
    * already gates separately — q73's quality rule chain decides
    * WHICH documents are eligible, q177's waterfill decides HOW MANY
    * tokens each source may contribute, and a per-source
    * quality-ranked greedy prefix decides WHICH eligible documents
    * fill that budget: rank kept docs by lexical diversity
    * (distinct-token micro-ratio, doc_id tiebreak) and select the
    * maximal prefix whose running token total fits final_alloc
    * (positive sizes ⇒ the cum_before + n ≤ alloc predicate IS the
    * maximal prefix — no loop needed). Output: per source, the
    * budget, selected doc/token counts and integer-micro utilization.
    *
    * Scale shape: one corpus-linear scan computes eligibility and
    * the score; the per-source running total goes through
    * [[distributedPrefix]] (bucket = (−score, id-range) — the q172
    * modal-bucket sub-split), the |sources|-row allocation frame
    * broadcasts onto the ranked docs, and the final rollup is
    * |sources| rows. Nothing driver-side beyond q177's bounded
    * allocation fixpoint. */
  def q182CuratedMix(s: SparkSession, dir: String): DataFrame = {
    val alloc = q177MixAllocation(s, dir)
      .select(col("source"), col("final_alloc"))
    val toks = TextOps.tokens(col("text"))
    val base = Tables.documents(s, dir).select(
      col("source"), col("doc_id"),
      size(toks).cast("long").as("n"),
      size(filter(toks, t => t.isin(TextOps.stopwords: _*)))
        .cast("long").as("stops"),
      size(array_distinct(toks)).cast("long").as("uniq"),
      length(col("text")).cast("long").as("len"))
    val avgLen = (col("len") - col("n") + lit(1L)).cast("double") / col("n")
    val keep = base.filter(
      col("n") >= 30 &&
      col("stops").cast("double") / col("n") >= 0.02 &&
      col("uniq").cast("double") / col("n") >= 0.35 &&
      avgLen >= 4.0 && avgLen <= 8.0)
      .select(col("source"), col("doc_id"),
              col("n").as("n_tokens"),
              expr("uniq * 1000000L div n").as("q_score"))
    val ranked = distributedPrefix(keep,
      struct(negate(col("q_score")), expr("doc_id div 1024")),
      Seq(col("doc_id")))
    ranked.join(broadcast(alloc), Seq("source"))
      .filter(col("cum_before") + col("n_tokens") <= col("final_alloc"))
      .groupBy(col("source"), col("final_alloc"))
      .agg(count(lit(1)).cast("long").as("n_selected"),
           sum(col("n_tokens")).cast("long").as("sel_tokens"))
      .select(col("source"), col("final_alloc"), col("n_selected"),
              col("sel_tokens"),
              expr("sel_tokens * 1000000L div final_alloc").as("util_micro"))
      .orderBy(col("source"))
  }

  /** DuckDB oracle for q182 — q73's rule chain, q177's recursive
    * waterfill level, the per-source (score desc, doc_id) running
    * sum, and the same maximal-prefix predicate. */
  def q182OracleSql: String =
    """WITH RECURSIVE
       td AS (SELECT source, doc_id, string_split(text, ' ') AS toks,
                length(text) AS len FROM documents),
       r AS (SELECT source, doc_id, len(toks)::BIGINT AS n,
              len(list_filter(toks, w ->
                list_contains(['the','a','of','and','to','in'], w)))::BIGINT AS stops,
              len(list_distinct(toks))::BIGINT AS uniq, len FROM td),
       a AS (SELECT source, sum(n)::BIGINT AS avail_tokens FROM r GROUP BY source),
       t AS (SELECT ((sum(avail_tokens)) // 2)::BIGINT AS budget,
                    count(*)::BIGINT AS n FROM a),
       lv(level) AS (
         SELECT (budget // n)::BIGINT FROM t
         UNION ALL
         SELECT x.next FROM (
           SELECT CASE WHEN t.n - (SELECT count(*) FROM a
                                   WHERE avail_tokens < l.level) > 0
             THEN ((t.budget - (SELECT coalesce(sum(avail_tokens), 0)
                                FROM a WHERE avail_tokens < l.level))
                   // (t.n - (SELECT count(*) FROM a
                              WHERE avail_tokens < l.level)))::BIGINT
             ELSE l.level END AS next, l.level AS level
           FROM lv l, t) x
         WHERE x.next <> x.level),
       f AS (SELECT max(level)::BIGINT AS level FROM lv),
       alloc AS (SELECT source, least(avail_tokens, f.level)::BIGINT
                   AS final_alloc FROM a, f),
       keep AS (SELECT source, doc_id, n AS n_tokens,
                  (uniq * 1000000 // n)::BIGINT AS q_score
                FROM r WHERE n >= 30 AND stops::DOUBLE / n >= 0.02
                  AND uniq::DOUBLE / n >= 0.35
                  AND (len - n + 1)::DOUBLE / n >= 4.0
                  AND (len - n + 1)::DOUBLE / n <= 8.0),
       pr AS (SELECT source, doc_id, n_tokens,
                coalesce(sum(n_tokens) OVER (PARTITION BY source
                  ORDER BY q_score DESC, doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS cum_before
              FROM keep),
       sel AS (SELECT p.source, p.n_tokens, al.final_alloc
               FROM pr p JOIN alloc al USING (source)
               WHERE p.cum_before + p.n_tokens <= al.final_alloc)
       SELECT source, final_alloc, count(*)::BIGINT AS n_selected,
         sum(n_tokens)::BIGINT AS sel_tokens,
         (sum(n_tokens) * 1000000 // final_alloc)::BIGINT AS util_micro
       FROM sel GROUP BY source, final_alloc ORDER BY source"""

  private val Q192TargetLang = "en"
  private val Q192K = 50

  /** q192 — DSIR-style importance weighting for data selection (Xie
    * et al., NeurIPS 2023: Data Selection via Importance Resampling):
    * score every document by how much its unigram distribution looks
    * like a TARGET slice (here the `lang = 'en'` documents) relative
    * to the whole corpus, and report the top-k highest-weight
    * documents — the primitive behind "select web data that looks
    * like the high-quality reference corpus".
    *
    * DSIR's per-token log-ratio log p_target(w)/p_corpus(w) is
    * replaced by the add-one-smoothed RATIO in integer micro-units —
    * s(w) = (a_w+1)·1e6·(N_c+V) div ((b_w+1)·(N_t+V)) — and the
    * document weight by the c_w-weighted MEAN of s(w) (the q113 PMI
    * lesson: never let a float log decide an oracle-checked value;
    * the ratio-mean ranks monotonically with the likelihood ratio on
    * the same evidence). All arithmetic is exact BIGINT in both
    * engines; the stated bound (a_w+1)·1e6·(N_c+V) < 2^63 holds
    * through every bench SF with orders of magnitude to spare — a
    * trillion-token deployment would widen s(w) to DECIMAL(38) or
    * pre-divide the normalizers.
    *
    * Scale shape: ONE corpus tokenize pass collapsed to the
    * per-(doc, word) count frame (persisted — it feeds the vocabulary
    * rollup and the weight join); the unigram table and its totals
    * are vocabulary-sized; the totals land driver-side as one 3-value
    * row (the year-clamp bounded-scalar pattern); the weight join is
    * vocab-against-doc-words on the word key; and the final top-k is
    * a TakeOrderedAndProject — map-side partial top-k, never a global
    * sort. */
  def q192DsirWeights(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val dw = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("lang"),
              explode(TextOps.tokens(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("doc_id"), col("source"), col("lang"), col("w"))
      .agg(count(lit(1)).as("c"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val cnt = dw.groupBy(col("w"))
      .agg(sum(col("c")).as("b"),
           coalesce(sum(when(col("lang") === Q192TargetLang, col("c"))), lit(0L))
             .as("a"))
    val t = cnt.agg(sum(col("a")), sum(col("b")), count(lit(1))).collect()(0)
    val (nt, nc, v) = (t.getLong(0), t.getLong(1), t.getLong(2))
    val sc = cnt.select(col("w"),
      expr(s"(a + 1) * 1000000L * ${nc + v}L div ((b + 1) * ${nt + v}L)")
        .as("s_micro"))
    dw.join(sc, "w")
      .groupBy(col("doc_id"), col("source"), col("lang"))
      .agg(sum(col("c") * col("s_micro")).as("num"),
           sum(col("c")).as("n_tokens"))
      .select(col("doc_id"), col("source"), col("lang"), col("n_tokens"),
              expr("num div n_tokens").as("w_micro"))
      .orderBy(col("w_micro").desc, col("doc_id")).limit(Q192K)
  }

  /** DuckDB oracle for q192 — identical smoothing, identical integer
    * ratio and mean, identical (weight DESC, doc_id) top-k. */
  def q192OracleSql: String =
    s"""WITH tw AS (SELECT doc_id, source, lang, w FROM (
           SELECT doc_id, source, lang,
             unnest(string_split(text, ' ')) AS w FROM documents)
         WHERE len(w) > 0),
       dw AS (SELECT doc_id, source, lang, w, count(*)::BIGINT AS c
         FROM tw GROUP BY ALL),
       cnt AS (SELECT w, sum(c)::BIGINT AS b,
           coalesce(sum(CASE WHEN lang = '$Q192TargetLang' THEN c END), 0)::BIGINT AS a
         FROM dw GROUP BY w),
       t AS (SELECT sum(a)::BIGINT AS nt, sum(b)::BIGINT AS nc,
           count(*)::BIGINT AS v FROM cnt),
       sc AS (SELECT w, ((a + 1) * 1000000 * (nc + v))
             // ((b + 1) * (nt + v)) AS s_micro FROM cnt, t),
       wts AS (SELECT doc_id, source, lang,
           sum(c * s_micro)::BIGINT AS num, sum(c)::BIGINT AS n_tokens
         FROM dw JOIN sc USING (w) GROUP BY ALL)
       SELECT doc_id, source, lang, n_tokens, num // n_tokens AS w_micro
       FROM wts ORDER BY w_micro DESC, doc_id LIMIT $Q192K"""

  /** q210 — per-cell frequency capping (the RefinedWeb/FineWeb
    * "per-domain cap" move, on the (source, lang) cells this corpus
    * has): cells over-represented in the raw crawl are capped at a
    * data-derived budget — cap = ⌈N / (2·|cells|)⌉, i.e. half the
    * mean cell size, floor 1 — and WHICH documents survive is
    * decided by content hash rank (smallest [[hashRank52]] first,
    * doc_id ties), never by position or randomness, so any engine
    * and any layout reproduces the identical survivor set. Reported
    * per cell: raw size, cap, kept count, and kept char mass — the
    * audit row a corpus-build logs.
    *
    * Scale shape: the cap is ONE 1-row aggregate collected to the
    * driver (the A2 global-scalar discipline); survivor selection is
    * the bounded [[graft.functions.TopK]] aggregator per cell
    * (map-side partial, ≤ cap rows per cell per partition cross the
    * shuffle — never a corpus-wide window sort); kept stats re-enter
    * via a broadcast id join (|cells|·cap rows). At 100 TB nothing
    * but per-cell top-cap buffers and the tiny kept-id frame move. */
  def q210CellCaps(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.TopK
    val d = Tables.documents(s, dir)
      .select(col("source"), col("lang"), col("doc_id"), col("n_chars"),
              hashRank52(col("text")).as("h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cells = d.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // cap = ceil(N / (2*|cells|)): one scalar to the driver (A2)
    val Array(total, nCells) = cells
      .agg(sum(col("n_docs")), count(lit(1))).as[(Long, Long)]
      .collect().map { case (t, c) => Array(t, c) }.head
    val cap = math.max(1L, (total + 2 * nCells - 1) / (2 * nCells)).toInt
    val kept = d
      .select(concat_ws("|", col("source"), col("lang")).as("cell"),
              col("doc_id"), col("h"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      // smallest hash wins; TopK keeps score DESC with id-asc ties,
      // so feed -h (ids break exact-duplicate-text hash ties)
      .mapValues { case (_, id, h) => TopK.Scored(id, -h.toDouble) }
      .agg(TopK.topK(cap).toColumn.name("top"))
      .flatMap { case (_, top) => top.map(_.id) }
      .toDF("doc_id")
    val keptStats = d.join(broadcast(kept), Seq("doc_id"))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("kept_chars"))
    cells.join(keptStats, Seq("source", "lang"))
      .select(col("source"), col("lang"), col("n_docs"),
              lit(cap.toLong).as("cap"), col("n_kept"), col("kept_chars"))
      .orderBy(col("source"), col("lang"))
  }

  /** DuckDB oracle for q210 — identical ceiling-division cap and
    * (hash, doc_id)-ranked survivor selection. */
  def q210OracleSql: String =
    """WITH d AS (SELECT source, lang, doc_id, n_chars,
         ('0x' || substr(md5(text), 1, 13))::BIGINT AS h FROM documents),
       cells AS (SELECT source, lang, count(*)::BIGINT AS n_docs
         FROM d GROUP BY source, lang),
       cap AS (SELECT greatest(1, (sum(n_docs) + 2 * count(*) - 1)
           // (2 * count(*))) AS cap FROM cells),
       rk AS (SELECT source, lang, doc_id, n_chars,
         row_number() OVER (PARTITION BY source, lang
                            ORDER BY h, doc_id) AS r FROM d),
       kept AS (SELECT source, lang,
         count(*)::BIGINT AS n_kept, sum(n_chars)::BIGINT AS kept_chars
         FROM rk WHERE r <= (SELECT cap FROM cap) GROUP BY source, lang)
       SELECT source, lang, n_docs, (SELECT cap FROM cap)::BIGINT AS cap,
         n_kept, kept_chars
       FROM cells JOIN kept USING (source, lang)
       ORDER BY source, lang"""

  private val Q229M = 4096
  private val Q229K = 50

  /** q229 — DSIR-style importance weights for data selection [Xie et
    * al., NeurIPS 2023]: score each raw-pool document by how much its
    * hashed n-gram distribution looks like a TARGET domain sample,
    * weight = Σ_g llr[h(g)] over the doc's feature stream (unigrams +
    * bigram positions, repeats counted — term frequency is the
    * signal) where llr[b] is the log-likelihood ratio of bucket b
    * under the target vs raw hashed-unigram models (Laplace +1), and
    * report the top-k selection. The target sample is the nib = 0
    * content-hash slice (the q70 device), the raw pool the rest.
    *
    * Cross-engine determinism: the per-BUCKET log ratios are
    * quantized to integer micros FIRST — llr_micro[b] =
    * floor(1e6·(ln(cnt_t+1) − ln(cnt_r+1))), base_micro =
    * floor(1e6·ln((R+m)/(T+m))) — so every per-doc weight is an
    * INTEGER sum (order-free, layout-free); only m + 1 ln calls are
    * ever rounded, the q214 pattern, never a float accumulation.
    *
    * Scale shape: one exploded pass builds the (bucket, side) counts
    * — output bounded at m = 4096 rows regardless of corpus size —
    * broadcast back as the LLR table; the raw pool then pays one
    * map-side probe join and one doc-keyed integer sum; top-k is a
    * TakeOrdered. This is the production DSIR shape: the model IS a
    * fixed-size table, the corpus is touched twice map-side. */
  def q229DsirWeights(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.rollingHash31
    val feats = Tables.documents(s, dir)
      .select(col("doc_id"),
              hashBucket16(col("text")).as("nib"),
              concat(TextOps.tokens(col("text")),
                     TextOps.shinglePositions(TextOps.tokens(col("text")), 2))
                .as("grams"))
    val g = feats
      .select(col("doc_id"), col("nib"),
              explode(col("grams")).as("gram"))
      .select(col("doc_id"), col("nib"),
              pmod(rollingHash31(col("gram")), lit(Q229M.toLong)).as("b"))
    // NOT persisted: g is read twice, but it is the corpus-sized
    // exploded feature stream — caching it would cost more storage
    // than the cheap explode+hash recompute at 100 TB (the opposite
    // trade from the multi-branch shingle caches, which amortize an
    // expensive projection)
    val counts = g.groupBy(col("b"))
      .agg(sum(when(col("nib") === 0, 1L).otherwise(0L)).as("ct"),
           sum(when(col("nib") =!= 0, 1L).otherwise(0L)).as("cr"))
    val totals = counts
      .agg(sum(col("ct")).as("t_tot"), sum(col("cr")).as("r_tot"))
    val llr = counts
      .select(col("b"),
              floor(lit(1e6) * (log(col("ct") + lit(1.0)) -
                                log(col("cr") + lit(1.0))))
                .cast("long").as("llr_micro"))
    val scored = g.filter(col("nib") =!= 0)
      .join(broadcast(llr), Seq("b"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_feats"),
           // an unseen bucket has llr floor(1e6*(ln 1 - ln 1)) = 0,
           // identical to the joined value for an all-zero bucket
           sum(coalesce(col("llr_micro"), lit(0L))).as("s_llr"))
    scored
      .crossJoin(broadcast(totals))
      .select(col("doc_id"), col("n_feats"),
              (col("s_llr") + col("n_feats") *
                 floor(lit(1e6) *
                       log((col("r_tot") + lit(Q229M.toDouble)) /
                           (col("t_tot") + lit(Q229M.toDouble)))).cast("long"))
                .as("weight_micro"))
      .orderBy(col("weight_micro").desc, col("doc_id"))
      .limit(Q229K)
  }

  /** DuckDB oracle for q229 — identical feature stream, bucket hash,
    * micro-quantized LLR table, and integer weight sum. */
  def q229OracleSql: String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
         ('0x' || substr(md5(text), 32, 1))::BIGINT AS nib FROM documents),
       f AS (SELECT doc_id, nib,
         list_concat(toks, CASE WHEN len(toks) >= 2 THEN
           list_transform(generate_series(1, len(toks) - 1),
             i -> toks[i] || ' ' || toks[i+1]) ELSE [] END) AS grams
         FROM t),
       g AS (SELECT doc_id, nib,
         list_reduce(list_prepend(0, list_transform(string_split(u.gram, ''),
           ch -> ascii(ch)::BIGINT)), (acc, c) -> (acc * 31 + c) % ${graft.ops.Dedup.MhP})
           % $Q229M AS b
         FROM f, unnest(grams) AS u(gram)),
       counts AS (SELECT b,
         sum(CASE WHEN nib = 0 THEN 1 ELSE 0 END)::BIGINT AS ct,
         sum(CASE WHEN nib <> 0 THEN 1 ELSE 0 END)::BIGINT AS cr
         FROM g GROUP BY b),
       tot AS (SELECT sum(ct)::BIGINT AS t_tot, sum(cr)::BIGINT AS r_tot
         FROM counts),
       llr AS (SELECT b,
         floor(1e6 * (ln(ct + 1.0) - ln(cr + 1.0)))::BIGINT AS llr_micro
         FROM counts),
       sc AS (SELECT doc_id, count(*)::BIGINT AS n_feats,
         sum(coalesce(llr_micro, 0))::BIGINT AS s_llr
         FROM g LEFT JOIN llr USING (b) WHERE nib <> 0 GROUP BY doc_id)
       SELECT doc_id, n_feats,
         (s_llr + n_feats * floor(1e6 * ln((r_tot + $Q229M.0) / (t_tot + $Q229M.0)))::BIGINT)
           AS weight_micro
       FROM sc, tot
       ORDER BY weight_micro DESC, doc_id LIMIT $Q229K"""
}
