package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorFunctions.bottomK

/** Classic relational surface: aggregation, joins, windows, set ops,
  * distinct, top-k, rollup — the operator families the reference's
  * summary query (SURVEY.md §2.3 A1, §2.4 O1) belongs to, widened to
  * the full surface a Spark-native engine must offer (SURVEY.md §7.2
  * step 4).
  *
  * Hash-match discipline (SURVEY.md §7.4): every query ends in a total
  * deterministic ORDER BY (ties broken by key columns); every
  * floating-point aggregate is rounded to a fixed scale so that
  * last-ulp differences from summation order cannot flip the compare.
  *
  * Scale notes (100 TB posture):
  *  - groupBy aggregations run partial (map-side) + final automatically;
  *    no driver-side collection anywhere.
  *  - dimension tables (nation, region, supplier) get an explicit
  *    broadcast hint; fact-fact joins (lineitem⋈orders) stay shuffle
  *    hash / sort-merge on their keys and benefit from AQE.
  *  - top-k uses orderBy+limit which Spark executes as TakeOrdered
  *    (per-partition heap + driver merge of k rows), not a global sort.
  */
object Relational {

  /** Rounded double aggregate — 4dp is coarse enough to absorb
    * summation-order ulp noise, fine enough to be meaningful. */
  private def r4(c: Column): Column = round(c, 4)

  /** q01 — reference A1+O1 shape at TPC-H Q1 scope: scan-filter →
    * hash aggregate (8 aggregates) → sort. The filter prunes on the
    * parquet min/max stats of l_shipdate. */
  def q01PricingSummary(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") <= lit("2000-09-02"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        r4(sum("l_quantity")).as("sum_qty"),
        r4(sum("l_extendedprice")).as("sum_base_price"),
        r4(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("sum_disc_price"),
        r4(avg("l_quantity")).as("avg_qty"),
        r4(avg("l_extendedprice")).as("avg_price"),
        r4(avg("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** q02 — multi-way join (TPC-H Q5 shape): lineitem⋈orders shuffle
    * join; customer⋈nation⋈region broadcast (dims). Revenue per nation. */
  def q02RevenueByNation(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir).filter(year(col("o_orderdate")) === 1997)
    val c = Tables.customer(s, dir)
    val n = broadcast(Tables.nation(s, dir))
    val r = broadcast(Tables.region(s, dir))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .join(r, col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(r4(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue"),
           count(lit(1)).as("n_items"))
      .orderBy(col("r_name"), col("n_name"))
  }

  /** q03 — top-k: TakeOrdered(10), no global sort. Tiebreak on key. */
  def q03TopOrders(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)

  /** q04 — window function: top-3 orders per customer by price.
    * Single shuffle on o_custkey; row_number with deterministic
    * tiebreak. */
  def q04TopOrdersPerCustomer(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .orderBy(col("o_custkey"), col("rn"))
  }

  /** q05 — distinct (shuffle-dedup on the pair). */
  def q05DistinctSegments(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .select(col("c_mktsegment"), col("c_nationkey"))
      .distinct()
      .orderBy(col("c_mktsegment"), col("c_nationkey"))

  /** q06 — set op: customers active in 1997 but not in 1998 (EXCEPT =
    * distinct anti semantics in both Spark and ANSI SQL). */
  def q06ExceptCustomers(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val a = o.filter(year(col("o_orderdate")) === 1997).select(col("o_custkey"))
    val b = o.filter(year(col("o_orderdate")) === 1998).select(col("o_custkey"))
    a.except(b).orderBy(col("o_custkey"))
  }

  /** q07 — rollup with explicit null ordering (grand-total + per-flag
    * subtotals). */
  def q07RollupQuantity(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(r4(sum("l_quantity")).as("sum_qty"), count(lit(1)).as("cnt"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  /** q08 — left semi join (EXISTS): customers with ≥1 open order. */
  def q08SemiJoin(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir).filter(col("o_orderstatus") === "O")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  /** q09 — left anti join (NOT EXISTS): customers with no 1998 orders. */
  def q09AntiJoin(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir).filter(year(col("o_orderdate")) === 1998)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  /** q10 — date/time bucketing: monthly order volume. The month is
    * emitted as a 'yyyy-MM' string so the oracle compare is not
    * sensitive to date-vs-timestamp physical types. */
  def q10MonthlyOrders(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n_orders"), r4(sum("o_totalprice")).as("total"))
      .orderBy(col("month"))

  /** q18 — value-counts diagnostic (reference F10): brand histogram. */
  def q18BrandCounts(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir)
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("p_brand"))

  /** q38 — CUBE: quantity/count over every combination of returnflag
    * × linestatus (all four grouping sets in one pass — Spark expands
    * to a single Expand + aggregate, no re-scan per set). */
  def q38Cube(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(r4(sum("l_quantity")).as("sum_qty"), count(lit(1)).as("cnt"))
      .orderBy(col("l_returnflag").asc_nulls_first,
               col("l_linestatus").asc_nulls_first)

  /** q41 — HLL sketch distinct counting per segment, FULLY
    * oracle-gated (r10 verdict #8 — the q214 register replay applied
    * to the production alias itself): the sketch is a register-exact
    * HyperLogLog at m = 1024 (52 md5 bits; top 10 index the
    * register, ρ = leading-zero count of the remaining 42 bits + 1,
    * computed exactly as 43 − len(bin(rest)); integer register sum
    * Σ2^{43−ρ} ≤ 1024·2^43 ≈ 9e15, inside int64; linear counting on
    * the small range), so DuckDB replays the estimate bit-for-bit —
    * unlike the engine-internal `approx_count_distinct` (HLL++,
    * non-replayable), which stays the one-line production
    * alternative and stays verified by the RelationalSpec
    * side-by-side error bound. THE cardinality operator at 100 TB
    * either way: fixed-size
    * mergeable sketch, registers — not rows — cross the shuffle.
    * RelationalSpec additionally bounds the estimate against the
    * exact count. */
  def q41ApproxDistinct(s: SparkSession, dir: String): DataFrame = {
    val two42 = 4398046511104L // 2^42
    val two43 = 8796093022208L // 2^43
    val m = 1024
    val alpha = 0.7205407583220416 // 0.7213/(1 + 1.079/1024)
    val h52 = conv(substring(md5(col("o_custkey").cast("string")), 1, 13),
                   16, 10).cast("long")
    val o = Tables.orders(s, dir)
    val regs = o
      .select(col("o_orderstatus"), h52.as("h"))
      .select(col("o_orderstatus"),
              expr(s"h div ${two42}L").as("bucket"),
              expr(s"h % ${two42}L").as("rest"))
      .groupBy(col("o_orderstatus"), col("bucket"))
      .agg(max(when(col("rest") === 0, lit(43))
                 .otherwise(lit(43) - length(bin(col("rest")))))
             .cast("long").as("rho"))
    val counts = o.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"))
    regs
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("occupied"),
           sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(43 - rho AS INT))"))
             .as("s_occ"))
      .select(col("o_orderstatus"), col("occupied"),
              (col("s_occ") + (lit(m.toLong) - col("occupied")) * lit(two43))
                .as("s_sum"))
      .withColumn("hll_raw",
        lit(alpha) * lit(m.toDouble * m.toDouble) * lit(two43.toDouble) /
          col("s_sum").cast("double"))
      .withColumn("approx_customers",
        round(when(col("hll_raw") <= lit(2.5 * m) && col("occupied") < m,
          lit(m.toDouble) *
            log(lit(m.toDouble) /
                (lit(m.toLong) - col("occupied")).cast("double")))
          .otherwise(col("hll_raw"))).cast("long"))
      .join(counts, Seq("o_orderstatus"))
      .select(col("o_orderstatus"), col("approx_customers"), col("n_orders"))
      .orderBy(col("o_orderstatus"))
  }

  /** DuckDB oracle for q41 — identical md5 bit split, bin()-length ρ,
    * integer register sum, and the same two-regime estimator at
    * m = 1024. */
  def q41OracleSql: String =
    s"""WITH h AS (SELECT o_orderstatus,
         ('0x' || substr(md5(o_custkey::VARCHAR), 1, 13))::BIGINT AS h
         FROM orders),
       b AS (SELECT o_orderstatus, h // 4398046511104 AS bucket,
         h % 4398046511104 AS rest FROM h),
       regs AS (SELECT o_orderstatus, bucket,
         max(CASE WHEN rest = 0 THEN 43
             ELSE 43 - length(bin(rest)) END)::BIGINT AS rho
         FROM b GROUP BY o_orderstatus, bucket),
       agg AS (SELECT o_orderstatus, count(*)::BIGINT AS occupied,
         sum(1::BIGINT << (43 - rho)::INT)::BIGINT AS s_occ
         FROM regs GROUP BY o_orderstatus),
       s AS (SELECT o_orderstatus, occupied,
         s_occ + (1024 - occupied) * 8796093022208 AS s_sum FROM agg),
       est AS (SELECT o_orderstatus, occupied,
         0.7205407583220416::DOUBLE * 1048576.0::DOUBLE *
           8796093022208.0::DOUBLE / s_sum::DOUBLE AS hll_raw
         FROM s),
       n AS (SELECT o_orderstatus, count(*)::BIGINT AS n_orders
         FROM orders GROUP BY o_orderstatus)
       SELECT est.o_orderstatus,
         round(CASE WHEN hll_raw <= 2560.0 AND occupied < 1024
              THEN 1024.0 * ln(1024.0 / (1024 - occupied))
              ELSE hll_raw END)::BIGINT AS approx_customers,
         n_orders
       FROM est JOIN n ON est.o_orderstatus = n.o_orderstatus
       ORDER BY est.o_orderstatus"""

  /** q46 — INTERSECT: customers active in both 1997 and 1998
    * (completes the set-operation family next to q06's EXCEPT). */
  def q46Intersect(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    o.filter(year(col("o_orderdate")) === 1997).select(col("o_custkey"))
      .intersect(o.filter(year(col("o_orderdate")) === 1998).select(col("o_custkey")))
      .orderBy(col("o_custkey"))
  }

  /** q47 — pivot: order counts per year with one column per order
    * status. Spark's pivot is a single groupBy with conditional
    * aggregates (one pass, map-side partial); the oracle spells the
    * same FILTER aggregates. */
  def q47Pivot(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(year(col("o_orderdate")).as("yr"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L, Seq("F", "O", "P"))
      .orderBy(col("yr"))

  /** q48 — frame-based window: 7-day moving average of daily order
    * totals (ROWS BETWEEN 6 PRECEDING AND CURRENT ROW over the daily
    * aggregate — the window runs over |days| rows, not |orders|). */
  def q48MovingAvg(s: SparkSession, dir: String): DataFrame =
    movingAvg7(Tables.orders(s, dir)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
      .agg(sum(col("o_totalprice")).as("day_total")))

  /** 7-calendar-day moving average over a (day 'yyyy-MM-dd',
    * day_total) frame, windowed PER YEAR (VERDICT r1 #8): the heavy
    * per-order work is the day aggregation upstream; the RANGE frame
    * on the epoch-day number reaches back 6 calendar days, so the
    * only rows a year-partition can be missing are the previous
    * year's Dec 26-31 — padding exactly those rows makes the per-year
    * result equal the global formulation under ANY density (a
    * positional ROWS pad would silently diverge on sparse years). No
    * single-partition WindowExec; partitions stay ≤ 372 rows at any
    * data volume. */
  private[queries] def movingAvg7(daily: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dayNum = datediff(to_date(col("day")), lit("1970-01-01")).cast("long")
    val yr = substring(col("day"), 1, 4).cast("int")
    val real = daily.withColumn("yr", yr).withColumn("pad", lit(0))
    val pads = real
      .filter(substring(col("day"), 6, 2) === "12" &&
              substring(col("day"), 9, 2) >= "26")
      .withColumn("yr", col("yr") + 1).withColumn("pad", lit(1))
    val w = Window.partitionBy(col("yr")).orderBy(dayNum)
      .rangeBetween(-6, Window.currentRow)
    real.unionByName(pads)
      .withColumn("ma7", avg(col("day_total")).over(w))
      .filter(col("pad") === 0)
      .select(col("day"), r4(col("day_total")).as("day_total"),
              r4(col("ma7")).as("ma7"))
      .orderBy(col("day"))
  }

  /** q43 — top-3 orders per customer via the bounded
    * [[graft.functions.BottomK]] aggregate instead of a window: map-side
    * partial combine means the shuffle carries ≤3 rows per customer
    * per partition rather than every order. Price descending rides as
    * its negation (exact for doubles), order key ascending breaks ties.
    * Same output (and oracle) as the window formulation q04 — the two
    * must agree exactly. */
  def q43TopKAgg(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(bottomK(struct((-col("o_totalprice")).as("neg"), col("o_orderkey")), 3)
             .as("top"))
      .select(col("o_custkey"), posexplode(col("top")))
      .select(col("o_custkey"), col("col.o_orderkey").as("o_orderkey"),
              (-col("col.neg")).as("o_totalprice"), (col("pos") + 1).as("rn"))
      .orderBy(col("o_custkey"), col("rn"))

  /** q42 — exact percentiles (linear interpolation, identical
    * definition in both engines) + stddev per priority class: the
    * distribution-shape aggregates a data-quality dashboard needs.
    * percentile is a sort-based exact aggregate; at scale swap for
    * approx_percentile with a t-digest error budget. */
  def q42Percentiles(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_orderpriority"))
      .agg(r4(percentile(col("o_totalprice"), lit(0.5))).as("p50"),
           r4(percentile(col("o_totalprice"), lit(0.9))).as("p90"),
           r4(stddev_samp(col("o_totalprice"))).as("sd"))
      .orderBy(col("o_orderpriority"))

  /** q53's KMV sketch size. */
  private val Q53K = 4096

  /** q53 — approximate percentiles twin of q42, FULLY oracle-gated
    * (r10 verdict #8 — the q187 KMV replay applied to the production
    * alias itself): the sketch the exact sort-based percentile must
    * swap to at 100 TB, here as a bottom-k-by-replayable-hash sample
    * ([[sampledQuantiles]], k = 4096 per group) with pure integer
    * rank selection over it, so DuckDB replays the estimate
    * bit-for-bit — unlike the engine-internal GK `percentile_approx`
    * (interpolation is implementation-specific), which stays the
    * one-line production alternative, still runs on the gated q93b
    * fence path, and stays bounded by the RelationalSpec
    * side-by-side error check. At k = 4096 the expected rank error
    * is ~1/√k ≈ 1.6%; groups smaller than k are sampled whole, so
    * the estimate degrades to near-exact rank selection. The exact
    * per-group order count is one more map-side-combined aggregate,
    * broadcast onto the |groups|-row estimate. */
  def q53ApproxPercentiles(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val counts = o.groupBy(col("o_orderpriority").as("pri"))
      .agg(count(lit(1)).as("n_orders"))
    sampledQuantiles(o, Q53K)
      .join(broadcast(counts), Seq("pri"))
      .select(col("pri").as("o_orderpriority"), r4(col("p50")).as("p50_approx"),
              r4(col("p90")).as("p90_approx"), col("n_orders"))
      .orderBy(col("o_orderpriority"))
  }

  /** The bottom-k-by-hash (KMV-style) quantile sketch of q53 and q187:
    * per order priority `pri`, the sample is the k orders with the
    * SMALLEST replayable affine hash of their key (ties by key) — a
    * fixed-size, mergeable, uniform sample, order- and
    * partitioning-invariant unlike rand()-sampling — and each
    * quantile is the sampled value at an integer rank in (value, key)
    * order: `(n + 1) div 2` for p50 and `(9n + 9) div 10` for p90 over
    * the n sampled rows. Returns (pri, sample_n, p50, p90).
    *
    * Scale shape: the sample is the bounded [[graft.functions.BottomK]]
    * aggregate (map-side partial, ≤ k rows per group per partition
    * cross the shuffle — the same buffer an exact GK/KLL sketch would
    * carry); the value fetch for the ≤ k·|groups| sampled keys is a
    * broadcast id-lookup (the q75 re-rank shape — bloom/DPP prunable
    * at warehouse scale); ranking sorts each group's ≤ k sampled
    * (value, key) pairs in one array and picks both ranks from it.
    * Nothing sorts more than k rows per group. */
  private def sampledQuantiles(o: DataFrame, k: Int): DataFrame = {
    val hv = pmod(lit(LcA) * col("o_orderkey") + lit(LcB), lit(LcP))
    val sampleIds = o.groupBy(col("o_orderpriority").as("pri"))
      .agg(bottomK(struct(hv.as("hv"), col("o_orderkey").as("oid")), k).as("s"))
      .select(col("pri"), explode(col("s.oid")).as("oid"))
    o.select(col("o_orderpriority").as("pri"), col("o_orderkey").as("oid"),
             col("o_totalprice").as("v"))
      .join(broadcast(sampleIds), Seq("pri", "oid"))
      .groupBy(col("pri"))
      .agg(array_sort(collect_list(struct(col("v"), col("oid")))).as("vs"))
      .select(col("pri"), size(col("vs")).cast("long").as("sample_n"),
              expr("element_at(vs, int((size(vs) + 1) div 2)).v").as("p50"),
              expr("element_at(vs, int((size(vs) * 9 + 9) div 10)).v").as("p90"))
  }

  /** DuckDB oracle for q53 — identical affine key hash, bottom-k
    * window, and integer rank selection at k = 4096. */
  def q53OracleSql: String =
    s"""WITH h AS (SELECT o_orderpriority AS pri, o_orderkey AS oid,
         o_totalprice AS v,
         ($LcA * o_orderkey + $LcB) % $LcP AS hv FROM orders),
       s AS (SELECT *, row_number() OVER (PARTITION BY pri
           ORDER BY hv, oid) AS rs FROM h),
       samp AS (SELECT pri, oid, v FROM s WHERE rs <= $Q53K),
       r AS (SELECT pri, v,
         row_number() OVER (PARTITION BY pri ORDER BY v, oid) AS rv,
         count(*) OVER (PARTITION BY pri) AS kn FROM samp),
       q AS (SELECT pri,
         round(max(CASE WHEN rv = (kn + 1) // 2 THEN v END), 4)
           AS p50_approx,
         round(max(CASE WHEN rv = (kn * 9 + 9) // 10 THEN v END), 4)
           AS p90_approx
         FROM r GROUP BY pri),
       n AS (SELECT o_orderpriority AS pri, count(*)::BIGINT AS n_orders
         FROM orders GROUP BY 1)
       SELECT q.pri AS o_orderpriority, p50_approx, p90_approx, n_orders
       FROM q JOIN n ON q.pri = n.pri ORDER BY o_orderpriority"""

  /** q39 — supplier-side star join: revenue by supplier nation for
    * 1997, broadcast dims (supplier is small relative to lineitem at
    * every scale; nation always broadcasts). */
  def q39SupplierRevenue(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir).filter(year(col("o_orderdate")) === 1997)
    val sup = broadcast(Tables.supplier(s, dir))
    val n = broadcast(Tables.nation(s, dir))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .join(n, col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(r4(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue"),
           countDistinct(col("s_suppkey")).as("n_suppliers"))
      .orderBy(col("n_name"))
  }

  /** q71 — last-write-wins upsert (the CDC/merge compaction every
    * incremental pipeline needs): a base snapshot plus a changeset,
    * resolved to one current row per key by version. The changeset is
    * derived deterministically from the base (every 7th order key,
    * status flipped to "R", price bumped by an EXACT double +100.0 —
    * no rounding, so both engines agree bit-for-bit) and resolution
    * is row_number over (key, version desc): the portable MERGE.
    *
    * Shaped for scale: union is free (no shuffle); the winner pick is
    * ONE hash exchange on the key and a per-key sort of ≤ version
    * count rows. On a real lakehouse the base would be bucketed by
    * key so the window runs shuffle-free per bucket, and AQE would
    * handle changeset skew; the pattern (never join base-to-updates,
    * union + windowed pick instead) is what keeps merge linear when
    * the changeset is 0.1% of 100 TB. */
  def q71UpsertLatest(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
              lit(1L).as("version"))
    val updates = base.filter(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey"), lit("R").as("o_orderstatus"),
              (col("o_totalprice") + lit(100.0)).as("o_totalprice"),
              lit(2L).as("version"))
    val w = Window.partitionBy(col("o_orderkey")).orderBy(col("version").desc)
    base.unionByName(updates)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
      .orderBy(col("o_orderkey"))
  }

  /** q87 — corpus snapshot diff: the reconciliation pass an
    * incremental corpus build runs between two crawls — which docs
    * were added, removed, changed (content fingerprint differs), or
    * untouched. Here both snapshots derive deterministically from the
    * one documents table (old = doc_id % 7 ≠ 0 as-is; new =
    * doc_id % 5 ≠ 0, uppercased when doc_id % 11 = 0) so the oracle
    * replays them exactly; against real snapshots the derivations
    * are just two scans.
    *
    * Scale shape: one full-outer hash join on the id and an md5
    * compare — fingerprints computed map-side so the join carries
    * (id, 32-byte hash), never text; the rollup is a 4-group
    * aggregate. */
  def q87SnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(s, dir)
    val prev = docs.filter(pmod(col("doc_id"), lit(7)) =!= 0)
      .select(col("doc_id"), md5(col("text")).as("fp_old"))
    val next = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      .select(col("doc_id"),
              md5(when(pmod(col("doc_id"), lit(11)) === 0, upper(col("text")))
                    .otherwise(col("text"))).as("fp_new"))
    prev.join(next, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
              when(col("fp_old").isNull, "added")
                .when(col("fp_new").isNull, "removed")
                .when(col("fp_old") =!= col("fp_new"), "changed")
                .otherwise("unchanged").as("status"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n"),
           min(col("doc_id")).as("min_doc"),
           max(col("doc_id")).as("max_doc"))
      .orderBy(col("status"))
  }

  /** q142 — order-to-ship latency percentiles per priority: exact
    * integer day counts from order date to each line item's ship
    * date, summarized as discrete p50/p90 (the q133 latency-headline
    * pattern on the relational side). One broadcastable join of
    * order headers onto lineitem, one group percentile. */
  def q142ShipLatency(s: SparkSession, dir: String): DataFrame = {
    val l = graft.Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_shipdate"))
    val o = graft.Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority").as("prio"),
              datediff(col("l_shipdate"), col("o_orderdate")).cast("long")
                .as("lat_days"))
      .groupBy(col("prio"))
      .agg(count(lit(1)).as("n_lines"),
           expr("CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY lat_days) AS BIGINT)")
             .as("p50_days"),
           expr("CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY lat_days) AS BIGINT)")
             .as("p90_days"))
      .orderBy(col("prio"))
  }

  /** q136 — ANALYZE-style column statistics for lineitem's join and
    * filter columns in ONE scan: count, nulls, min/max, exact
    * distinct — the table stats a cost-based optimizer (or a human
    * picking broadcast/salt/bucket counts) reads first. Exact NDV is
    * the declared baseline; q41's HLL sketch is the at-scale path
    * (same relationship as q42/q53).
    *
    * Scale shape: one pass, partial aggregation for everything but
    * the count-distincts (which Spark expands to one extra
    * aggregation each — the price of exactness, paid once per
    * ANALYZE). */
  def q136TableStats(s: SparkSession, dir: String): DataFrame = {
    val l = graft.Tables.lineitem(s, dir)
    // One INDEPENDENT aggregation subtree per column instead of the
    // single 4-distinct agg: Spark rewrites N count-distincts in one
    // agg as an Expand that multiplies every row (N+1)× before the
    // first exchange — 3 M expanded rows through one single-core
    // partial agg on this fixture, and N× the shuffled bytes at any
    // scale. Per column, the value-keyed groupBy dedups map-side and
    // everything after the first exchange is value-count sized; the
    // four subtrees and the row-count subtree run as concurrently
    // scheduled stages of ONE job (guide §2.3 "aggregate before you
    // shuffle" + §2.6 overlap). Output rows/schema are identical —
    // same stats, same long form, and n_nonnull/ndv/min/max per
    // column agree by definition (r14 A/B: 1.77 s → measured below;
    // oracle unchanged).
    def statsFor(c: String) =
      l.select(col(c).as("v"))
        .groupBy(col("v")).agg(count(col("v")).as("nn"))
        .agg(coalesce(sum(col("nn")), lit(0L)).as("n_nonnull"), // empty/all-null: count() = 0, sum = null
             count(col("v")).as("ndv"),
             min(col("v")).cast("long").as("min_v"),
             max(col("v")).cast("long").as("max_v"))
        .select(lit(c).as("column"), col("n_nonnull"), col("ndv"),
                col("min_v"), col("max_v"))
    val nRows = l.agg(count(lit(1)).as("n_rows"))
    Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")
      .map(statsFor).reduce(_ unionByName _)
      .crossJoin(broadcast(nRows))
      .select(col("column"), col("n_rows"), col("n_nonnull"),
              col("ndv"), col("min_v"), col("max_v"))
      .orderBy(col("column"))
  }

  /** q137 — star-schema denormalization: the wide-table build that
    * precedes training-feature extraction — lineitem enriched with
    * its order's date/priority and the customer's nation, one row
    * per line item. Dimension joins broadcast (nation always;
    * customer is broadcast-eligible at bench scale and bucketed at
    * warehouse scale); the fact table never shuffles for the joins
    * themselves.
    *
    * Output is capped to the first 5000 line items (by key) purely
    * to keep the gate artifact bounded — the operator itself is the
    * unbounded projection. */
  def q137Denormalize(s: SparkSession, dir: String): DataFrame = {
    val l = graft.Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
              col("l_extendedprice"), col("l_orderkey").as("lok"))
    val o = graft.Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"),
              col("o_orderpriority"),
              date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"))
    val c = graft.Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"))
    val n = graft.Tables.nation(s, dir)
      .select(col("n_nationkey"), col("n_name"))
    // nation is always broadcast-safe (25 rows); customer is NOT
    // hinted — at bench scale AQE broadcasts it on its own measured
    // size, and at warehouse scale a forced hint would mean a
    // driver-side collect of the full customer table (ADVICE r5).
    l.join(o, col("lok") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
              round(col("l_extendedprice"), 4).as("price"),
              col("o_date"), col("o_orderpriority"),
              col("c_mktsegment"), col("n_name"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
      .limit(5000)
  }

  /** q119 — join-key skew profile: the log2 histogram of per-key
    * group sizes for lineitem's order key — the diagnostic read
    * BEFORE choosing a join strategy (a fat top bucket says salt or
    * broadcast; a flat profile says plain shuffle join is safe).
    * Buckets are exact integer bit lengths (`length(bin(n)) - 1`,
    * q90's float-free log), so the histogram is bit-stable.
    *
    * Scale shape: one key-keyed count (map-side partial) + one
    * tiny bucket rollup carrying min/max/total per bucket. */
  def q119KeySkewProfile(s: SparkSession, dir: String): DataFrame =
    graft.Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("n"))
      .select((length(bin(col("n"))) - 1).cast("long").as("bucket"),
              col("n"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_keys"),
           min(col("n")).as("min_rows"),
           max(col("n")).as("max_rows"),
           sum(col("n")).cast("long").as("total_rows"))
      .orderBy(col("bucket"))

  /** q120 — percentile winsorization: clamp each order's price into
    * its priority group's exact [p05, p95] band (percentile_disc —
    * an exact order statistic, so both engines pick the SAME member
    * value; no interpolated float percentile crosses the oracle).
    * The standard feature-robustification step before training
    * aggregates. Emits per-group totals before/after clamping.
    *
    * Scale shape: the two order statistics are one
    * aggregate-then-broadcast pass (the F8 two-phase pattern);
    * clamping is map-side; sums are integer micros. */
  def q120Winsorize(s: SparkSession, dir: String): DataFrame = {
    // persist: the 2-column projection feeds the band computation AND
    // the clamped rollup — uncached, the orders scan runs twice (r7
    // single-planning audit)
    val o = graft.Tables.orders(s, dir)
      .select(col("o_orderpriority").as("prio"),
              floor(col("o_totalprice") * lit(1e6d) + lit(0.5d)).cast("long")
                .as("p_micro"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bands = o.groupBy(col("prio"))
      // percentile_disc picks a MEMBER value but returns double;
      // cast back to the exact integer micro it selected
      .agg(expr("CAST(percentile_disc(0.05) WITHIN GROUP (ORDER BY p_micro) AS BIGINT)")
             .as("lo"),
           expr("CAST(percentile_disc(0.95) WITHIN GROUP (ORDER BY p_micro) AS BIGINT)")
             .as("hi"))
    o.join(broadcast(bands), Seq("prio"))
      .groupBy(col("prio"))
      .agg(count(lit(1)).as("n"),
           min(col("lo")).as("lo_micro"),
           min(col("hi")).as("hi_micro"),
           sum(col("p_micro")).cast("long").as("sum_raw"),
           sum(greatest(col("lo"), least(col("hi"), col("p_micro"))))
             .cast("long").as("sum_winsorized"))
      .orderBy(col("prio"))
  }

  /** q104 — Morton (Z-order) clustering keys over (l_partkey,
    * l_suppkey) via the codegen'd [[graft.functions.ZOrder2]]
    * expression: the key a warehouse writer sorts by so parquet
    * min/max pruning serves range filters on EITHER column
    * (SCALE.md's Z-order bullet records the file-skipping effect,
    * measured at commit d2071d8; this query oracle-gates the key
    * computation itself — the oracle replays
    * the interleave as 32 unrolled shift/AND terms). Pure map pass,
    * zero shuffles before the output sort. */
  def q104ZOrderKey(s: SparkSession, dir: String): DataFrame =
    graft.Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
              col("l_partkey"), col("l_suppkey"),
              graft.functions.VectorFunctions
                .zorder2(col("l_partkey"), col("l_suppkey")).as("z_key"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** Low bits of each key that [[graft.functions.ZOrder2]] interleaves. */
  private val ZOrderBits = 16

  /** DuckDB oracle for q104 — the Morton interleave as unrolled
    * shift/AND arithmetic (bits are disjoint, so OR == sum). */
  def q104OracleSql: String = {
    val terms = (0 until ZOrderBits).flatMap { i =>
      Seq(s"(((l_partkey >> $i) & 1) << ${2 * i})",
          s"(((l_suppkey >> $i) & 1) << ${2 * i + 1})")
    }.mkString(" + ")
    s"""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
       CAST($terms AS BIGINT) AS z_key
       FROM lineitem ORDER BY l_orderkey, l_linenumber"""
  }

  /** q143 — unpivot/melt (wide → long), the inverse of q47's pivot:
    * per-returnflag totals unpivoted to (key, metric, value) rows via
    * Spark's native `Dataset.unpivot` (an Expand node — each input
    * row fans out to one row per metric map-side; no shuffle beyond
    * the tiny upstream aggregate). The long form is what metric
    * stores and plotting layers ingest.
    *
    * All three measures are exact integers (quantity sums are
    * integral doubles ≤ 2^53; price in cents) so the melted `value`
    * column is a single BIGINT — melt requires a common type, and
    * the integer form dodges double-rounding drift entirely. */
  def q143Unpivot(s: SparkSession, dir: String): DataFrame = {
    val wide = Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity")).cast("long").as("sum_qty"),
           sum(floor(col("l_extendedprice") * lit(100d) + lit(0.5d))
             .cast("long")).as("sum_price_cents"),
           count(lit(1)).as("n_rows"))
    wide.unpivot(
      Array(col("l_returnflag")),
      Array(col("sum_qty"), col("sum_price_cents"), col("n_rows")),
      "metric", "value")
      .orderBy(col("l_returnflag"), col("metric"))
  }

  /** q146 — Pearson correlation matrix over the four lineitem
    * measures in ONE aggregation pass: every Σx, Σx², Σxy is an
    * EXACT integer (sums of per-row LONG products accumulated as
    * DECIMAL(38,0) — per-row products fit 64 bits, corpus sums may
    * not), and each corr is assembled from those integers as
    * floor(num / sqrt(dx·dy) · 1e6 + 0.5) — one double division,
    * one IEEE sqrt, both correctly-rounded operations on exactly
    * determined inputs, so the result is bit-stable across engines
    * with no float accumulation anywhere (the q117 integer-OLS move
    * generalized to the full covariance matrix).
    *
    * Scale shape: a single partial+final HashAggregate over 14
    * integer sums — one scan, no shuffle beyond the 1-row final
    * merge; the 6-pair matrix is driver-free arithmetic on that row
    * exploded into pair structs. */
  def q146CorrMatrix(s: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val l = Tables.lineitem(s, dir).select(
      col("l_quantity").cast("long").as("q"),
      floor(col("l_extendedprice") * lit(100d) + lit(0.5d)).cast("long").as("p"),
      floor(col("l_discount") * lit(10000d) + lit(0.5d)).cast("long").as("d"),
      floor(col("l_tax") * lit(10000d) + lit(0.5d)).cast("long").as("t"))
    val cols = Seq("q", "p", "d", "t")
    val sums = l.agg(
      count(lit(1)).cast(dec).as("n"),
      cols.map(c => sum(col(c).cast(dec)).as(s"s_$c")) ++
      (for { i <- cols.indices; j <- i until cols.length }
        yield sum((col(cols(i)) * col(cols(j))).cast(dec))
          .as(s"s_${cols(i)}${cols(j)}")): _*)
    val pairs = for { i <- cols.indices; j <- (i + 1) until cols.length }
      yield (cols(i), cols(j))
    val pairStructs = pairs.map { case (x, y) =>
      val num = col("n") * col(s"s_$x$y") - col(s"s_$x") * col(s"s_$y")
      val dx = col("n") * col(s"s_$x$x") - col(s"s_$x") * col(s"s_$x")
      val dy = col("n") * col(s"s_$y$y") - col(s"s_$y") * col(s"s_$y")
      struct(
        lit(x).as("var_x"), lit(y).as("var_y"),
        when(dx > 0 && dy > 0,
          floor(num.cast("double") /
                sqrt(dx.cast("double") * dy.cast("double")) *
                lit(1000000d) + lit(0.5d)).cast("long"))
          .as("corr_micro"))
    }
    sums.select(explode(array(pairStructs: _*)).as("pr"))
      .select(col("pr.var_x").as("var_x"), col("pr.var_y").as("var_y"),
              col("pr.corr_micro").as("corr_micro"))
      .orderBy(col("var_x"), col("var_y"))
  }

  /** DuckDB oracle for q146 — identical integer sums (HUGEINT exact)
    * and the identical floor/sqrt assembly, unrolled per pair. */
  def q146OracleSql: String = {
    val cols = Seq("q", "p", "d", "t")
    val sumExprs =
      cols.map(c => s"SUM(${c}::HUGEINT) AS s_$c") ++
      (for { i <- cols.indices; j <- i until cols.length }
        yield s"SUM((${cols(i)} * ${cols(j)})::HUGEINT) AS s_${cols(i)}${cols(j)}")
    val pairSelects = (for { i <- cols.indices; j <- (i + 1) until cols.length }
      yield {
        val (x, y) = (cols(i), cols(j))
        val num = s"(n * s_$x$y - s_$x * s_$y)"
        val dx = s"(n * s_$x$x - s_$x * s_$x)"
        val dy = s"(n * s_$y$y - s_$y * s_$y)"
        s"""SELECT '$x' AS var_x, '$y' AS var_y,
           CASE WHEN $dx > 0 AND $dy > 0 THEN
             CAST(floor($num::DOUBLE / sqrt($dx::DOUBLE * $dy::DOUBLE)
                  * 1000000.0 + 0.5) AS BIGINT)
           ELSE NULL END AS corr_micro FROM s"""
      }).mkString(" UNION ALL ")
    s"""WITH u AS (SELECT CAST(l_quantity AS BIGINT) AS q,
         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS p,
         CAST(floor(l_discount * 10000 + 0.5) AS BIGINT) AS d,
         CAST(floor(l_tax * 10000 + 0.5) AS BIGINT) AS t FROM lineitem),
       s AS (SELECT COUNT(*)::HUGEINT AS n, ${sumExprs.mkString(", ")} FROM u)
       $pairSelects ORDER BY var_x, var_y"""
  }

  /** q149 — GROUPING SETS: the general form of q07's rollup / q38's
    * cube, computing exactly the ((flag,status),(flag),()) subtotal
    * lattice in one pass (Spark plans one Expand + one aggregate —
    * each input row is replicated once per set, partial-aggregated
    * map-side). Subtotal rows label their collapsed dimension 'ALL'. */
  def q149GroupingSets(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_returnflag")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity")).cast("long").as("sum_qty"),
           sum(floor(col("l_extendedprice") * lit(100d) + lit(0.5d))
             .cast("long")).as("sum_price_cents"),
           count(lit(1)).as("n_rows"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
              coalesce(col("l_linestatus"), lit("ALL")).as("status"),
              col("sum_qty"), col("sum_price_cents"), col("n_rows"))
      .orderBy(col("flag"), col("status"))

  /** q150 — 2-D SKYLINE (Pareto frontier): orders that are
    * non-dominated under (maximize o_totalprice, minimize
    * o_orderdate) — "no other order was both at least as expensive
    * and at least as early, strictly better in one". The classic
    * sort-sweep: group to distinct (price, date) points, keep only
    * each price's earliest date, then one running-min sweep in
    * price-descending order — a point survives iff its date beats
    * every higher-price date seen so far (strictly).
    *
    * Scale shape (VERDICT r5 #2): a per-partition LOCAL skyline runs
    * first — each scan partition is locally sorted (price desc,
    * date asc; `sortWithinPartitions`, no shuffle, spillable) and
    * swept with O(1) state in one `mapPartitions` pass. A point that
    * fails its local sweep is dominated by a same-partition point and
    * therefore globally dominated, so the union of local frontiers is
    * a SUPERSET of the global skyline — the embarrassingly parallel
    * pruning every distributed-skyline paper starts from. Only that
    * union (per-partition-frontier-sized, not |orders| or
    * |price domain|) reaches the price-distinct groupBy and the
    * single-ordered global sweep. */
  def q150Skyline(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Tables.orders(s, dir)
      .select(floor(col("o_totalprice") * lit(100d) + lit(0.5d))
                .cast("long").as("price_cents"),
              col("o_orderdate").as("d"))
    val pts = localParetoFrontier(s, base)
      .groupBy(col("price_cents"))
      .agg(min(col("d")).as("d"))
    val sweep = Window.orderBy(col("price_cents").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    pts.withColumn("best_prev", min(col("d")).over(sweep))
      .filter(col("best_prev").isNull || col("d") < col("best_prev"))
      .select(col("price_cents"), date_format(col("d"), "yyyy-MM-dd").as("o_date"))
      .orderBy(col("price_cents").desc)
  }

  /** Local Pareto pre-pass for [[q150Skyline]]: per input partition,
    * sort (price desc, date asc) in place and keep each row only if
    * its date strictly beats the running minimum — the partition's
    * own 2-D frontier. Output size and order depend on the physical
    * partitioning, but the SET is always a superset of the global
    * skyline (dominance within a partition implies global dominance),
    * which is the only property the downstream sweep needs.
    * `private[graft]` so the spec can pin superset + shrinkage. */
  private[graft] def localParetoFrontier(
      s: SparkSession,
      base: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    base.as[(Long, java.time.LocalDateTime)] // o_orderdate is TIMESTAMP_NTZ
      .sortWithinPartitions(col("price_cents").desc, col("d"))
      .mapPartitions { it =>
        var best: java.time.LocalDateTime = null
        it.filter { case (_, d) =>
          if (best == null || d.isBefore(best)) { best = d; true } else false
        }
      }
      .toDF("price_cents", "d")
  }

  /** q158 — ranking-window suite over each customer's order history:
    * ntile quartile, cume_dist, and the days-since-previous-order lag
    * in ONE WindowExec pass (all three functions share the same
    * (custkey, orderdate …) partitioning+ordering, so Catalyst plans
    * a single sort + a single window operator — worth pinning because
    * mismatched orderings silently double the sort).
    *
    * cume_dist is the one float: it's the exact rational rank/n, so
    * ×1e6 + floor is bit-stable (one correctly-rounded division).
    * Customers are independent window partitions — the 100 TB shape
    * is one shuffle on custkey, no global ordering anywhere. */
  def q158WindowSuite(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
              floor(col("o_totalprice") * lit(100d) + lit(0.5d))
                .cast("long").as("price_cents"))
      .withColumn("quartile", ntile(4).over(w).cast("long"))
      .withColumn("cume_micro",
        floor(cume_dist().over(w) * lit(1000000d) + lit(0.5d)).cast("long"))
      .withColumn("days_since_prev",
        datediff(col("o_orderdate"), lag(col("o_orderdate"), 1).over(w))
          .cast("long"))
      .select(col("o_custkey"), col("o_orderkey"), col("quartile"),
              col("cume_micro"), col("days_since_prev"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** q159 — CDC MERGE (Delta/Hudi-style apply-changes): a deterministic
    * change feed derived from orders (key%13 → delete, else key%7 →
    * update, key%17 → insert under a disjoint key range) is applied to
    * the snapshot in ONE pass: union snapshot+changes, rank per key by
    * version desc, keep the winner, drop winners whose op is D. This
    * is the full insert/update/delete triad — q71's upsert handles I/U
    * only; delete semantics (the row must VANISH, not survive with a
    * tombstone) is what makes CDC apply distinct.
    *
    * Scale shape: one shuffle on the merge key for the ranking window
    * (per-key frame of ≤ snapshot+changes rows — tiny); at warehouse
    * scale the snapshot side is bucketed by key so the merge is
    * co-located, which is exactly how Delta's MERGE physical plan
    * colocates. */
  def q159CdcMerge(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def cents = floor(col("o_totalprice") * lit(100d) + lit(0.5d)).cast("long")
    val snap = Tables.orders(s, dir)
      .select(col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
              cents.as("price_cents"), lit("KEEP").as("op"),
              lit(1L).as("version"))
    val base = Tables.orders(s, dir)
      .select(col("o_orderkey").as("k"), cents.as("price_cents"))
    val deletes = base.filter(pmod(col("k"), lit(13L)) === 0)
      .select(col("k"), lit("CHG").as("status"), lit(0L).as("price_cents"),
              lit("D").as("op"), lit(2L).as("version"))
    val updates = base.filter(pmod(col("k"), lit(13L)) =!= 0 &&
                              pmod(col("k"), lit(7L)) === 0)
      .select(col("k"), lit("CHG").as("status"),
              (col("price_cents") + lit(555L)).as("price_cents"),
              lit("U").as("op"), lit(2L).as("version"))
    val inserts = base.filter(pmod(col("k"), lit(17L)) === 0)
      .select((col("k") + lit(1000000000L)).as("k"), lit("NEW").as("status"),
              col("price_cents").as("price_cents"),
              lit("I").as("op"), lit(2L).as("version"))
    val w = Window.partitionBy(col("k"))
      .orderBy(col("version").desc, col("op"))
    snap.unionByName(deletes).unionByName(updates).unionByName(inserts)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") =!= "D")
      .select(col("k"), col("status"), col("price_cents"), col("version"))
      .orderBy(col("k"))
  }

  /** q165 — REFERENTIAL-INTEGRITY AUDIT across every FK edge of the
    * star schema: for each child→parent relationship, total child
    * rows, rows with a NULL key, and orphans (non-null key with no
    * parent). The one-row-per-edge report is the warehouse-wide
    * FK health dashboard an ETL engine emits after every load.
    *
    * Scale shape: each edge is one left-join + full aggregate; every
    * parent side here is the smaller table, so Spark broadcasts it
    * and no fact table ever shuffles — seven broadcast probes over
    * seven scans, unioned into seven rows. */
  def q165FkAudit(s: SparkSession, dir: String): DataFrame = {
    def edge(name: String, child: DataFrame, key: String,
             parent: DataFrame, pkey: String): DataFrame = {
      val p = parent.select(col(pkey).as("__pk")).distinct()
      child.select(col(key).as("__fk"))
        .join(broadcast(p), col("__fk") === col("__pk"), "left")
        .agg(count(lit(1)).as("n_rows"),
             sum(when(col("__fk").isNull, 1L).otherwise(0L))
               .cast("long").as("n_null_keys"),
             sum(when(col("__fk").isNotNull && col("__pk").isNull, 1L)
               .otherwise(0L)).cast("long").as("n_orphans"))
        .select(lit(name).as("fk"), col("n_rows"), col("n_null_keys"),
                col("n_orphans"))
    }
    val li = Tables.lineitem(s, dir); val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir); val su = Tables.supplier(s, dir)
    val pa = Tables.part(s, dir); val na = Tables.nation(s, dir)
    val re = Tables.region(s, dir)
    // The FACT table is audited once for all three of its edges: one
    // scan, three broadcast probes, one aggregate, exploded to the
    // same three report rows (pre-r7: three full lineitem scans, one
    // per edge — the single-planning audit's worst offender). The
    // dimension edges keep the generic per-edge form; their child
    // scans are dimension-sized.
    val liAudit = {
      def probe(key: String, parent: DataFrame, pkey: String,
                tag: String): (DataFrame, Column, Column) = {
        val p = parent.select(col(pkey).as(s"__pk_$tag")).distinct()
        (broadcast(p),
         sum(when(col(key).isNull, 1L).otherwise(0L))
           .cast("long").as(s"nn_$tag"),
         sum(when(col(key).isNotNull && col(s"__pk_$tag").isNull, 1L)
           .otherwise(0L)).cast("long").as(s"no_$tag"))
      }
      val (po, nnO, noO) = probe("l_orderkey", o, "o_orderkey", "o")
      val (pp, nnP, noP) = probe("l_partkey", pa, "p_partkey", "p")
      val (ps, nnS, noS) = probe("l_suppkey", su, "s_suppkey", "s")
      li.select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
        .join(po, col("l_orderkey") === col("__pk_o"), "left")
        .join(pp, col("l_partkey") === col("__pk_p"), "left")
        .join(ps, col("l_suppkey") === col("__pk_s"), "left")
        .agg(count(lit(1)).as("n_rows"), nnO, noO, nnP, noP, nnS, noS)
        .select(explode(array(
          struct(lit("lineitem.l_orderkey->orders").as("fk"),
                 col("n_rows"), col("nn_o").as("n_null_keys"),
                 col("no_o").as("n_orphans")),
          struct(lit("lineitem.l_partkey->part").as("fk"),
                 col("n_rows"), col("nn_p").as("n_null_keys"),
                 col("no_p").as("n_orphans")),
          struct(lit("lineitem.l_suppkey->supplier").as("fk"),
                 col("n_rows"), col("nn_s").as("n_null_keys"),
                 col("no_s").as("n_orphans")))).as("e"))
        .select(col("e.fk").as("fk"), col("e.n_rows").as("n_rows"),
                col("e.n_null_keys").as("n_null_keys"),
                col("e.n_orphans").as("n_orphans"))
    }
    liAudit
      .unionByName(edge("orders.o_custkey->customer", o, "o_custkey", c, "c_custkey"))
      .unionByName(edge("customer.c_nationkey->nation", c, "c_nationkey", na, "n_nationkey"))
      .unionByName(edge("supplier.s_nationkey->nation", su, "s_nationkey", na, "n_nationkey"))
      .unionByName(edge("nation.n_regionkey->region", na, "n_regionkey", re, "r_regionkey"))
      .orderBy(col("fk"))
  }

  // Replayable-hash constants for the q186/q187 estimator twins —
  // same prime field as the CMS/MinHash family (TextOps.CmsP).
  private[graft] val LcP = 1000000007L
  private[graft] val LcA = 100003L
  private[graft] val LcB = 998244353L

  private val Q186M = 65536

  /** q186 — linear-counting distinct estimation, FULLY oracle-gated:
    * the deterministic exact-replay twin of q41's HLL (the q179/q184/
    * q185 move — VERDICT r8 #5). Each o_custkey maps through the
    * replayable affine hash ((A·key + B) mod P) mod m into one of
    * m = 65536 buckets; per order-status segment the sketch state is
    * the OCCUPIED-bucket count (an integer — hash-gated exactly),
    * and the classic estimator [Whang et al., TODS 1990] is
    * n̂ = m · ln(m / V) with V = m − occupied empty buckets, emitted
    * next to the exact distinct so the error is visible row by row.
    * The estimate is guarded (NULL at full occupancy — impossible at
    * the gate SFs with m ≫ |customers|, where production would grow
    * m or fall back to HLL) and rounded to 4dp in both engines.
    *
    * Scale shape: identical to q41's HLL contract — one corpus-linear
    * pass, fixed m-bit state per group, map-side mergeable (bucket
    * occupancy is a union of sets; the grouped count-distinct plans
    * as one Expand + partial aggregate, never a shuffle of distinct
    * values). The exact count rides along only as the gate's
    * reference column — a production deployment drops it, which is
    * the entire point of the sketch. */
  def q186LinearCountDistinct(s: SparkSession, dir: String): DataFrame = {
    val bucket = pmod(pmod(lit(LcA) * col("o_custkey") + lit(LcB), lit(LcP)),
                      lit(Q186M.toLong))
    Tables.orders(s, dir)
      .select(col("o_orderstatus"), col("o_custkey"), bucket.as("bucket"))
      .groupBy(col("o_orderstatus"))
      .agg(countDistinct(col("bucket")).as("occupied"),
           countDistinct(col("o_custkey")).as("exact_customers"),
           count(lit(1)).as("n_orders"))
      .select(col("o_orderstatus"), col("occupied"),
              when(col("occupied") < Q186M,
                r4(lit(Q186M.toDouble) *
                   log(lit(Q186M.toDouble) /
                       (lit(Q186M.toLong) - col("occupied")).cast("double"))))
                .as("lc_est"),
              col("exact_customers"), col("n_orders"))
      .orderBy(col("o_orderstatus"))
  }

  /** DuckDB oracle for q186 — identical affine bucket hash, occupied
    * count, and m·ln(m/V) estimator. */
  def q186OracleSql: String =
    s"""WITH b AS (SELECT o_orderstatus, o_custkey,
         (($LcA * o_custkey + $LcB) % $LcP) % $Q186M AS bucket FROM orders),
       g AS (SELECT o_orderstatus,
         count(DISTINCT bucket) AS occupied,
         count(DISTINCT o_custkey) AS exact_customers,
         count(*) AS n_orders
         FROM b GROUP BY o_orderstatus)
       SELECT o_orderstatus, CAST(occupied AS BIGINT) AS occupied,
         CASE WHEN occupied < $Q186M THEN
           round($Q186M.0 * ln($Q186M.0 / ($Q186M - occupied)), 4) END AS lc_est,
         CAST(exact_customers AS BIGINT) AS exact_customers,
         CAST(n_orders AS BIGINT) AS n_orders
       FROM g ORDER BY o_orderstatus"""

  private val Q187K = 256

  /** q187 — bottom-k-by-hash (KMV-style) sampled quantiles, FULLY
    * oracle-gated: the deterministic exact-replay twin of q53's GK
    * approx_percentile (VERDICT r8 #5), reporting the raw estimates
    * and the sample size of [[sampledQuantiles]] at k = 256 per
    * priority group. Every step is integer arithmetic or exact
    * element selection, so the oracle replays the sketch
    * bit-for-bit. */
  def q187SampledQuantiles(s: SparkSession, dir: String): DataFrame =
    sampledQuantiles(Tables.orders(s, dir), Q187K)
      .select(col("pri").as("o_orderpriority"), col("sample_n"),
              col("p50").as("p50_est"), col("p90").as("p90_est"))
      .orderBy(col("o_orderpriority"))

  /** DuckDB oracle for q187 — identical affine key hash, bottom-k
    * window, and integer rank selection. */
  def q187OracleSql: String =
    s"""WITH h AS (SELECT o_orderpriority AS pri, o_orderkey AS oid,
         o_totalprice AS v,
         ($LcA * o_orderkey + $LcB) % $LcP AS hv FROM orders),
       s AS (SELECT *, row_number() OVER (PARTITION BY pri
           ORDER BY hv, oid) AS rs FROM h),
       samp AS (SELECT pri, oid, v FROM s WHERE rs <= $Q187K),
       r AS (SELECT pri, v,
         row_number() OVER (PARTITION BY pri ORDER BY v, oid) AS rv,
         count(*) OVER (PARTITION BY pri) AS kn FROM samp)
       SELECT pri AS o_orderpriority,
         CAST(max(kn) AS BIGINT) AS sample_n,
         max(CASE WHEN rv = (kn + 1) // 2 THEN v END) AS p50_est,
         max(CASE WHEN rv = (kn * 9 + 9) // 10 THEN v END) AS p90_est
       FROM r GROUP BY pri ORDER BY o_orderpriority"""

  private val Q199M = 4096

  /** q199 — mergeable sketch ROLLUP, fully oracle-gated: the property
    * that makes q186's linear-count sketch operationally valuable at
    * 100 TB is that partial sketches MERGE — a corpus ingested day by
    * day keeps one m-bucket occupancy set per (event_type, day), and
    * any window's distinct-user estimate is the union of its days'
    * sets, never a rescan of the raw events. This query gates that
    * algebra exactly: per event_type it computes the occupied-bucket
    * count BOTH directly over all events AND by merging the per-day
    * partial sketches, emits both (equal by set-union exactness — the
    * hash gate proves it cross-engine), plus the naive sum of per-day
    * occupancies (the WRONG merge — it over-counts users active on
    * several days; emitted so the error of the tempting shortcut is
    * visible) and the linear-count estimate [Whang et al., TODS 1990]
    * from the merged sketch next to the exact distinct-user reference.
    *
    * Scale shape: stage 1 is one (event_type, day) keyed aggregation
    * whose per-group state is bounded by m = 4096 buckets regardless
    * of event volume (the sketch contract); stage 2 merges |days|
    * such sets per type — state ≤ days·m integers per type, the same
    * bound the daily-rollup table itself has. The projected events
    * frame is persisted because both the daily and the direct path
    * consume it (caller owns cleanup per the cache contract); a
    * production deployment keeps ONLY the daily partials and drops
    * the direct/exact columns — they ride along as the gate's
    * reference.
    *
    * Estimator bias, visible in the gated output: the replayable
    * affine hash is chosen for cross-engine determinism, not mixing —
    * on near-sequential user ids it is nearly collision-free, so
    * occupied ≈ distinct and m·ln(m/V) over-corrects (the estimator
    * assumes Poisson collisions it never observes). The gate
    * certifies the MERGE ALGEBRA and sketch mechanics; q41's HLL
    * remains the production estimator. */
  def q199SketchRollup(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"),
              col("user_id"),
              pmod(pmod(lit(LcA) * col("user_id") + lit(LcB), lit(LcP)),
                   lit(Q199M.toLong)).as("bucket"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val daily = e.groupBy(col("event_type"), col("day"))
      .agg(collect_set(col("bucket")).as("bs"))
      .select(col("event_type"), col("bs"),
              size(col("bs")).cast("long").as("day_occ"))
    val merged = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
           size(array_distinct(flatten(collect_list(col("bs")))))
             .cast("long").as("occ_merged"),
           sum(col("day_occ")).as("naive_sum_occ"))
    val direct = e.groupBy(col("event_type"))
      .agg(countDistinct(col("bucket")).as("occ_direct"),
           countDistinct(col("user_id")).as("exact_users"))
    merged.join(broadcast(direct), Seq("event_type"))
      .select(col("event_type"), col("n_days"),
              col("occ_direct"), col("occ_merged"),
              (col("occ_direct") === col("occ_merged")).as("merge_exact"),
              col("naive_sum_occ"),
              when(col("occ_merged") < Q199M,
                r4(lit(Q199M.toDouble) *
                   log(lit(Q199M.toDouble) /
                       (lit(Q199M.toLong) - col("occ_merged")).cast("double"))))
                .as("lc_est"),
              col("exact_users"))
      .orderBy(col("event_type"))
  }

  /** DuckDB oracle for q199 — identical affine bucket hash, per-day
    * partial sets, list-union merge, and m·ln(m/V) estimator. */
  def q199OracleSql: String =
    s"""WITH e AS (SELECT event_type, CAST(ts AS DATE) AS day, user_id,
         (($LcA * user_id + $LcB) % $LcP) % $Q199M AS bucket FROM events),
       daily AS (SELECT event_type, day,
           list_distinct(list(bucket)) AS bs,
           count(DISTINCT bucket) AS day_occ
         FROM e GROUP BY event_type, day),
       mg AS (SELECT event_type, count(*) AS n_days,
           len(list_distinct(flatten(list(bs)))) AS occ_merged,
           sum(day_occ) AS naive_sum_occ
         FROM daily GROUP BY event_type),
       dr AS (SELECT event_type, count(DISTINCT bucket) AS occ_direct,
           count(DISTINCT user_id) AS exact_users
         FROM e GROUP BY event_type)
       SELECT mg.event_type, CAST(n_days AS BIGINT) AS n_days,
         CAST(occ_direct AS BIGINT) AS occ_direct,
         CAST(occ_merged AS BIGINT) AS occ_merged,
         occ_direct = occ_merged AS merge_exact,
         CAST(naive_sum_occ AS BIGINT) AS naive_sum_occ,
         CASE WHEN occ_merged < $Q199M THEN
           round($Q199M.0 * ln($Q199M.0 / ($Q199M - occ_merged)), 4) END AS lc_est,
         CAST(exact_users AS BIGINT) AS exact_users
       FROM mg JOIN dr USING (event_type) ORDER BY mg.event_type"""

  /** q200 — market-basket frequent-pair mining (support / confidence
    * / lift) over the order→parts baskets, with the classic Apriori
    * item-level prune [Agrawal & Srikant, VLDB 1994]: an infrequent
    * ITEM can never appear in a frequent PAIR, so items below the
    * support threshold are dropped BEFORE the within-basket pair
    * expansion — the pruning is what makes pair mining tractable,
    * since the expansion is quadratic in basket size only over the
    * surviving items. The threshold is data-dependent but exact:
    * half the mean item support, floored at 2, computed as one
    * integer ceiling division over the |parts|-row support table
    * (never a driver-side collect). All three metrics are exact
    * integer micros — conf(a→b) = sup(ab)·1e6 div sup(a), lift =
    * sup(ab)·N·1e6 div (sup(a)·sup(b)) — so the gate is bit-stable
    * (max numerator ≈ sup·N·1e6 ≪ 2⁶³ at any realistic SF).
    *
    * Scale shape: baskets = one DISTINCT over (order, part),
    * persisted because three consumers read it (supports, basket
    * count, pruned pair expansion). Pairs expand by collecting each
    * order's surviving items into one (basket-sized, ≈7-element)
    * array and streaming its pa < pb pairs map-side through the
    * codegen'd LongPairs generator — ONE shuffle on the order key,
    * versus the self-join formulation's two sort exchanges + merge
    * that the first cut measured 2× slower on. The item support
    * table is |parts|-sized, so both metric lookups are broadcast
    * joins; the 1-row stats and basket-count frames ride broadcast
    * cross-joins. The final top-50 by lift plans as
    * TakeOrderedAndProject (no global sort). */
  def q200MarketBasket(s: SparkSession, dir: String): DataFrame = {
    // widenBy on the distinct key itself: the exchange this inserts
    // IS the distinct's required distribution, so the dedup runs as
    // one 32-way aggregate instead of a single-core partial pass
    // over the whole fact scan (OPTIMIZATION_r14.md)
    val b = Tables.widenBy(Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")),
        col("o"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sup = b.groupBy(col("p")).agg(count(lit(1)).as("s"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val thr = sup.agg(
      greatest(lit(2L),
        expr("(sum(s) + 2 * count(*) - 1) div (2 * count(*))")).as("t"))
    val nb = b.agg(countDistinct(col("o")).as("n_orders"))
    val keep = sup.crossJoin(broadcast(thr)).filter(col("s") >= col("t"))
      .select(col("p"), col("s"))
    val bp = b.join(broadcast(keep.select(col("p"))), Seq("p"))
      .select(col("o"), col("p"))
    val pairs = bp.groupBy(col("o"))
      .agg(collect_list(col("p")).as("ps"))
      .select(graft.functions.VectorFunctions.longPairs(col("ps"))
        .as(Seq("pa", "pb")))
      .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("sab"))
      .filter(col("sab") >= 2)
    pairs
      .join(broadcast(keep.toDF("pa", "sa")), Seq("pa"))
      .join(broadcast(keep.toDF("pb", "sb")), Seq("pb"))
      .crossJoin(broadcast(nb))
      .select(col("pa"), col("pb"), col("sab"), col("sa"), col("sb"),
              expr("sab * 1000000L div sa").as("conf_ab_micro"),
              expr("sab * 1000000L div sb").as("conf_ba_micro"),
              expr("sab * n_orders * 1000000L div (sa * sb)").as("lift_micro"))
      .orderBy(col("lift_micro").desc, col("pa"), col("pb"))
      .limit(50)
  }

  /** DuckDB oracle for q200 — identical baskets, ceiling-division
    * threshold, Apriori prune, pair expansion, and integer metrics. */
  def q200OracleSql: String =
    """WITH b AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       sup AS (SELECT p, count(*)::BIGINT AS s FROM b GROUP BY p),
       thr AS (SELECT greatest(2, (sum(s) + 2 * count(*) - 1) // (2 * count(*)))
           AS t FROM sup),
       nb AS (SELECT count(DISTINCT o)::BIGINT AS n_orders FROM b),
       keep AS (SELECT p, s FROM sup WHERE s >= (SELECT t FROM thr)),
       bp AS (SELECT b.o, b.p FROM b JOIN keep USING (p)),
       pairs AS (SELECT a.p AS pa, c.p AS pb, count(*)::BIGINT AS sab
         FROM bp a JOIN bp c ON a.o = c.o AND a.p < c.p
         GROUP BY a.p, c.p HAVING count(*) >= 2)
       SELECT pa, pb, sab, ka.s AS sa, kb.s AS sb,
         sab * 1000000 // ka.s AS conf_ab_micro,
         sab * 1000000 // kb.s AS conf_ba_micro,
         sab * (SELECT n_orders FROM nb) * 1000000 // (ka.s * kb.s)
           AS lift_micro
       FROM pairs JOIN keep ka ON ka.p = pa JOIN keep kb ON kb.p = pb
       ORDER BY lift_micro DESC, pa, pb LIMIT 50"""

  private val Q213K = 64

  /** q213 — KMV (k-minimum-values) SET OPERATIONS [Beyer et al.,
    * SIGMOD 2007]: per event-type pair, estimate |A∪B| and |A∩B| of
    * the two types' user sets from 64-value bottom-k sketches, next
    * to the exact answers the gate verifies everything against. The
    * union sketch of two KMV sketches is the bottom-k of their merged
    * values (KMV's closure property — the reason warehouses ship it);
    * est_union = (k−1)·P div h_k with the replayable affine hash
    * uniform on [0,P); the intersection rides the union sketch:
    * ρ = |{h ∈ union-k : h ∈ skA ∧ h ∈ skB}| (any union-k member
    * belonging to A is necessarily in A's bottom-k), and
    * est_inter = ρ·est_union div k. When |A∪B| < k the sketches ARE
    * the sets and both estimates collapse to exact counts. All
    * arithmetic is int64: est_union ≤ 63·P ≈ 6.3e10.
    *
    * Scale shape: one distinct (type, hash) projection, then the
    * bounded [[graft.functions.BottomK]] aggregate per type (map-side
    * partial, ≤ k values per type per partition cross the shuffle);
    * pair combination runs on the |types|²-row sketch frame with
    * list HOFs — corpus size never enters the pair stage. Exact
    * baselines are one user-keyed aggregation + a broadcast of the
    * tiny type-pair list. */
  def q213KmvSetOps(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_type").as("t"), col("user_id").as("u"))
    // bottom-k of the affine user hash per type, ascending array
    val sk = ev.distinct()
      .groupBy(col("t"))
      .agg(bottomK(struct(pmod(lit(LcA) * col("u") + lit(LcB), lit(LcP)).as("hv")),
                   Q213K).as("top"))
      .select(col("t"), col("top.hv").as("sk"))
    // exact pairwise counts: one user-keyed type-set aggregation,
    // then a broadcast pair probe (|pairs| = |types|·(|types|−1)/2)
    val types = ev.select(col("t")).distinct()
    val pairsList = types.toDF("ta")
      .crossJoin(types.toDF("tb")).filter(col("ta") < col("tb"))
    val userTypes = ev.distinct()
      .groupBy(col("u")).agg(collect_set(col("t")).as("ts"))
    val exact = userTypes
      .join(broadcast(pairsList),
        array_contains(col("ts"), col("ta")) ||
        array_contains(col("ts"), col("tb")))
      .groupBy(col("ta"), col("tb"))
      .agg(count(lit(1)).as("exact_union"),
           sum((array_contains(col("ts"), col("ta")) &&
                array_contains(col("ts"), col("tb"))).cast("long"))
             .as("exact_inter"))
    val p = sk.toDF("ta", "ska")
      .join(sk.toDF("tb", "skb"), col("ta") < col("tb"))
      .withColumn("uk", slice(array_sort(array_union(col("ska"), col("skb"))),
                              1, Q213K))
      .withColumn("small", size(col("uk")) < Q213K)
      .withColumn("est_union",
        when(col("small"), size(col("uk")).cast("long"))
          .otherwise(expr(s"(${Q213K - 1}L * $LcP) div element_at(uk, $Q213K)")))
      .withColumn("rho",
        size(filter(col("uk"), h =>
          array_contains(col("ska"), h) && array_contains(col("skb"), h)))
          .cast("long"))
      .withColumn("est_inter",
        when(col("small"), col("rho"))
          .otherwise(expr(s"(rho * est_union) div $Q213K")))
    p.join(exact, Seq("ta", "tb"))
      .select(col("ta"), col("tb"), col("est_union"), col("est_inter"),
              col("exact_union"), col("exact_inter"))
      .orderBy(col("ta"), col("tb"))
  }

  /** DuckDB oracle for q213 — identical affine hash, bottom-k via
    * ranked window, identical list-HOF union/intersection estimates,
    * and exact baselines from a user-type contingency join. */
  def q213OracleSql: String =
    s"""WITH ev AS (SELECT DISTINCT event_type AS t, user_id AS u FROM events),
       h AS (SELECT t, ($LcA * u + $LcB) % $LcP AS hv FROM ev),
       rk AS (SELECT t, hv, row_number() OVER (PARTITION BY t ORDER BY hv)
           AS r FROM h),
       sk AS (SELECT t, list(hv ORDER BY hv) AS sk FROM rk
           WHERE r <= $Q213K GROUP BY t),
       pr AS (SELECT a.t AS ta, b.t AS tb, a.sk AS ska, b.sk AS skb
           FROM sk a JOIN sk b ON a.t < b.t),
       est AS (SELECT ta, tb,
           list_sort(list_distinct(list_concat(ska, skb)))[:$Q213K] AS uk,
           ska, skb FROM pr),
       e2 AS (SELECT ta, tb,
           len(uk) < $Q213K AS small,
           CASE WHEN len(uk) < $Q213K THEN len(uk)::BIGINT
                ELSE (${Q213K - 1}::BIGINT * $LcP) // uk[$Q213K] END AS est_union,
           len(list_filter(uk, x -> list_contains(ska, x)
               AND list_contains(skb, x)))::BIGINT AS rho
           FROM est),
       ut AS (SELECT u, list(DISTINCT t) AS ts FROM ev GROUP BY u),
       pairs AS (SELECT a.t AS ta, b.t AS tb
           FROM (SELECT DISTINCT t FROM ev) a
           JOIN (SELECT DISTINCT t FROM ev) b ON a.t < b.t),
       ex AS (SELECT ta, tb,
           count(*)::BIGINT AS exact_union,
           sum(CASE WHEN list_contains(ts, ta) AND list_contains(ts, tb)
               THEN 1 ELSE 0 END)::BIGINT AS exact_inter
           FROM ut JOIN pairs ON list_contains(ts, ta) OR list_contains(ts, tb)
           GROUP BY ta, tb)
       SELECT e2.ta, e2.tb, est_union,
         CASE WHEN small THEN rho ELSE (rho * est_union) // $Q213K END AS est_inter,
         exact_union, exact_inter
       FROM e2 JOIN ex ON e2.ta = ex.ta AND e2.tb = ex.tb
       ORDER BY e2.ta, e2.tb"""

  /** q214 — register-exact HyperLogLog [Flajolet et al., AofA 2007]:
    * the register construction of q41's approx_count_distinct, made
    * fully oracle-replayable. Each o_custkey hashes to 52 md5 bits;
    * the top 8 index one of m = 256 registers, the register keeps
    * max(ρ) where ρ = leading-zero count of the remaining 44 bits
    * + 1 (computed EXACTLY as 45 − len(bin(rest)), no floats). The
    * raw estimate α·m²/Σ2^{−ρ} is two exact-integer reductions (the
    * 2-power sum is carried as Σ2^{45−ρ} ≤ 256·2^45 ≈ 9e15, inside
    * int64) and ONE final double expression rounded to 4dp; the
    * small-range regime applies linear counting on the zero
    * registers (the q186 estimator, reused) — both engines compute
    * the identical double from identical integers. Verified next to
    * the exact distinct count per group.
    *
    * Scale shape: (group, register) partial max — map-side combine,
    * ≤ m·|groups| rows cross the shuffle regardless of corpus size —
    * then an m-row-per-group rollup. This is the mergeable-sketch
    * shape warehouses run over 100 TB: registers, not rows, move. */
  def q214HllRegisters(s: SparkSession, dir: String): DataFrame = {
    val two44 = 17592186044416L // 2^44
    val two45 = 35184372088832L // 2^45
    val h52 = conv(substring(md5(col("o_custkey").cast("string")), 1, 13),
                   16, 10).cast("long")
    val regs = Tables.orders(s, dir)
      .select(col("o_orderstatus"), col("o_custkey"), h52.as("h"))
      .select(col("o_orderstatus"), col("o_custkey"),
              expr(s"h div ${two44}L").as("bucket"),
              expr(s"h % ${two44}L").as("rest"))
      .groupBy(col("o_orderstatus"), col("bucket"))
      .agg(max(when(col("rest") === 0, lit(45))
                 .otherwise(lit(45) - length(bin(col("rest")))))
             .cast("long").as("rho"))
    val exact = Tables.orders(s, dir)
      .groupBy(col("o_orderstatus"))
      .agg(countDistinct(col("o_custkey")).as("exact_customers"))
    val m = 256
    val alpha = 0.7182725932495458 // 0.7213/(1 + 1.079/256)
    regs
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("occupied"),
           sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(45 - rho AS INT))"))
             .as("s_occ"))
      .select(col("o_orderstatus"), col("occupied"),
              (col("s_occ") + (lit(m.toLong) - col("occupied")) * lit(two45))
                .as("s_sum"))
      .withColumn("hll_raw",
        r4(lit(alpha) * lit(m.toDouble * m.toDouble) * lit(two45.toDouble) /
           col("s_sum").cast("double")))
      .withColumn("hll_est",
        when(col("hll_raw") <= lit(2.5 * m) && col("occupied") < m,
          r4(lit(m.toDouble) *
             log(lit(m.toDouble) /
                 (lit(m.toLong) - col("occupied")).cast("double"))))
          .otherwise(col("hll_raw")))
      .join(exact, Seq("o_orderstatus"))
      .select(col("o_orderstatus"), col("occupied"), col("s_sum"),
              col("hll_raw"), col("hll_est"), col("exact_customers"))
      .orderBy(col("o_orderstatus"))
  }

  /** DuckDB oracle for q214 — identical md5 bit split, bin()-length
    * ρ, integer register sum, and the same two-regime estimator. */
  def q214OracleSql: String =
    s"""WITH h AS (SELECT o_orderstatus,
         ('0x' || substr(md5(o_custkey::VARCHAR), 1, 13))::BIGINT AS h,
         o_custkey FROM orders),
       b AS (SELECT o_orderstatus, h // 17592186044416 AS bucket,
         h % 17592186044416 AS rest, o_custkey FROM h),
       regs AS (SELECT o_orderstatus, bucket,
         max(CASE WHEN rest = 0 THEN 45
             ELSE 45 - length(bin(rest)) END)::BIGINT AS rho
         FROM b GROUP BY o_orderstatus, bucket),
       agg AS (SELECT o_orderstatus, count(*)::BIGINT AS occupied,
         sum(1::BIGINT << (45 - rho)::INT)::BIGINT AS s_occ
         FROM regs GROUP BY o_orderstatus),
       s AS (SELECT o_orderstatus, occupied,
         s_occ + (256 - occupied) * 35184372088832 AS s_sum FROM agg),
       est AS (SELECT o_orderstatus, occupied, s_sum,
         round(0.7182725932495458::DOUBLE * 65536.0::DOUBLE *
               35184372088832.0::DOUBLE / s_sum::DOUBLE, 4) AS hll_raw
         FROM s),
       ex AS (SELECT o_orderstatus,
         count(DISTINCT o_custkey)::BIGINT AS exact_customers
         FROM orders GROUP BY o_orderstatus)
       SELECT est.o_orderstatus, occupied, s_sum, hll_raw,
         CASE WHEN hll_raw <= 640.0 AND occupied < 256
              THEN round(256.0 * ln(256.0 / (256 - occupied)), 4)
              ELSE hll_raw END AS hll_est,
         exact_customers
       FROM est JOIN ex ON est.o_orderstatus = ex.o_orderstatus
       ORDER BY est.o_orderstatus"""
}
