package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.etl.Scrub

/** Reference-parity ETL operators (SURVEY.md §2.2 F1-F10, §2.6 V1-V3)
  * re-expressed over the harness tables. Every reference pandas
  * row-op becomes a codegen'd Column expression — no UDFs anywhere
  * (SURVEY.md §7.3).
  */
object EtlQueries {

  /** q11 — F1 currency conversion as a literal-map lookup (no UDF):
    * unknown key → null, mirroring the reference's NaN. The map
    * literal constant-folds into codegen; at cluster scale this is a
    * map-side lookup with zero shuffle. */
  def q11CurrencyConvert(s: SparkSession, dir: String): DataFrame = {
    val rates = Map("1-URGENT" -> 1.0, "2-HIGH" -> 1.06, "3-MEDIUM" -> 0.13,
                    "4-NOT SPECIFIED" -> 1.17)
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderpriority"),
              round(col("o_totalprice") * element_at(typedlit(rates), col("o_orderpriority")), 4)
                .as("price_eur"))
      .orderBy(col("o_orderkey"))
  }

  /** q12 — F2 ascii scrub. The harness text is clean ASCII, so the
    * query injects the reference's exact dirt classes (mojibake `Â£`,
    * `Â»`, accented `Ã©`, doubled spaces, space-comma) and scrubs them
    * back out with the [[graft.etl.AsciiScrub]] kernel. The oracle
    * replays the reference's seven-step regex chain, so it checks the
    * kernel against an independent implementation. */
  def q12AsciiScrub(s: SparkSession, dir: String): DataFrame = {
    val dirty = concat(lit("Â£ "), col("p_name"), lit(" Â» "), col("p_brand"),
                       lit("  ,  Ã©nd"))
    Tables.part(s, dir)
      .select(col("p_partkey"), Scrub.asciiScrub(dirty).as("scrubbed"))
      .orderBy(col("p_partkey"))
  }

  /** q13 — F3/F6 string partition on first delimiter: head (cast to
    * int) + tail, exactly the reference's `str.partition` semantics. */
  def q13SplitPriority(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(col("o_orderkey"),
              substring_index(col("o_orderpriority"), "-", 1).cast("int").as("prio_code"),
              expr("substring(o_orderpriority, instr(o_orderpriority, '-') + 1)").as("prio_label"))
      .orderBy(col("o_orderkey"))

  /** q14 — F5 dictionary normalization: lowercase+trim, exact-match
    * replace through a literal map, unmapped values stay lowercase
    * (the reference's pass-through rule). Applied through a broadcast
    * dim join (customer⋈nation), the engine's scalable form of the
    * reference's 126-entry replace map. */
  def q14DictNormalize(s: SparkSession, dir: String): DataFrame = {
    val m = Map("nation_0" -> "united states", "nation_1" -> "germany",
                "nation_7" -> "france", "nan" -> "None")
    val c = Tables.customer(s, dir)
    val n = broadcast(Tables.nation(s, dir))
    val key = lower(trim(col("n_name")))
    c.join(n, col("c_nationkey") === col("n_nationkey"))
      .select(coalesce(element_at(typedlit(m), key), key).as("country"))
      .groupBy(col("country")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("country"))
  }

  /** q15 — F7 null-fill constants via the na.fill API (the reference's
    * fillna). Nulls are first manufactured deterministically so the
    * fill path actually executes. */
  def q15FillNa(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .select(col("c_custkey"),
              when(col("c_mktsegment") === "BUILDING", lit(null)).otherwise(col("c_mktsegment")).as("segment"),
              when(col("c_acctbal") < 0, lit(null)).otherwise(col("c_acctbal")).as("acctbal"))
      .na.fill(Map("segment" -> "None", "acctbal" -> 0.0))
      .orderBy(col("c_custkey"))

  /** q16 — F8 data-dependent clamp, explicitly two-phase (SURVEY.md
    * §7.4): phase 1 computes the min "plausible" ship year (treating
    * 1995 as the reference's `0` sentinel) with a distributed agg and
    * brings back ONE scalar; phase 2 applies the clamp as a plain
    * expression. No per-row driver logic, safe at any scale. */
  def q16YearClamp(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir)
    val yr = year(col("l_shipdate"))
    val m = l.filter(yr =!= 1995).agg(min(yr)).first().getInt(0)
    l.select(when(yr.between(m, 2000), yr).otherwise(lit(m - 10)).cast("long").as("yr_clamped"))
      .groupBy(col("yr_clamped")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("yr_clamped"))
  }

  /** q49 — column profiling: per-column null count, distinct count,
    * min/max — the describe() pass a data-quality dashboard runs
    * before anything else. One aggregate scan for ALL columns,
    * unpivoted to a row per column (numeric min/max rendered as
    * strings so one report covers mixed types). */
  def q49Profile(s: SparkSession, dir: String): DataFrame = {
    // long/string columns only: double->string rendering differs
    // between engines (Spark uses scientific notation past 1e7).
    // Profiled table is the dim (customer): exact multi-column
    // distinct counting expands the scan once per column, which is a
    // dim-table pass — on facts, profile with approx_count_distinct
    // (q41's sketch) instead.
    //
    // One INDEPENDENT aggregation subtree per column instead of the
    // single 4-distinct agg (the q136 rewrite, r15): Spark plans N
    // count-distincts in one agg as an Expand that multiplies every
    // row (N+1)× before the first exchange — N× the shuffled bytes at
    // any scale, and on the single-row-group fixture all of it
    // through one core. Per column the value-keyed groupBy dedups
    // map-side (guide §2.3), the stats over the deduped frame are a
    // value-count-sized pass, and the four subtrees run as
    // concurrently scheduled stages of one job. Rows/schema/values
    // are identical: n_nulls = Σ cnt over the null group (0 when
    // absent), n_distinct = count of non-null groups = countDistinct,
    // min/max unaffected by dedup.
    val t = Tables.customer(s, dir)
    def profFor(c: String) =
      t.select(col(c).as("v"))
        .groupBy(col("v")).agg(count(lit(1)).as("cnt"))
        .agg(coalesce(sum(when(col("v").isNull, col("cnt"))), lit(0L))
               .as("n_nulls"),
             count(col("v")).as("n_distinct"),
             min(col("v")).cast("string").as("min_val"),
             max(col("v")).cast("string").as("max_val"))
        .select(lit(c).as("column"), col("n_nulls"), col("n_distinct"),
                col("min_val"), col("max_val"))
    Seq("c_custkey", "c_nationkey", "c_mktsegment", "c_name")
      .map(profFor).reduce(_ unionByName _)
      .orderBy(col("column"))
  }

  /** q17 — V1 validation suite: every pandera-style check as a Column
    * predicate, counted in a single pass per table (one agg, then
    * unpivoted with stack), unioned into a rule→violations report.
    * This is the engine's declarative data-quality gate. */
  def q17ValidationReport(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir).agg(
      count(when(!col("l_quantity").between(0, 100), 1)).as("l_qty_range"),
      count(when(!col("l_discount").between(0, 1), 1)).as("l_disc_range"),
      count(when(!col("l_returnflag").isin("A", "N", "R"), 1)).as("l_flag_domain"),
      count(when(col("l_shipdate").isNull, 1)).as("l_shipdate_null"))
      .selectExpr("stack(4, 'l_qty_range', l_qty_range, 'l_disc_range', l_disc_range, " +
        "'l_flag_domain', l_flag_domain, 'l_shipdate_null', l_shipdate_null) AS (rule, violations)")
    val c = Tables.customer(s, dir).agg(
      count(when(col("c_acctbal") < 0, 1)).as("c_acctbal_nonneg"),
      count(when(col("c_mktsegment").isNull, 1)).as("c_segment_null"))
      .selectExpr("stack(2, 'c_acctbal_nonneg', c_acctbal_nonneg, " +
        "'c_segment_null', c_segment_null) AS (rule, violations)")
    val o = Tables.orders(s, dir).agg(
      count(when(!col("o_orderstatus").isin("O", "F", "P"), 1)).as("o_status_domain"))
      .selectExpr("stack(1, 'o_status_domain', o_status_domain) AS (rule, violations)")
    l.unionAll(c).unionAll(o).orderBy(col("rule"))
  }
}
