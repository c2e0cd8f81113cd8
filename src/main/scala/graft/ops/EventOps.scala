package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorFunctions.bottomK

/** Event-stream operators over the `events` table, batch form (the
  * Structured Streaming twins live in graft.streaming): tumbling
  * windows via window(), gap-based sessionization via lag + running
  * sum, JSON property extraction via from_json.
  */
object EventOps {

  /** q29 — tumbling 1-hour windows per event type, via the window()
    * operator (same construct Structured Streaming uses with a
    * watermark). The window start is emitted as a formatted string so
    * the compare is type-stable. */
  def q29TumblingWindow(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("total_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("hour"),
              col("event_type"), col("n_events"), col("total_value"))
      .orderBy(col("hour"), col("event_type"))

  /** q30 — gap-based sessionization (30-minute inactivity): lag to
    * flag session starts, running sum to number sessions, then one
    * aggregate per session. Two shuffles total (both on user_id). */
  def q30Sessionize(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val newSession = when(
      lag(col("ts"), 1).over(byUser).isNull ||
      col("ts") > lag(col("ts"), 1).over(byUser) + expr("INTERVAL 30 MINUTES"), 1L)
      .otherwise(0L)
    Tables.events(s, dir)
      .withColumn("session_id", sum(newSession).over(byUser))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
           date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("t_start"),
           date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("t_end"),
           round(sum(col("value")), 4).as("total_value"))
      .orderBy(col("user_id"), col("session_id"))
  }

  /** q37 — the same gap-based sessions as q30 via Spark's BUILT-IN
    * session_window operator (one Aggregate with session merging —
    * also the construct a streaming watermarked variant would use).
    * Emits session start (== min ts) per user with event count and
    * value total; the oracle replays the lag/running-sum definition,
    * proving the two formulations agree. */
  def q37SessionWindow(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("total_value"))
      .select(col("user_id"),
              date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("t_start"),
              col("n_events"), col("total_value"))
      .orderBy(col("user_id"), col("t_start"))

  /** q44 — SLIDING windows (1 h length, 30 min slide): every event
    * contributes to two overlapping windows — Spark's window()
    * expands map-side (an Expand, no extra shuffle beyond the
    * aggregation's own). The oracle replays the expansion as a
    * two-bucket UNION ALL. */
  def q44SlidingWindow(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("total_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("w_start"),
              col("event_type"), col("n_events"), col("total_value"))
      .orderBy(col("w_start"), col("event_type"))

  /** q50 — AS-OF join, an operator Spark lacks natively: each event
    * picks the most recent order (per user) at or before its
    * timestamp. Composed the scalable way — union both sides, ONE
    * shuffle+sort per key, `last(..., ignoreNulls)` running window —
    * instead of a range join whose candidate space is |events|×|orders|
    * per key. Orders are pre-aggregated per (customer, date) so ties
    * are deterministic in both engines. Oracle: DuckDB's native
    * ASOF JOIN. */
  def q50AsofJoin(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(s, dir)
      .groupBy(col("o_custkey").as("k"), col("o_orderdate"))
      .agg(max(col("o_totalprice")).as("o_total_pre"))
      .select(col("k"), col("o_orderdate").as("t"), lit(null).cast("long").as("event_id"),
              col("o_orderdate").as("o_date"), col("o_total_pre").as("o_total"),
              lit(0).as("is_event"))
    val e = Tables.events(s, dir)
      .select(col("user_id").as("k"), col("ts").as("t"), col("event_id"),
              lit(null).cast("timestamp").as("o_date"),
              lit(null).cast("double").as("o_total"), lit(1).as("is_event"))
    // at equal timestamps the order row sorts first: ts >= o_orderdate inclusive
    val w = Window.partitionBy(col("k")).orderBy(col("t"), col("is_event"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    o.unionByName(e)
      .withColumn("asof_date", last(col("o_date"), ignoreNulls = true).over(w))
      .withColumn("asof_total", last(col("o_total"), ignoreNulls = true).over(w))
      .filter(col("is_event") === 1 && col("asof_date").isNotNull)
      .select(col("event_id"), col("k").as("user_id"),
              date_format(col("t"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"),
              date_format(col("asof_date"), "yyyy-MM-dd").as("o_date"),
              round(col("asof_total"), 4).as("o_total"))
      .orderBy(col("event_id"))
  }

  /** q31 — JSON property extraction: parse the props column with an
    * explicit schema (from_json → typed struct; no driver-side
    * parsing), aggregate the extracted key per event type. */
  def q31JsonExtract(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("k", from_json(col("props"), org.apache.spark.sql.types.StructType(
        Seq(org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType)))).getField("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           round(avg(col("k")), 6).as("avg_k"),
           max(col("k")).as("max_k"))
      .orderBy(col("event_type"))

  /** q69 — ordered conversion funnel (view → click → purchase): per
    * user, the first view, the first click strictly after it, the
    * first purchase strictly after that — the classic product
    * funnel, which plain conditional aggregation can't express
    * because each stage's window starts at the previous stage's
    * result. Three per-user min-aggregations chained by equi-joins:
    * every shuffle keys on user_id, so after the first aggregation
    * the remaining joins and aggs reuse the same hash partitioning
    * (no re-shuffle at scale — one partitioning carried through the
    * whole funnel). */
  def q69Funnel(s: SparkSession, dir: String): DataFrame = {
    val fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
    val c = ev.filter(col("event_type") === "click").join(v, Seq("user_id"))
      .filter(col("ts") > col("t_view"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_click"))
    val p = ev.filter(col("event_type") === "purchase").join(c, Seq("user_id"))
      .filter(col("ts") > col("t_click"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_purchase"))
    v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
      .select(col("user_id"),
              date_format(col("t_view"), fmt).as("t_view"),
              date_format(col("t_click"), fmt).as("t_click"),
              date_format(col("t_purchase"), fmt).as("t_purchase"),
              (lit(1L) + col("t_click").isNotNull.cast("long")
                       + col("t_purchase").isNotNull.cast("long")).as("stage"))
      .orderBy(col("user_id"))
  }

  /** q86 — point-in-interval join, the scale-correct way: purchases
    * matched to the purchasing user's same-day VIEW window
    * [first view, last view]. A naive range join is a nested-loop
    * (every probe against every interval); here the equi part of the
    * predicate — (user_id, day) — drives a plain hash join and the
    * range test rides along as a residual filter, which is exactly
    * how warehouse engines make interval joins scale: bucket the
    * intervals so equality carries the join, and only bucket-local
    * rows meet the range test. Intervals that could span buckets
    * would be exploded to one row per covered bucket (not needed
    * here — a day window is inside its day by construction).
    *
    * 100 TB shape: both sides shuffle once on (user, day) — or not
    * at all if events are already bucketed by user — and no
    * nested-loop pair ever materializes. */
  def q86IntervalJoin(s: SparkSession, dir: String): DataFrame = {
    val fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    val ev = Tables.events(s, dir)
    val iv = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id").as("u"), to_date(col("ts")).as("day"))
      .agg(min(col("ts")).as("w_start"), max(col("ts")).as("w_end"),
           count(lit(1)).as("n_views"))
    val probe = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    probe.join(iv, probe("user_id") === iv("u") &&
                   to_date(probe("ts")) === iv("day") &&
                   probe("ts") >= iv("w_start") &&
                   probe("ts") <= iv("w_end"))
      .select(col("event_id"), col("user_id"),
              date_format(col("ts"), fmt).as("ts"),
              date_format(col("w_start"), fmt).as("w_start"),
              date_format(col("w_end"), fmt).as("w_end"),
              col("n_views"))
      .orderBy(col("event_id"))
  }

  /** q96 — percentile-rank feature normalization in integer micros:
    * each event's value mapped to its within-type rank position
    * (rn−1)·1e6 div (n−1) — the distribution-free normalization
    * (equalized histograms) feature pipelines apply before mixing
    * heterogeneous signals. The order is total (value, then event_id)
    * so ranks are deterministic; the emitted number is exact integer
    * division (ties in `value` get distinct ranks from the tiebreak —
    * a rank transform, not a dense percentile).
    *
    * Scale shape: one shuffle on event_type, one sort per partition
    * shared by both window frames (row_number and the count both ride
    * the same partitioning; Catalyst plans a single exchange+sort).
    * Single-key skew at 100 TB would switch to a two-pass
    * aggregate-then-broadcast CDF; the windowed form is the exact
    * oracle-able contract. */
  def q96PercentileRank(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byType = Window.partitionBy(col("event_type"))
    val w = byType.orderBy(col("value"), col("event_id"))
    Tables.events(s, dir)
      .select(col("event_id"), col("event_type"), col("value"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(byType))
      .select(col("event_id"), col("event_type"),
              when(col("n") === 1, 0L)
                .otherwise(expr("((rn - 1) * 1000000L) div (n - 1)"))
                .as("pr_micro"))
      .orderBy(col("event_id"))
  }

  /** q89 — SCD2 (slowly-changing-dimension type 2) history build from
    * a change log: per user, CONSECUTIVE runs of the same event_type
    * collapse into one version row (real SCD2 semantics — only a
    * change opens a new version), with [valid_from, valid_to) validity
    * intervals chained so each version closes exactly when the next
    * one opens, and the open-ended last run flagged current. The
    * gaps-and-islands shape: lag → change flag → running sum → group.
    *
    * Scale shape: both windows and the run aggregation share ONE
    * hash partitioning on user_id — Catalyst plans a single exchange
    * and sorts once per partition; state per key is a row, not a
    * buffer. At 100 TB this is the canonical CDC-to-dimension pass:
    * everything is per-key sequential scan after one shuffle. */
  def q89Scd2(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val runs = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .withColumn("new_run",
        (col("prev_type").isNull || col("prev_type") =!= col("event_type"))
          .cast("long"))
      .withColumn("version", sum(col("new_run")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val versions = runs.groupBy(col("user_id"), col("version"))
      .agg(min(col("event_type")).as("event_type"), // constant within a run
           min(col("ts")).as("valid_from_ts"),
           count(lit(1)).as("n_events"))
    val w2 = Window.partitionBy(col("user_id")).orderBy(col("version"))
    versions
      .withColumn("valid_to_ts", lead(col("valid_from_ts"), 1).over(w2))
      .select(col("user_id"), col("version"), col("event_type"),
              date_format(col("valid_from_ts"), fmt).as("valid_from"),
              date_format(col("valid_to_ts"), fmt).as("valid_to"),
              col("n_events"),
              col("valid_to_ts").isNull.cast("long").as("is_current"))
      .orderBy(col("user_id"), col("version"))
  }

  /** q134 — A/B split metrics: users assigned to arms by a
    * content-hash of their id (md5 low bit — deterministic,
    * balanced, reproducible across engines and re-runs, the q56
    * principle applied to experimentation), each arm reporting
    * users, converters (≥1 purchase), and the conversion rate in
    * integer micros — the experiment readout table. Assignment by
    * POSITION (user_id parity) would correlate with signup order;
    * the hash kills that structurally.
    *
    * Scale shape: one user-keyed rollup (has-purchase flag), then a
    * 2-row arm aggregate. */
  def q134AbSplit(s: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(max((col("event_type") === "purchase").cast("long"))
             .as("converted"))
      .withColumn("arm",
        when(pmod(conv(substring(md5(col("user_id").cast("string")), 32, 1),
                       16, 10).cast("long"), lit(2L)) === 0, "A")
          .otherwise("B"))
    perUser.groupBy(col("arm"))
      .agg(count(lit(1)).as("n_users"),
           sum(col("converted")).cast("long").as("n_converted"))
      .select(col("arm"), col("n_users"), col("n_converted"),
              expr("n_converted * 1000000L div n_users").as("conv_micro"))
      .orderBy(col("arm"))
  }

  /** q141 — daily new-vs-returning mix: per day, events attributed
    * to users on their FIRST day vs returning users, with the new
    * share in integer micros — the acquisition-vs-retention lens on
    * raw volume. First-day attribution reuses the q127 first-seen
    * reduction, broadcast back onto the daily stream. */
  def q141NewVsReturning(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
    val firstDay = ev.groupBy(col("user_id"))
      .agg(min(col("day")).as("first_day"))
    ev.join(firstDay, Seq("user_id"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_events"),
           sum((col("day") === col("first_day")).cast("long"))
             .cast("long").as("n_new_user_events"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
              col("n_events"), col("n_new_user_events"),
              expr("n_new_user_events * 1000000L div n_events")
                .as("new_share_micro"))
      .orderBy(col("day"))
  }

  /** q140 — A/B readout with error bars: q134's per-arm conversion
    * plus a 95% Wald interval, computed from the exact integer
    * (p_micro, n) pair — the half-width is
    * `floor(1.959964 · sqrt(p·(1e6−p)/n))` where every input is an
    * exact integer, so the float sqrt/multiply/divide chain is the
    * same correctly-rounded IEEE sequence in both engines (the
    * q84/q125 argument), and the bounds clamp into [0, 1e6]. The
    * decision table an experiment review actually reads: do the
    * intervals overlap. */
  def q140AbConfidence(s: SparkSession, dir: String): DataFrame =
    q134AbSplit(s, dir)
      .withColumn("hw_micro",
        floor(lit(1.959964d) *
              sqrt(col("conv_micro").cast("double") *
                   (lit(1000000L) - col("conv_micro")).cast("double") /
                   col("n_users").cast("double"))).cast("long"))
      .select(col("arm"), col("n_users"), col("conv_micro"),
              col("hw_micro"),
              greatest(col("conv_micro") - col("hw_micro"), lit(0L))
                .as("lo_micro"),
              least(col("conv_micro") + col("hw_micro"), lit(1000000L))
                .as("hi_micro"))
      .orderBy(col("arm"))

  /** q135 — funnel drop-off rates: q69's strict-order
    * view→click→purchase stages rolled up into the stage table every
    * funnel chart draws — users reaching each stage, survivors into
    * the next, and the step conversion in integer micros.
    *
    * Scale shape: inherits q69's single user partitioning; the
    * rollup is 3 rows. */
  def q135FunnelRates(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stages = q69Funnel(s, dir)
      .groupBy(col("stage")).agg(count(lit(1)).as("n_at_stage"))
    // users AT stage k reached every stage <= k: suffix-sum by stage
    val w = Window.orderBy(col("stage").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    stages
      .withColumn("n_reached", sum(col("n_at_stage")).over(w).cast("long"))
      .withColumn("n_next",
        lag(col("n_reached"), 1).over(Window.orderBy(col("stage").desc)))
      .select(col("stage"), col("n_reached"),
              coalesce(col("n_next"), lit(0L)).as("n_to_next"),
              coalesce(expr("n_next * 1000000L div n_reached"), lit(0L))
                .as("step_micro"))
      .orderBy(col("stage"))
  }

  /** q133 — time-to-convert percentiles: seconds from each user's
    * FIRST view to their first purchase AFTER it, summarized as
    * exact p50/p90 (percentile_disc members — integer seconds, so
    * both engines pick the same value) plus the conversion count —
    * the latency headline a funnel report leads with.
    *
    * Scale shape: two user-keyed min-aggs and one global
    * percentile over the users-sized frame (exact order statistics
    * at the report stage; q53's sketch is the declared path when
    * even the user dimension is too big to sort). */
  def q133TimeToConvert(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val firstView = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("v_ts"))
    val delays = ev.filter(col("event_type") === "purchase")
      .join(firstView, Seq("user_id"))
      .filter(col("ts") >= col("v_ts"))
      .groupBy(col("user_id"))
      .agg(min(col("ts")).as("p_ts"), first(col("v_ts")).as("v_ts"))
      .select(expr("(unix_micros(p_ts) - unix_micros(v_ts)) div 1000000L")
                .as("delay_s"))
    delays.agg(
        count(lit(1)).as("n_converted"),
        expr("CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY delay_s) AS BIGINT)")
          .as("p50_s"),
        expr("CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY delay_s) AS BIGINT)")
          .as("p90_s"))
  }

  /** q132 — week-over-week churn deltas: per week, how many users
    * were active, how many were new (first-ever week), how many
    * churned out of the PREVIOUS week (active then, silent now), and
    * how many resurrected (active now after skipping the previous
    * week) — the movement table behind every retention dashboard,
    * complementing q115's cohort matrix. Week indexes are integer
    * day-diffs div 7 from the corpus start (exact in both engines).
    *
    * Scale shape: the distinct (user, week) activity frame is the
    * only corpus-sized object; new/churn/resurrect flags come from
    * one user-keyed lag window over it; the weekly rollup is
    * weeks-sized. */
  def q132ChurnDeltas(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
    val start = ev.agg(min(col("day")).as("d0"))
    val weekly = ev.crossJoin(broadcast(start))
      .select(col("user_id"),
              expr("CAST(datediff(day, d0) AS BIGINT) div 7").as("week"))
      .distinct()
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("week"))
    val flagged = weekly
      .withColumn("prev_week", lag(col("week"), 1).over(byUser))
      .withColumn("is_new", col("prev_week").isNull.cast("long"))
      .withColumn("is_resurrected",
        (col("prev_week").isNotNull &&
         col("prev_week") < col("week") - 1L).cast("long"))
    val active = flagged.groupBy(col("week"))
      .agg(count(lit(1)).as("n_active"),
           sum(col("is_new")).cast("long").as("n_new"),
           sum(col("is_resurrected")).cast("long").as("n_resurrected"))
    // churned OUT OF week w = active in w, silent in w+1 — counted by
    // the lead gap on the same per-user sequence, attributed to w+1
    val churn = flagged
      .withColumn("next_week", lead(col("week"), 1).over(byUser))
      .filter(col("next_week").isNull || col("next_week") > col("week") + 1L)
      .groupBy((col("week") + 1L).as("week"))
      .agg(count(lit(1)).as("n_churned"))
    active.join(churn, Seq("week"), "left")
      .select(col("week"), col("n_active"), col("n_new"),
              col("n_resurrected"),
              coalesce(col("n_churned"), lit(0L)).as("n_churned"))
      .orderBy(col("week"))
  }

  /** q130 — inter-arrival gap histogram per event type: the log2
    * distribution of seconds between consecutive events of a type
    * within a user's stream — the latency/cadence fingerprint that
    * separates burst traffic from background drip (and the input to
    * choosing session gaps and watermarks). Gap seconds bucket by
    * exact integer bit length (q90's float-free log2); zero-second
    * gaps land in bucket −1.
    *
    * Scale shape: one user-keyed lag window, then a map-side bucket
    * projection into a (type, bucket)-sized rollup. */
  def q130GapHistogram(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .withColumn("gap_us",
        unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)))
      .filter(col("gap_us").isNotNull)
      .withColumn("gap_s", expr("gap_us div 1000000L"))
      .select(col("event_type"),
              when(col("gap_s") <= 0, lit(-1L))
                .otherwise((length(bin(col("gap_s"))) - 1).cast("long"))
                .as("bucket"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("n_gaps"))
      .orderBy(col("event_type"), col("bucket"))
  }

  /** q127 — cumulative unique users per day (the total-reach curve):
    * each user reduces to their first-seen day (one user-keyed
    * min-agg — the first-occurrence trick q122 uses per event), and
    * the running total is a window over the ~days-sized aggregate —
    * a frame of one row per day, so the unpartitioned window is a
    * deliberate non-issue (same reasoning as q110's top-k). */
  def q127CumulativeUsers(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val firstDay = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("day"))
    val perDay = firstDay.groupBy(col("day"))
      .agg(count(lit(1)).as("n_new"))
    val cum = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perDay
      .withColumn("cum_users", sum(col("n_new")).over(cum).cast("long"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
              col("n_new"), col("cum_users"))
      .orderBy(col("day"))
  }

  /** q122 — running distinct event types per user (the classic
    * point-in-time feature: "how many distinct actions had this user
    * taken as of each event", leak-free because it only looks
    * backward). A distinct-count window is not directly expressible,
    * so the first occurrence of each (user, type) is flagged by one
    * window and a running sum of flags by a second — both clustered
    * by user, so ONE user-keyed shuffle serves the pair (the
    * subset-clustering rule; the second window adds only a sort).
    * Emitted per event, ordered by (user, ts, event_id). */
  def q122RunningDistinct(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val firstOfType = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    val byTime = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .withColumn("is_first",
        (row_number().over(firstOfType) === 1).cast("long"))
      .withColumn("k_types", sum(col("is_first")).over(byTime))
      .select(col("user_id"), col("event_id"),
              date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"),
              col("event_type"), col("k_types"))
      .orderBy(col("user_id"), col("ts"), col("event_id"))
  }

  /** q118 flags days more than this many standard deviations out. */
  private val Q118Sigmas = 2L

  /** q118 — daily volume anomalies per event type: a day is anomalous
    * for a type iff its count sits more than k = 2 standard
    * deviations from the type's daily mean — decided by q92's
    * denominator-cleared integer test (n·c − S)² > k²·(n·Q − S²)
    * with S = Σ counts, Q = Σ counts², so the pipeline-health alert
    * every ingest monitors is bit-stable across engines (no float
    * μ/σ boundary).
    *
    * Scale shape: daily counts are one (type, day) aggregation;
    * (S, Q, n) per type is a second tiny rollup broadcast back as a
    * window-free join; the flag is a map-side comparison. */
  def q118DailyAnomalies(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
    val stats = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(col("c")).cast("long").as("ss"),
           sum(col("c") * col("c")).cast("long").as("qq"))
    daily.join(broadcast(stats), Seq("event_type"))
      .select(col("event_type"),
              date_format(col("day"), "yyyy-MM-dd").as("day"),
              col("c").as("n_events"),
              ((col("n") * col("c") - col("ss")) * (col("n") * col("c") - col("ss")) >
               lit(Q118Sigmas * Q118Sigmas) * (col("n") * col("qq") - col("ss") * col("ss")))
                .as("is_anomaly"))
      .orderBy(col("event_type"), col("day"))
  }

  /** q114 — rolling 7-day distinct users (the WAU curve): for every
    * day, how many distinct users were active in the trailing 7-day
    * window. Distinct-over-sliding-windows can't use a running sum
    * (users recur), so each (day, user) pair fans out map-side to
    * the ≤ 7 window-end days it supports and is deduped there — the
    * explode-to-window trick that keeps the computation one
    * distinct + one count, no self-join of the raw stream.
    *
    * Scale shape: the raw stream reduces FIRST to distinct
    * (day, user) (map-side partial), so the 7× fan-out applies to
    * the deduped frame, not the event volume; both dedups are
    * keyed aggregations. */
  def q114RollingDistinct(s: SparkSession, dir: String): DataFrame = {
    // persist: the deduped (day, user) frame feeds the span anchor
    // AND the 7× window fan-out — uncached, the events scan + distinct
    // runs twice. The cache is the collapsed frame, not the stream.
    val dayUser = Tables.events(s, dir)
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val span = dayUser.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    dayUser
      .select(col("user_id"), col("day"),
              explode(sequence(col("day"), date_add(col("day"), 6),
                               expr("INTERVAL 1 DAY"))).as("w_end"))
      .select(col("user_id"), col("w_end"))
      .distinct()
      .groupBy(col("w_end"))
      .agg(count(lit(1)).as("n_users"))
      .crossJoin(broadcast(span))
      // trailing windows only fully exist inside the observed span
      .filter(col("w_end") <= col("d1"))
      .select(date_format(col("w_end"), "yyyy-MM-dd").as("day"),
              col("n_users"))
      .orderBy(col("day"))
  }

  /** q115 — retention cohort matrix: users grouped by first-seen
    * week (the cohort), counted as retained in each later week they
    * were active — the table every growth dashboard opens with.
    * Week indexes are integer day-diffs div 7 from the corpus start,
    * so bucketing is exact in both engines.
    *
    * Scale shape: first-seen is one user-keyed min-agg; the join
    * back to (user, week) activity is user-keyed; the matrix rollup
    * has cohorts × weeks cells. The first-seen frame is corpus-wide
    * but 2 columns (at warehouse scale it IS the user dimension,
    * bucketed by user like q98's profile). */
  def q115RetentionCohorts(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
    val start = ev.agg(min(col("day")).as("d0"))
    val weekly = ev.crossJoin(broadcast(start))
      .select(col("user_id"),
              expr("CAST(datediff(day, d0) AS BIGINT) div 7").as("week"))
      .distinct()
    val cohort = weekly.groupBy(col("user_id"))
      .agg(min(col("week")).as("cohort_week"))
    weekly.join(cohort, Seq("user_id"))
      .groupBy(col("cohort_week"),
               (col("week") - col("cohort_week")).as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  /** q112 — linear multi-touch attribution: every purchase's value
    * (integer micros) splits EQUALLY across the same user's views in
    * the 30 minutes before it, and each view reports its total
    * credited micros — the multi-touch counterpart of q57's
    * last-touch-style attribution join. All arithmetic is integer
    * (`p_micro div n_views`, truncation per purchase), so credits
    * are bit-stable across engines.
    *
    * Scale shape: one user-keyed band join (the q57/q86 shape — at
    * stream scale the same join runs watermarked), one
    * purchase-keyed count window over join output bounded by the
    * band width, one view-keyed rollup. Nothing global; every stage
    * is keyed. */
  def q112Attribution(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, dir)
    val v = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"),
              col("ts").as("v_ts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
              col("user_id").as("p_user"), col("ts").as("p_ts"),
              floor(col("value") * lit(1e6d) + lit(0.5d)).cast("long")
                .as("p_micro"))
    val touches = v.join(p,
      col("user_id") === col("p_user") &&
      col("v_ts") <= col("p_ts") &&
      col("v_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES"))
    val perPurchase = Window.partitionBy(col("purchase_id"))
    touches
      .withColumn("n_views", count(lit(1)).over(perPurchase))
      .select(col("view_id"),
              expr("p_micro div n_views").as("credit"))
      .groupBy(col("view_id"))
      .agg(sum(col("credit")).cast("long").as("credit_micro"),
           count(lit(1)).as("n_purchases"))
      .orderBy(col("view_id"))
  }

  /** q183 — U-SHAPED (position-based) multi-touch attribution, the
    * standard 40/20/40 upgrade of q112's linear model: within each
    * purchase's 30-minute touch window, the FIRST view earns 40% of
    * the purchase value, the LAST view 40%, and the middle views
    * split the remaining 20% evenly; 1-touch purchases keep 100%,
    * 2-touch purchases split 50/50. All credits are integer micro
    * floor-divisions of the purchase's micro value, so no float ever
    * accumulates and the per-view rollup is order-independent.
    *
    * Scale shape: identical to q112 — the view⋈purchase range join
    * shuffles on user_id (both sides time-bounded by the 30-minute
    * window), one purchase-keyed window ranks the touches (purchase
    * cardinality bounds every group), and the final per-view rollup
    * is map-combined. */
  def q183PositionAttribution(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, dir)
    val v = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"),
              col("ts").as("v_ts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
              col("user_id").as("p_user"), col("ts").as("p_ts"),
              floor(col("value") * lit(1e6d) + lit(0.5d)).cast("long")
                .as("p_micro"))
    val touches = v.join(p,
      col("user_id") === col("p_user") &&
      col("v_ts") <= col("p_ts") &&
      col("v_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES"))
    val perPurchase = Window.partitionBy(col("purchase_id"))
    val byTime = perPurchase.orderBy(col("v_ts"), col("view_id"))
    val credit =
      when(col("n_views") === 1, col("p_micro"))
        .when(col("n_views") === 2, expr("p_micro div 2"))
        .when(col("rn") === 1 || col("rn") === col("n_views"),
              expr("p_micro * 2 div 5"))
        .otherwise(expr("p_micro div 5 div (n_views - 2)"))
    touches
      .withColumn("rn", row_number().over(byTime).cast("long"))
      .withColumn("n_views", count(lit(1)).over(perPurchase))
      .select(col("view_id"), credit.as("credit"))
      .groupBy(col("view_id"))
      .agg(sum(col("credit")).cast("long").as("credit_micro"),
           count(lit(1)).as("n_purchases"))
      .orderBy(col("view_id"))
  }

  /** DuckDB oracle for q183 — the same range join, rank window and
    * integer U-shape credit schedule. */
  def q183OracleSql: String =
    """WITH v AS (SELECT event_id AS view_id, user_id, ts AS v_ts
         FROM events WHERE event_type = 'view'),
       p AS (SELECT event_id AS purchase_id, user_id AS p_user, ts AS p_ts,
         CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS p_micro
         FROM events WHERE event_type = 'purchase'),
       t AS (SELECT view_id, purchase_id, p_micro,
         row_number() OVER (PARTITION BY purchase_id
                            ORDER BY v_ts, view_id) AS rn,
         count(*) OVER (PARTITION BY purchase_id) AS n_views
         FROM v JOIN p ON v.user_id = p.p_user
           AND v.v_ts <= p.p_ts
           AND v.v_ts >= p.p_ts - INTERVAL 30 MINUTE),
       c AS (SELECT view_id,
         CASE WHEN n_views = 1 THEN p_micro
              WHEN n_views = 2 THEN p_micro // 2
              WHEN rn = 1 OR rn = n_views THEN p_micro * 2 // 5
              ELSE p_micro // 5 // (n_views - 2) END AS credit
         FROM t)
       SELECT view_id, sum(credit)::BIGINT AS credit_micro,
         count(*)::BIGINT AS n_purchases
       FROM c GROUP BY view_id ORDER BY view_id"""

  /** Fixed channel universe for q234 (every non-conversion event
    * type, sorted) — a static list so the oracle SQL can unroll one
    * removal chain per channel; an unobserved channel's removal is a
    * no-op (effect 0) in both engines. */
  private[ops] val MarkovChannels = Seq("click", "error", "signup", "view")
  private[ops] val MarkovIters = 25

  /** q234 — MARKOV REMOVAL-EFFECT attribution [Anderl et al., 2014]:
    * the data-driven upgrade of q112's linear and q183's U-shaped
    * heuristics. Each user's journey is the event-type sequence up
    * to their FIRST purchase (the conversion; truncated there —
    * standard first-conversion semantics; non-converting users end
    * in the NULL state). Journeys define a first-order Markov chain
    * START → channels → {CONV, NULL}; a channel's removal effect is
    * how much of the chain's conversion probability disappears when
    * every visit to that channel is redirected to NULL — credit for
    * being ON the converting paths, not merely near a purchase.
    *
    * All arithmetic is integer micro: transition probabilities are
    * `count·10⁶ div outdegree`, and the absorbing-chain solve runs
    * [[MarkovIters]] fixed Jacobi iterations of
    * `p(s) ← (Σ_t P(s,t)·p(t)) div 10⁶` with p(CONV) = 10⁶,
    * p(NULL) = 0 (removal clamps the removed channel's p to 0 —
    * exactly "visits there never convert"). Both engines run the
    * IDENTICAL truncating iteration, so the gate is bit-exact; the
    * iterate is monotone non-decreasing and bounded, and removal
    * clamps can only lower it, so effects are non-negative by
    * construction. Output: one row per channel with the base and
    * removed conversion micro, the removal effect, and the
    * normalized attribution share.
    *
    * Scale shape: journeys need ONE user-keyed shuffle (the lag
    * window + per-user terminal rows share it); transition counts
    * collapse map-side to a ≤ |channels|²-row matrix; the chain
    * solve reads that matrix once on the driver (the bounded-scalar
    * pattern of the year clamp / k-means codebooks — ≤ 36 rows,
    * never data), and the 4-row result frame is built from
    * driver-computed integers. At 100 TB the only corpus-sized cost
    * is the one windowed pass over events. */
  def q234MarkovAttribution(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = s
    import spark.implicits._
    val ev = Tables.events(s, dir)
    // ONE user-keyed exchange carries everything: the first
    // conversion is a window-min over the same partitioning the lag
    // and the per-user terminal aggregate already need — no join of
    // the corpus against a per-user aggregate
    val wAll = Window.partitionBy(col("user_id"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val tagged = ev
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("fc",
        min(when(col("event_type") === "purchase",
                 struct(col("ts"), col("event_id")))).over(wAll))
    // pre-conversion channel events (everything, for never-converters)
    val pre = tagged
      .filter(col("event_type") =!= "purchase" &&
              (col("fc").isNull ||
               struct(col("ts"), col("event_id")) < col("fc")))
    val steps = pre
      .select(coalesce(lag(col("event_type"), 1).over(w), lit("START"))
                .as("from_s"),
              col("event_type").as("to_s"))
    // terminal row per user: last pre-conversion event -> CONV/NULL
    val terminal = pre.groupBy(col("user_id"))
      .agg(max(struct(col("ts"), col("event_id"), col("event_type"))).as("le"),
           max(col("fc")).as("fc"))
      .select(col("le.event_type").as("from_s"),
              when(col("fc").isNull, lit("NULL")).otherwise(lit("CONV"))
                .as("to_s"))
    // converted users whose FIRST event is the purchase: START -> CONV
    val startConv = tagged
      .groupBy(col("user_id"))
      .agg(max(col("fc")).as("fc"),
           count(when(col("event_type") =!= "purchase" &&
                      (col("fc").isNull ||
                       struct(col("ts"), col("event_id")) < col("fc")), 1))
             .as("n_pre"))
      .filter(col("fc").isNotNull && col("n_pre") === 0)
      .select(lit("START").as("from_s"), lit("CONV").as("to_s"))
    val trans = steps.unionByName(terminal).unionByName(startConv)
      .groupBy(col("from_s"), col("to_s"))
      .agg(count(lit(1)).as("c"))
      .withColumn("p_micro",
        expr("c * 1000000L div sum(c) over (partition by from_s)"))
      .select(col("from_s"), col("to_s"), col("p_micro"))
    // ≤ (|channels|+1) x (|channels|+2) rows — the bounded scalar read
    val tm = trans.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val states = "START" +: MarkovChannels
    def solve(removed: Option[String]): Long = {
      var p = states.map(_ -> 0L).toMap
      for (_ <- 1 to MarkovIters) {
        p = states.map { st =>
          val acc = tm.iterator.collect { case ((f, t), m) if f == st =>
            m * (t match {
              case "CONV" => 1000000L
              case "NULL" => 0L
              case c if removed.contains(c) => 0L
              case c => p.getOrElse(c, 0L)
            })
          }.sum
          st -> acc / 1000000L
        }.toMap
      }
      p("START")
    }
    val base = solve(None)
    val rows = MarkovChannels.map { ch =>
      val wo = solve(Some(ch))
      val re = if (base > 0) (base - wo) * 1000000L / base else 0L
      (ch, base, wo, re)
    }
    val totalRe = rows.map(_._4).sum
    rows.map { case (ch, b, wo, re) =>
      (ch, b, wo, re, if (totalRe > 0) re * 1000000L / totalRe else 0L)
    }.toDF("channel", "base_conv_micro", "conv_wo_micro",
           "removal_effect_micro", "share_micro")
      .orderBy(col("channel"))
  }

  /** DuckDB oracle for q234 — identical journeys, transition matrix
    * and truncating Jacobi iterations, unrolled one CTE chain per
    * removal variant (the q27/q188 unroll technique). Every
    * iteration CTE is AS MATERIALIZED: DuckDB inlines
    * single-reference CTEs, and a 25-deep inlined join chain
    * explodes planning exponentially — materialization keeps each
    * step a 5-row hash join. */
  def q234OracleSql: String = {
    val stateVals = ("START" +: MarkovChannels)
      .map(s => s"('$s')").mkString(", ")
    def chain(v: String, removed: Option[String]): String = {
      val removedClause =
        removed.map(c => s"WHEN t.to_s = '$c' THEN 0 ").getOrElse("")
      val it0 = s"it_${v}_0 AS MATERIALIZED (SELECT s, 0::BIGINT AS p FROM states)"
      val its = (1 to MarkovIters).map { k =>
        s"""it_${v}_$k AS MATERIALIZED (SELECT st.s,
           (COALESCE(sum(t.p_micro *
             CASE WHEN t.to_s = 'CONV' THEN 1000000
                  WHEN t.to_s = 'NULL' THEN 0
                  ${removedClause}ELSE COALESCE(pv.p, 0) END), 0) // 1000000)::BIGINT AS p
           FROM states st
           LEFT JOIN trans t ON t.from_s = st.s
           LEFT JOIN it_${v}_${k - 1} pv ON pv.s = t.to_s
           GROUP BY st.s)"""
      }
      (it0 +: its).mkString(",\n       ")
    }
    val chains = (chain("base", None) +:
      MarkovChannels.map(c => chain(c, Some(c)))).mkString(",\n       ")
    val selRows = MarkovChannels.map { c =>
      s"""SELECT '$c' AS channel,
          (SELECT p FROM it_${c}_$MarkovIters WHERE s = 'START') AS conv_wo_micro"""
    }.mkString("\n         UNION ALL\n         ")
    s"""WITH fc AS (SELECT user_id, ts AS c_ts, event_id AS c_id FROM (
           SELECT user_id, ts, event_id, row_number() OVER (
             PARTITION BY user_id ORDER BY ts, event_id) AS rn
           FROM events WHERE event_type = 'purchase') WHERE rn = 1),
       pre AS MATERIALIZED (SELECT e.user_id, e.ts, e.event_id, e.event_type
         FROM events e LEFT JOIN fc ON fc.user_id = e.user_id
         WHERE e.event_type <> 'purchase'
           AND (fc.user_id IS NULL OR e.ts < fc.c_ts
                OR (e.ts = fc.c_ts AND e.event_id < fc.c_id))),
       steps AS (SELECT coalesce(lag(event_type) OVER (
             PARTITION BY user_id ORDER BY ts, event_id), 'START') AS from_s,
           event_type AS to_s FROM pre),
       lastpre AS (SELECT user_id, event_type AS from_s FROM (
           SELECT user_id, event_type, row_number() OVER (
             PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
           FROM pre) WHERE rn = 1),
       term AS (SELECT lp.from_s,
           CASE WHEN fc.user_id IS NULL THEN 'NULL' ELSE 'CONV' END AS to_s
         FROM lastpre lp LEFT JOIN fc ON fc.user_id = lp.user_id),
       sconv AS (SELECT 'START' AS from_s, 'CONV' AS to_s FROM fc
         WHERE user_id NOT IN (SELECT user_id FROM pre)),
       alltr AS (SELECT * FROM steps UNION ALL SELECT * FROM term
         UNION ALL SELECT * FROM sconv),
       cnt AS (SELECT from_s, to_s, count(*)::BIGINT AS c
         FROM alltr GROUP BY 1, 2),
       trans AS MATERIALIZED (SELECT from_s, to_s,
           (c * 1000000 // sum(c) OVER (PARTITION BY from_s))::BIGINT AS p_micro
         FROM cnt),
       states(s) AS (VALUES $stateVals),
       $chains,
       sel AS ($selRows),
       eff AS (SELECT channel,
           (SELECT p FROM it_base_$MarkovIters WHERE s = 'START') AS base_conv_micro,
           conv_wo_micro FROM sel),
       re AS (SELECT channel, base_conv_micro, conv_wo_micro,
           (CASE WHEN base_conv_micro > 0
                THEN (base_conv_micro - conv_wo_micro) * 1000000 // base_conv_micro
                ELSE 0 END)::BIGINT AS removal_effect_micro FROM eff)
       SELECT channel, base_conv_micro, conv_wo_micro, removal_effect_micro,
         (CASE WHEN sum(removal_effect_micro) OVER () > 0
              THEN removal_effect_micro * 1000000 // sum(removal_effect_micro) OVER ()
              ELSE 0 END)::BIGINT AS share_micro
       FROM re ORDER BY channel"""
  }

  /** q235 — SHAPLEY-VALUE attribution [Shapley 1953; Zhao et al.,
    * arXiv:1804.05327]: the order-free companion to q234's Markov
    * removal effects. Each CONVERTED user's journey is reduced to
    * the SET of channels touched before the first purchase; the
    * characteristic function v(S) counts the conversions reachable
    * using only channels in S (journeys whose touch set ⊆ S —
    * monotone by construction), and channel c's Shapley value is
    * the classic weighted marginal sum
    * Σ_{S ⊆ U∖{c}} |S|!·(n−1−|S|)!/n! · (v(S∪{c}) − v(S)).
    *
    * With the fixed 4-channel universe every weight is a multiple
    * of 1/24, so values are carried as EXACT integers in 1/24 units
    * (shap_x24) — no float touches the model, both engines agree
    * bit-for-bit, and efficiency (Σ_c φ_c = v(U) − v(∅)) is an
    * exact integer identity the spec asserts. Shares are integer
    * micro of the shap total; marginals are non-negative because v
    * is monotone.
    *
    * Scale shape: ONE user-keyed exchange (the q234 window) reduces
    * the corpus to per-user (mask, converted) rows; conversions
    * collapse to a ≤ 2⁴-row (mask, n_conv) table read once on the
    * driver (the bounded-scalar pattern), where the 32-term Shapley
    * sum is exact integer arithmetic; the 4-row result frame is
    * driver-built. At 100 TB the only corpus-sized cost is the one
    * windowed pass. */
  def q235ShapleyAttribution(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = s
    import spark.implicits._
    val wAll = Window.partitionBy(col("user_id"))
    val chanCode = MarkovChannels.zipWithIndex
      .foldLeft(lit(null).cast("long")) { case (acc, (c, i)) =>
        when(col("event_type") === c, lit(1L << i)).otherwise(acc)
      }
    val tagged = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("fc",
        min(when(col("event_type") === "purchase",
                 struct(col("ts"), col("event_id")))).over(wAll))
    // converted users only (v counts conversions); mask = OR of the
    // distinct pre-conversion channel codes, 0 for purchase-first
    val masks = tagged.filter(col("fc").isNotNull)
      .groupBy(col("user_id"))
      .agg(coalesce(sum_distinct(
             when(col("event_type") =!= "purchase" &&
                  struct(col("ts"), col("event_id")) < col("fc"), chanCode)),
           lit(0L)).as("mask"))
      .groupBy(col("mask")).agg(count(lit(1)).as("n_conv"))
    // ≤ 2^4 rows — the bounded scalar read
    val nConv = masks.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = MarkovChannels.length
    val full = (1 << n) - 1
    def v(setMask: Int): Long =
      nConv.iterator.collect {
        case (m, c) if (m & ~setMask.toLong) == 0L => c
      }.sum
    // 24·w(|S|) for n = 4: |S|!·(n−1−|S|)!·(24/n!) — exact integers
    val coef = (0 until n).map(k =>
      (1 to k).product.toLong * (1 to (n - 1 - k)).product.toLong)
    val shap = MarkovChannels.zipWithIndex.map { case (c, i) =>
      val bit = 1 << i
      val x24 = (0 to full).iterator
        .filter(sM => (sM & bit) == 0)
        .map(sM => coef(Integer.bitCount(sM)) * (v(sM | bit) - v(sM)))
        .sum
      (c, x24)
    }
    val total = shap.map(_._2).sum
    shap.map { case (c, x24) =>
      (c, x24, if (total > 0) x24 * 1000000L / total else 0L,
       v(full), v(0))
    }.toDF("channel", "shap_x24", "share_micro", "v_full", "v_empty")
      .orderBy(col("channel"))
  }

  /** DuckDB oracle for q235 — identical masks, v(S) table over all
    * 16 subsets, and the statically unrolled 32-term Shapley sum in
    * exact 1/24 units. */
  def q235OracleSql: String = {
    val n = MarkovChannels.length
    val full = (1 << n) - 1
    val codeCase = MarkovChannels.zipWithIndex
      .map { case (c, i) => s"WHEN '$c' THEN ${1L << i}" }.mkString(" ")
    val setVals = (0 to full).map(m => s"($m)").mkString(", ")
    val coef = (0 until n).map(k =>
      (1 to k).product.toLong * (1 to (n - 1 - k)).product.toLong)
    val termVals = MarkovChannels.zipWithIndex.flatMap { case (c, i) =>
      val bit = 1 << i
      (0 to full).filter(sM => (sM & bit) == 0).map { sM =>
        s"('$c', $sM, ${sM | bit}, ${coef(Integer.bitCount(sM))})"
      }
    }.mkString(", ")
    s"""WITH fc AS (SELECT user_id, ts AS c_ts, event_id AS c_id FROM (
           SELECT user_id, ts, event_id, row_number() OVER (
             PARTITION BY user_id ORDER BY ts, event_id) AS rn
           FROM events WHERE event_type = 'purchase') WHERE rn = 1),
       pm AS (SELECT e.user_id,
           sum(DISTINCT CASE e.event_type $codeCase END) AS mask
         FROM events e JOIN fc ON fc.user_id = e.user_id
         WHERE e.event_type <> 'purchase'
           AND (e.ts < fc.c_ts OR (e.ts = fc.c_ts AND e.event_id < fc.c_id))
         GROUP BY e.user_id),
       conv AS (SELECT fc.user_id, COALESCE(pm.mask, 0) AS mask
         FROM fc LEFT JOIN pm ON pm.user_id = fc.user_id),
       cnt AS (SELECT mask, count(*)::BIGINT AS n_conv FROM conv GROUP BY mask),
       sets(S) AS (VALUES $setVals),
       vtab AS (SELECT s.S,
           COALESCE(sum(CASE WHEN (c.mask & s.S) = c.mask THEN c.n_conv END),
                    0)::BIGINT AS v
         FROM sets s LEFT JOIN cnt c ON true GROUP BY s.S),
       terms(channel, s_wo, s_with, coef) AS (VALUES $termVals),
       shap AS (SELECT t.channel,
           sum(t.coef * (v1.v - v0.v))::BIGINT AS shap_x24
         FROM terms t
         JOIN vtab v1 ON v1.S = t.s_with
         JOIN vtab v0 ON v0.S = t.s_wo
         GROUP BY t.channel)
       SELECT channel, shap_x24,
         (CASE WHEN sum(shap_x24) OVER () > 0
              THEN shap_x24 * 1000000 // sum(shap_x24) OVER ()
              ELSE 0 END)::BIGINT AS share_micro,
         (SELECT v FROM vtab WHERE S = $full) AS v_full,
         (SELECT v FROM vtab WHERE S = 0) AS v_empty
       FROM shap ORDER BY channel"""
  }

  private val Q110K = 20

  /** q110 — session path mining: the most common event-type
    * sequences (first 5 events per session, joined with ">") across
    * all q30-style gap sessions — the navigation-pattern report a
    * product-analytics pipeline derives from a sessionized stream.
    * Paths truncate at 5 events BEFORE aggregation (a row_number
    * filter), so no collected array ever exceeds 5 entries no matter
    * how long a session runs — the bound that keeps per-group state
    * fixed at 100 TB. Two user-keyed windows share one shuffle (the
    * (user, session) window's clustering is satisfied by the user
    * hash partitioning); the path rollup and the top-20 are
    * tiny-cardinality aggregates.
    *
    * Array order inside a group is forced by sorting on the
    * in-session rank (array_sort over (rn, type) structs) — never by
    * collect order, which Spark does not define. */
  def q110SessionPaths(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val newSession = when(
      lag(col("ts"), 1).over(w).isNull ||
      col("ts") > lag(col("ts"), 1).over(w) + expr("INTERVAL 30 MINUTES"), 1L)
      .otherwise(0L)
    val wSess = Window.partitionBy(col("user_id"), col("session_id"))
      .orderBy(col("ts"), col("event_id"))
    val paths = Tables.events(s, dir)
      .withColumn("session_id", sum(newSession).over(w))
      .withColumn("rn", row_number().over(wSess))
      .filter(col("rn") <= 5)
      .groupBy(col("user_id"), col("session_id"))
      .agg(array_join(
             transform(array_sort(collect_list(struct(col("rn"), col("event_type")))),
                       x => x.getField("event_type")),
             ">").as("path"))
    val counts = paths.groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
    // TakeOrdered the k survivors FIRST; the rank window then runs
    // over k rows, not a single-partition sort of every distinct path
    val wTop = Window.orderBy(col("n_sessions").desc, col("path"))
    counts.orderBy(col("n_sessions").desc, col("path")).limit(Q110K)
      .withColumn("rk", row_number().over(wTop).cast("long"))
      .select(col("rk"), col("path"), col("n_sessions"))
      .orderBy(col("rk"))
  }

  /** q100 — hourly resample with gap fill + forward fill per user:
    * events are aggregated into hourly buckets, each user's
    * [first, last] hour span is densified into a spine
    * (`sequence` + `explode`, generated map-side so no row carries
    * more than its own span), the observed buckets are left-joined
    * back, and the last observed value is carried across gaps with
    * `last(ignoreNulls)` — the standard telemetry/feature resample
    * before windowed training joins.
    *
    * Scale shape: every stage is keyed by user_id — the hourly agg,
    * the span agg, the spine join and the fill window reuse one hash
    * partitioning, so AQE collapses this to a single exchange; state
    * per key is one row. Values are summed as integer micros
    * (`floor(v*1e6+0.5)`), so no cross-engine float accumulation
    * exists anywhere. No reference analogue (§2.7 absence).
    *
    * Contract: `is_gap` means "no observed hourly bucket" (the oracle
    * keys it on the LEFT-JOIN miss, aligned r6 per ADVICE r5), and
    * the forward-fill carries each observed bucket's value_micro
    * positionally — which equals last-non-null fill because
    * events.value is non-null by the table contract (an all-null
    * observed hour cannot occur; Tables.events would surface it as a
    * schema violation upstream). */
  def q100GapFill(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hourly = Tables.events(s, dir)
      .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("hour"))
      .agg(sum(floor(col("value") * lit(1e6d) + lit(0.5d)).cast("long"))
             .as("value_micro"),
           count(lit(1)).as("n_events"))
    // Each observed bucket OWNS the gap hours up to (exclusive) the
    // next observed bucket, so gap rows are generated by exploding
    // [hour, next_hour) from their predecessor — which also carries
    // the forward-filled value positionally. Two shuffles total
    // (hourly agg; the lead window re-keyed by user), no join, no
    // dense-spine build: the formulation a 100 TB resample wants,
    // since gap rows never exist before the map-side explode.
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("hour"))
    // persist the exploded spine before the total-order sort: the
    // range exchange's key-sampling job otherwise re-executes the
    // whole post-shuffle segment (window + explode + format) a
    // second time — the frame is output-sized (dense hourly spine),
    // so caching it costs less than recomputing the fan-out
    val filled = hourly
      .withColumn("next_hour", lead(col("hour"), 1).over(byUser))
      .select(col("user_id"), col("n_events"), col("value_micro"),
              col("hour").as("obs_hour"),
              explode(sequence(
                col("hour"),
                coalesce(col("next_hour") - expr("INTERVAL 1 HOUR"),
                         col("hour")),
                expr("INTERVAL 1 HOUR"))).as("hour"))
      .select(col("user_id"),
              date_format(col("hour"), "yyyy-MM-dd HH:mm").as("hour"),
              when(col("hour") === col("obs_hour"), col("n_events"))
                .otherwise(lit(0L)).as("n_events"),
              col("value_micro").as("filled_micro"),
              (col("hour") =!= col("obs_hour")).as("is_gap"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    filled.orderBy(col("user_id"), col("hour"))
  }

  /** q152 — statistical MODE per group with a deterministic tie-break
    * (highest count, then lexicographically first type): the
    * "most-common value" profiling primitive. Two cascaded
    * partial+final aggregations collapse events to (user, type)
    * counts — the per-user window then ranks at most |type domain|
    * rows per user, so the WindowExec input is domain-bounded, not
    * event-bounded. */
  def q152ModePerUser(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = Tables.events(s, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("n").desc, col("event_type"))
    counts.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type").as("mode_type"), col("n"))
      .orderBy(col("user_id"))
  }

  private val Q154TolSec = 300L

  /** q154 — as-of join WITH TOLERANCE (pandas merge_asof's `tolerance`
    * semantics): each click is matched to the SAME USER's most recent
    * view at most `tolSec` seconds earlier; staler views don't count.
    * Same single-pass union trick as q50 — both streams interleave in
    * one (user, time)-sorted window and `last(_, ignoreNulls)` carries
    * the view timestamp forward, so there is no range join and no
    * per-row probe: one shuffle on user_id total. The tolerance is a
    * post-filter on the carried timestamp — it cannot resurrect a
    * wrong match because carry-forward always holds the NEAREST
    * preceding view. */
  def q154AsofTolerance(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, dir)
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("k"), col("ts").as("t"),
              lit(null).cast("long").as("click_id"),
              col("ts").as("view_ts"), lit(0).as("is_click"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("k"), col("ts").as("t"),
              col("event_id").as("click_id"),
              lit(null).cast("timestamp").as("view_ts"), lit(1).as("is_click"))
    // equal timestamps: the view sorts first -> inclusive match
    val w = Window.partitionBy(col("k")).orderBy(col("t"), col("is_click"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    views.unionByName(clicks)
      .withColumn("asof_view", last(col("view_ts"), ignoreNulls = true).over(w))
      .filter(col("is_click") === 1)
      .select(col("click_id"), col("k").as("user_id"),
              date_format(col("t"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("click_ts"),
              when(col("asof_view").isNotNull &&
                   unix_timestamp(col("t")) - unix_timestamp(col("asof_view"))
                     <= Q154TolSec,
                   date_format(col("asof_view"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
                .as("view_ts"),
              when(col("asof_view").isNotNull &&
                   unix_timestamp(col("t")) - unix_timestamp(col("asof_view"))
                     <= Q154TolSec,
                   unix_timestamp(col("t")) - unix_timestamp(col("asof_view")))
                .as("gap_sec"))
      .orderBy(col("click_id"))
  }

  /** q161 — recency-decayed engagement score: each event contributes
    * 1e6 div (1 + age_days) where age is measured back from the
    * corpus's max event time (the deterministic "now"). Hyperbolic
    * decay instead of exponential ON PURPOSE: it is an exact integer
    * rational, so the score is bit-stable across engines — exp()'s
    * last-ulp libm drift is the only thing the classic e^(−λ·age)
    * buys, and the curves rank users near-identically.
    *
    * Scale shape: the anchor is a 1-row broadcast (scalar subquery
    * shape, no driver round-trip in the plan); the score is one
    * partial+final aggregation on user_id. */
  def q161DecayScore(s: SparkSession, dir: String): DataFrame = {
    val anchor = Tables.events(s, dir).agg(max(col("ts")).as("now"))
    Tables.events(s, dir)
      .crossJoin(broadcast(anchor))
      .select(col("user_id"),
              expr("1000000L div (1L + CAST(datediff(now, ts) AS BIGINT))")
                .as("w"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
           sum(col("w")).cast("long").as("decay_score"))
      .orderBy(col("decay_score").desc, col("user_id"))
  }

  /** q162 — longest consecutive-active-day streak per user, the
    * classic gaps-and-islands shape: distinct active days, then
    * `day - row_number()` is constant exactly within a run of
    * consecutive dates, so a groupBy on that anchor yields streak
    * lengths with no self-join and no iteration.
    *
    * Scale shape: the distinct and both aggregations all hash on
    * user_id (the window partitions by it too), so after the first
    * shuffle everything is co-partitioned — one exchange total, and
    * the per-user frame is ≤ number of active days (bounded by the
    * calendar, not the event volume). */
  def q162Streaks(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("d"))
    Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
      .withColumn("anchor", date_sub(col("d"), row_number().over(w)))
      .groupBy(col("user_id"), col("anchor"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("user_id"))
      .agg(sum(col("len")).cast("long").as("n_active_days"),
           max(col("len")).cast("long").as("longest_streak"))
      .orderBy(col("user_id"))
  }

  /** q167 — event-type TRANSITION MATRIX: for each user's event
    * sequence (ordered by ts, event_id), count consecutive
    * (from_type → to_type) pairs and emit the row-conditional
    * probability as an exact rational micro-int — the first-order
    * Markov model behind next-action prediction and anomalous-flow
    * detection (q110 mines whole path prefixes; this is the pairwise
    * generator view of the same chain).
    *
    * Scale shape: one shuffle on user_id for the lead() window, then
    * the pair counts collapse to |types|² rows — the per-from totals
    * come from a window over that tiny aggregate, not a second pass
    * over events. */
  def q167Transitions(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val wf = Window.partitionBy(col("from_type"))
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
              col("event_type").as("from_type"))
      .select(col("from_type"),
              lead(col("from_type"), 1).over(w).as("to_type"))
      .filter(col("to_type").isNotNull)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("prob_micro",
        floor(col("n") * lit(1000000L) / sum(col("n")).over(wf))
          .cast("long"))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** q172 — user-activity concentration: the exact Gini coefficient
    * of the per-user event-count distribution, the "how top-heavy is
    * this corpus/user-base" audit that decides whether per-user caps
    * or contributor-level dedup are needed before training (a handful
    * of power users dominating the event stream is the behavioural
    * twin of a boilerplate-dominated crawl).
    *
    * Gini needs every user's GLOBAL rank by activity — the same
    * total-order-prefix problem as the pack family, so it reuses
    * [[Sampling.distributedPrefix]]: per-bucket local ranks (bucket =
    * the count value itself, order-contiguous by construction) plus
    * broadcast per-bucket offsets; no single-partition window ever
    * sees the user table. The formula
    * G = (2·Σᵢ i·cᵢ − (n+1)·Σᵢ cᵢ) / (n·Σᵢ cᵢ) over counts sorted
    * ascending is evaluated in DECIMAL(38,0) (HUGEINT on the oracle) —
    * Σ i·cᵢ is O(n·total), past int64 at ~10⁹ users × 10⁹ events —
    * and emitted as an exact integer micro ratio.
    *
    * Scale shape: one map-combined aggregate over events (out:
    * |users| rows), the distributed-prefix rank (bucket totals frame
    * ≈ |distinct counts|), and a final single-row aggregate. */
  def q172UserGini(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.events(s, dir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("c"))
      .select(lit("all").as("source"), col("user_id"),
              col("c").cast("long").as("n_tokens"))
    // bucket = (count, user-id range): order-contiguous w.r.t. the
    // rank order, and the id-range term sub-splits the MODAL count
    // bucket — activity counts concentrate (a 10⁹-user event log
    // puts millions of users on the modal count; without the
    // sub-split one task would sort them alone — the q131 hapax
    // lesson applied to counts)
    Sampling.distributedPrefix(counts,
      struct(col("n_tokens"), expr("user_id div 1024L")),
      Seq(col("user_id")))
      .agg(count(lit(1)).cast("long").as("n_users"),
           sum(col("n_tokens")).cast("long").as("total_events"),
           // each factor is widened to decimal BEFORE the multiply:
           // the int64 product rn * n_tokens silently wraps (non-ANSI)
           // once rank·count exceeds 2^63, exactly the >10⁹-user
           // regime the decimal sum exists for (ADVICE r7)
           sum(col("rn").cast("decimal(38,0)") *
               col("n_tokens").cast("decimal(38,0)")).as("wsum"))
      .select(col("n_users"), col("total_events"),
        expr("""CAST((2 * wsum
                      - (CAST(n_users AS DECIMAL(38,0)) + 1)
                        * CAST(total_events AS DECIMAL(38,0))) * 1000000
                     div (CAST(n_users AS DECIMAL(38,0))
                          * CAST(total_events AS DECIMAL(38,0))) AS LONG)""")
          .as("gini_micro"))
  }

  /** q180 — peak session concurrency per day, by distributed sweep
    * line: how many user sessions are simultaneously open at the
    * busiest instant of each day — the capacity-planning number every
    * serving/ingest deployment sizes against. The naive formulation
    * is an interval self-join (|sessions|² candidate pairs, the q86
    * trap at corpus scale); the sweep line is linear: each session
    * [t_start, t_end] (q30's gap rule) emits +1 at start and −1 at
    * end, and the running sum of deltas in global (ts) order IS the
    * concurrency curve. Intervals are inclusive — at an exact tie a
    * starting session overlaps an ending one, so +1 sorts before −1.
    *
    * Scale shape: session boundaries come off ONE per-user lag+lead
    * window (one shuffle, no session-counter pass, no session
    * aggregation); the ±1 delta stream — 2 rows/session, orders of
    * magnitude below the event stream — takes exactly one more
    * shuffle (by HOUR bucket) for its local running-sum window, and
    * the same stage rolls each hour up to (max local prefix, hour
    * total). Everything beyond is a |hours|-row frame: carry-ins
    * are a bounded prefix window over it and the day peak is the max
    * of carry_in + local_max over the day's hours — pointwise equal
    * to sweeping every boundary, since the global running sum at any
    * in-hour point is its hour's carry-in plus the within-hour
    * prefix. One consumer per frame, so nothing is planned twice and
    * nothing persists; no corpus-sized single-partition window
    * anywhere, and a hot day splits across 24 tasks.
    * ([[Sampling.distributedPrefix]]'s shared-exchange formulation
    * is the right shape when the prefix VALUES for every input row
    * are the output — here it planned the sessionize lineage twice,
    * because the totals branch's row_number window survives while
    * the output branch prunes it, breaking the exchanges' canonical
    * equality — and its constant `source` column folded out of the
    * window spec, costing a second full-stream shuffle. The hourly
    * rollup needs neither.) Output is one row per day: max over
    * in-day points of the running concurrency (days without any
    * start/end boundary carry no point — at the events fixture's
    * density every day has thousands).
    *
    * Edge (ADVICE r8): the per-day peak is the max over BOUNDARY
    * points only. A day whose true maximum is the midnight carryover
    * level — sessions spanning midnight where the first in-day event
    * is a session END — reports the post-decrement value, not the
    * carried-over level itself. Engine and oracle share the
    * definition (both sweep boundary points), so the gate is exact;
    * day-accurate peaks would need a synthetic delta-0 probe point
    * at each midnight in BOTH engines. */
  def q180PeakConcurrency(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Session BOUNDARIES read directly off one lag+lead window pass:
    // an event STARTS a session iff its backward gap is null/>30min,
    // and ENDS one iff its forward gap is null/>30min (a singleton
    // event is both). t_start/t_end of the materialized sessions are
    // exactly these boundary events' timestamps, so the ±1 delta
    // stream is identical to the former sessionize → groupBy(user,
    // session) → explode chain — minus the running session counter
    // (a second WindowExec) and the whole-stream aggregation it fed.
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val prevTs = lag(col("ts"), 1).over(byUser)
    val nextTs = lead(col("ts"), 1).over(byUser)
    val deltas = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"),
        (prevTs.isNull ||
         col("ts") > prevTs + expr("INTERVAL 30 MINUTES")).as("st"),
        (nextTs.isNull ||
         nextTs > col("ts") + expr("INTERVAL 30 MINUTES")).as("en"))
      .filter(col("st") || col("en"))
      .select(col("ts"), col("user_id"), col("event_id"),
              explode(filter(array(
                struct(lit(1L).as("delta"), col("st").as("keep")),
                struct(lit(-1L).as("delta"), col("en").as("keep"))),
                x => x.getField("keep"))).as("b"))
      .select(date_trunc("hour", col("ts")).as("pb"), col("ts"),
              col("user_id"), col("event_id"),
              col("b.delta").as("delta"))
    // total order within a bucket: (ts, −delta, user, event) — starts
    // before ends at a tie (inclusive intervals), then a unique key.
    // (The oracle tie-breaks by session_id instead; the per-day MAX of
    // the running sum is invariant under permuting equal-(ts, delta)
    // rows — their partial sums are the same set either way.)
    val localW = Window.partitionBy(col("pb"))
      .orderBy(col("ts"), negate(col("delta")), col("user_id"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // One linear pipeline over the delta stream: the per-hour LOCAL
    // running-sum window (partitioned by hour — never corpus-wide),
    // then a same-stage per-hour rollup to (local_max, hour total).
    // Everything after is a |hours|-row frame: carry-ins are one
    // bounded prefix window over it, and the day peak is
    //   max over hours h in the day of carry_in(h) + local_max(h)
    // — identical to sweeping every boundary point, because the
    // global running sum at any in-hour point is carry_in + the
    // within-hour prefix. No second consumer of the delta stream, so
    // nothing persists and nothing is planned twice.
    val hourly = deltas
      .withColumn("loc_cum", sum(col("delta")).over(localW))
      .groupBy(col("pb"))
      .agg(max(col("loc_cum")).as("local_max"),
           sum(col("delta")).as("b_sum"))
    val offW = Window.orderBy(col("pb"))
      .rowsBetween(Window.unboundedPreceding, -1)
    hourly
      .select(date_format(col("pb"), "yyyy-MM-dd").as("day"),
              (coalesce(sum(col("b_sum")).over(offW), lit(0L))
                 + col("local_max")).as("peak"))
      .groupBy(col("day"))
      .agg(max(col("peak")).cast("long").as("peak_concurrency"))
      .orderBy(col("day"))
  }

  /** DuckDB oracle for q180 — q30's session CTE, the ±1 delta union,
    * one global running-sum window (the oracle may afford the
    * single-partition window the engine must not), max per day. */
  def q180OracleSql: String =
    """WITH x AS (SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       y AS (SELECT user_id, ts,
         CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
         FROM x),
       sess AS (SELECT user_id, session_id,
         min(ts) AS t_start, max(ts) AS t_end
         FROM y GROUP BY user_id, session_id),
       d AS (SELECT t_start AS ts, 1 AS delta, user_id, session_id FROM sess
             UNION ALL
             SELECT t_end AS ts, -1 AS delta, user_id, session_id FROM sess),
       r AS (SELECT ts,
         sum(delta) OVER (ORDER BY ts, -delta, user_id, session_id
                          ROWS UNBOUNDED PRECEDING) AS conc
         FROM d)
       SELECT strftime(ts, '%Y-%m-%d') AS day,
              max(conc)::BIGINT AS peak_concurrency
       FROM r GROUP BY 1 ORDER BY 1"""

  /** q197 — semi-structured ingestion through Spark 4's VARIANT type:
    * `parse_json` turns the payload into a binary variant ONCE and
    * `variant_get` extracts typed fields from it — the
    * schema-flexible path for payloads whose shape drifts, next to
    * q31's fixed-`StructType` `from_json` (which silently nulls any
    * field that moves). The aggregate is a per-(event_type, k-band)
    * profile: counts and min/max of the extracted value.
    *
    * Scale shape: parse + extract are map-side expression work
    * fused into the scan pass (VARIANT's binary encoding is built
    * for repeated sub-field access without re-parsing); the only
    * shuffle is the partial+final aggregate on the ~|types|·|bands|
    * grouped frame. The DuckDB oracle extracts the same field from
    * the same JSON text. */
  def q197VariantExtract(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_type"),
              expr("variant_get(parse_json(props), '$.k', 'bigint')").as("k"))
      .groupBy(col("event_type"), expr("k div 25").as("k_band"))
      .agg(count(lit(1)).as("n"), min(col("k")).as("min_k"),
           max(col("k")).as("max_k"))
      .orderBy(col("event_type"), col("k_band"))

  /** DuckDB oracle for q197 — the same typed extraction and banding
    * over the raw JSON text. */
  def q197OracleSql: String =
    """SELECT event_type,
         CAST(json_extract_string(props, '$.k') AS BIGINT) // 25 AS k_band,
         count(*)::BIGINT AS n,
         min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
         max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
       FROM events GROUP BY event_type, k_band ORDER BY event_type, k_band"""

  /** q205 — EWMA one-step-ahead forecast backtest over per-type
    * daily volumes, with the smoothing recursion made EXACT: α = 1/2
    * gives dyadic weights, so the 16-day-truncated EWMA scaled by
    * 2¹⁵ is the integer 2¹⁴·c_{t−1} + 2¹³·c_{t−2} + … + 1·c_{t−15}
    * + 1·c_{t−16} (the tail term absorbs the geometric remainder —
    * weights sum to exactly 2¹⁵; truncation error vs the infinite
    * recursion is < 2⁻¹⁶ of the oldest counts, far below the
    * forecast's own error). No float exp/pow ever decides a gated
    * value — the q161 determinism argument applied to the classic
    * exponential smoother. Backtests every day with ≥ 16 observed
    * predecessors: per type, the evaluated-day count, the total
    * scaled absolute error, the MAE in count-micros, and the last
    * in-sample one-step forecast. Forecasting runs over the OBSERVED
    * day sequence (lag over day order), so calendar gaps behave as
    * adjacent observations — documented, and identical in both
    * engines.
    *
    * Scale shape: the corpus-linear work is the one (type, day)
    * count aggregation; the 16-lag window and the rollup run on the
    * |types|·|days| daily frame — thousands of rows at any corpus
    * size, the same posture as q118's anomaly stats. */
  def q205EwmaForecast(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val wAll = Window.partitionBy(col("event_type"))
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
    val fc = (1 to 15)
      .map(i => lit(1L << (15 - i)) * lag(col("c"), i).over(w))
      .reduce(_ + _) + lag(col("c"), 16).over(w)
    daily
      .select(col("event_type"), col("c"),
              row_number().over(w).as("rn"), fc.as("fc"))
      .withColumn("rn_max", max(col("rn")).over(wAll))
      .filter(col("rn") >= 17)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_eval"),
           sum(abs(col("fc") - lit(32768L) * col("c"))).as("total_err_scaled"),
           expr("sum(abs(fc - 32768L * c)) * 1000000L div (32768L * count(*))")
             .as("mae_micro"),
           expr("max(CASE WHEN rn = rn_max THEN fc END) * 1000000L div 32768L")
             .as("last_fc_micro"))
      .orderBy(col("event_type"))
  }

  /** DuckDB oracle for q205 — identical dyadic lag chain and integer
    * error rollup. */
  def q205OracleSql: String = {
    val lags = (1 to 15)
      .map(i => s"${1L << (15 - i)} * lag(c, $i) OVER w").mkString(" + ") +
      " + lag(c, 16) OVER w"
    s"""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
         count(*)::BIGINT AS c FROM events GROUP BY event_type, day),
       f AS (SELECT event_type, day, c, row_number() OVER w AS rn,
           ($lags) AS fc
         FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)),
       g AS (SELECT *, max(rn) OVER (PARTITION BY event_type) AS rn_max FROM f)
       SELECT event_type, count(*)::BIGINT AS n_eval,
         sum(abs(fc - 32768 * c))::BIGINT AS total_err_scaled,
         (sum(abs(fc - 32768 * c)) * 1000000 // (32768 * count(*)))::BIGINT
           AS mae_micro,
         (max(CASE WHEN rn = rn_max THEN fc END) * 1000000 // 32768)::BIGINT
           AS last_fc_micro
       FROM g WHERE rn >= 17 GROUP BY event_type ORDER BY event_type"""
  }

  private val Q211Cap = 20
  private val Q211K = 25

  /** q211 — length-3 SEQUENTIAL pattern mining (the PrefixSpan /
    * SPAM problem family [Pei et al., ICDE 2001]): which ordered
    * event-type triples a>b>c (order preserved, gaps allowed) occur
    * in the most users' event streams. Support counts USERS, not
    * occurrences — each user's pattern set is dedup'd before the
    * count, the standard sequence-mining semantics. Every user's
    * stream is capped at its first 20 events (by time, event_id
    * ties) so the per-user candidate fan-out is bounded at
    * C(20,3) = 1,140 regardless of how heavy the user is.
    *
    * Scale shape: the stream cap runs as the BOUNDED
    * [[graft.functions.BottomK]] aggregate over (ts, event_id,
    * event_type): the per-user aggregation buffer is ≤ cap
    * structs at every moment, combines map-side (≤ cap rows per user
    * per partition cross the shuffle), and rejects a past-the-head
    * row with one comparison — so a whale user with 10⁸ events costs
    * O(1) per row and 20 structs of state, never a stream-sized
    * collect_list buffer (the r10 verdict's aggregation-state-skew
    * class). Subsequence enumeration is a pure map-side HOF over the
    * ≤20-element array (no self-joins — the positional triple join a
    * DB would run is collapsed into nested `transform`s inside one
    * task); support is a single count aggregation on the exploded
    * pattern stream. At 100 TB only (pattern, user) pairs cross the
    * shuffle, capped at 1,140 per user. */
  def q211SeqPatterns(s: SparkSession, dir: String,
                      cap: Int = Q211Cap, k: Int = Q211K): DataFrame = {
    // single user-keyed BOUNDED aggregation: first `cap` events by
    // (ts, event_id) — event_id unique ⇒ ties impossible; buffer
    // never exceeds `cap` structs however hot the user is
    val seqs = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(bottomK(struct(col("ts"), col("event_id"), col("event_type")), cap)
             .as("seq"))
      .select(col("user_id"), col("seq.event_type").as("sq"))
    // codegen'd triple enumeration ([[graft.functions.SeqTriples]] —
    // bit-identical to the former array_distinct(flatten(flatten(
    // nested transforms))) chain, without 3 levels of interpreted
    // lambdas or the O(n³) array_distinct rescan; guide step 4)
    seqs
      .select(col("user_id"),
        explode(graft.functions.VectorFunctions.seqTriples(col("sq")))
          .as("pattern"))
      .groupBy(col("pattern"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("pattern"))
      .limit(k)
  }

  /** DuckDB oracle for q211 — the same capped streams, with the
    * HOF enumeration expressed as the classic positional triple
    * self-join and per-user DISTINCT. */
  def q211OracleSql: String =
    s"""WITH ev AS (SELECT user_id AS u, event_type AS t,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn FROM events),
       sq AS (SELECT u, rn, t FROM ev WHERE rn <= $Q211Cap),
       pat AS (SELECT DISTINCT a.u,
           a.t || '>' || b.t || '>' || c.t AS pattern
         FROM sq a
         JOIN sq b ON a.u = b.u AND b.rn > a.rn
         JOIN sq c ON b.u = c.u AND c.rn > b.rn)
       SELECT pattern, count(*)::BIGINT AS n_users
       FROM pat GROUP BY pattern
       ORDER BY n_users DESC, pattern LIMIT $Q211K"""

  /** q219 — MARKOV NEXT-EVENT PREDICTION EVAL: train a first-order
    * transition model on the hash-split train users (q76's
    * content-hash discipline applied to user ids — assignment is
    * layout- and engine-independent), predict each test transition's
    * next event type as the train argmax for its source type (ties
    * by type name — a total deterministic rule), and report per
    * source type the top-1 accuracy in exact integer micros. This is
    * the eval-harness shape every training pipeline needs: fit on
    * one split, score on the other, no leakage (q121's concern), all
    * integer-exact so both engines agree bit-for-bit.
    *
    * Scale shape: transitions come from one per-user ordered window
    * (user-keyed — the q167 shape); the fitted model is |types|²
    * rows, its argmax a tiny aggregation that BROADCASTS back onto
    * the test transition stream; accuracy is one keyed count
    * aggregation. Nothing after the transition build exceeds
    * |types|² except the map-side test scoring pass. */
  def q219MarkovEval(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val trans = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
              col("event_type").as("from_type"),
              pmod(conv(substring(md5(col("user_id").cast("string")), 29, 4),
                        16, 10).cast("long"), lit(100L)).as("bucket"))
      .select(col("user_id"), col("bucket"), col("from_type"),
              lead(col("from_type"), 1).over(w).as("to_type"))
      .filter(col("to_type").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // argmax next type per source on the TRAIN split (bucket < 80),
    // ties by type name
    val wincount = Window.partitionBy(col("from_type"))
      .orderBy(col("n").desc, col("to_type"))
    val model = trans.filter(col("bucket") < 80)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(wincount))
      .filter(col("rn") === 1)
      .select(col("from_type"), col("to_type").as("pred_type"),
              col("n").as("train_n"))
    trans.filter(col("bucket") >= 80)
      .join(broadcast(model), Seq("from_type"), "left")
      .groupBy(col("from_type"))
      .agg(count(lit(1)).as("n_test"),
           // when() (not a bare boolean cast): a from_type absent
           // from the train model predicts null, and the null
           // comparison must count 0, not poison the sum
           sum(when(col("to_type") === col("pred_type"), 1L).otherwise(0L))
             .as("n_hit"),
           max(col("pred_type")).as("pred_type"))
      .select(col("from_type"), col("pred_type"), col("n_test"), col("n_hit"),
              expr("n_hit * 1000000L div n_test").as("acc_micro"))
      .orderBy(col("from_type"))
  }

  /** DuckDB oracle for q219 — identical hash split, window
    * transitions, argmax model, and integer accuracy. */
  def q219OracleSql: String =
    """WITH tr AS (SELECT user_id,
         ('0x' || substr(md5(user_id::VARCHAR), 29, 4))::BIGINT % 100
           AS bucket,
         event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS to_type
         FROM events),
       t AS (SELECT * FROM tr WHERE to_type IS NOT NULL),
       cnt AS (SELECT from_type, to_type, count(*)::BIGINT AS n
         FROM t WHERE bucket < 80 GROUP BY from_type, to_type),
       model AS (SELECT from_type, to_type AS pred_type, n AS train_n
         FROM (SELECT *, row_number() OVER (PARTITION BY from_type
                 ORDER BY n DESC, to_type) AS rn FROM cnt) WHERE rn = 1)
       SELECT t.from_type, max(pred_type) AS pred_type,
         count(*)::BIGINT AS n_test,
         sum(CASE WHEN to_type = pred_type THEN 1 ELSE 0 END)::BIGINT
           AS n_hit,
         CAST(sum(CASE WHEN to_type = pred_type THEN 1 ELSE 0 END)
              * 1000000 // count(*) AS BIGINT) AS acc_micro
       FROM t LEFT JOIN model ON model.from_type = t.from_type
       WHERE bucket >= 80
       GROUP BY t.from_type ORDER BY t.from_type"""

  /** The Kaplan–Meier product-limit fold shared by q237 and its spec:
    * `subjects` carries one row per subject — (observed 0/1, dur_h) —
    * and the result is the life table at each event time t (ascending)
    * with the survival estimate in truncating integer micros:
    * S_i = floor(S_{i−1} · (n_i − d_i) / n_i), S_0 = 1e6. n_risk
    * counts every subject (censored included) with duration ≥ t —
    * the standard tie convention (same-time censorings count as still
    * at risk). The descending cumulative count runs as one
    * single-partition window over the life-table spine (≤ one row per
    * distinct duration — observation-window-bounded, 168 h here, the
    * q193 spine argument), and the sequential product folds on the
    * driver over those same ≤ 169 collected rows — the q234
    * bounded-scalar pattern, never a corpus-sized collect. The fold
    * is exact in longs: S ≤ 1e6 and n ≤ 9e12 keep S·(n−d) < 2⁶³. */
  private[ops] def kmCurve(s: SparkSession, subjects: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("dur_h").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val lifeRows = subjects
      .groupBy(col("dur_h"))
      .agg(count(lit(1)).as("n_all"), sum(col("observed")).as("n_ev"))
      .withColumn("n_risk", sum(col("n_all")).over(w))
      .filter(col("n_ev") > 0)
      .select(col("dur_h"), col("n_risk"), col("n_ev"))
      .orderBy(col("dur_h"))
      .collect()
    var sMicro = 1000000L
    val out = lifeRows.map { r =>
      val (t, n, d) = (r.getLong(0), r.getLong(1), r.getLong(2))
      sMicro = sMicro * (n - d) / n
      (t, n, d, sMicro)
    }.toSeq
    import s.implicits._
    out.toDF("duration_h", "n_risk", "n_events", "survival_micro")
      .orderBy(col("duration_h"))
  }

  /** q237 — KAPLAN–MEIER survival [Kaplan & Meier, JASA 1958]:
    * time-to-first-purchase from each user's first event, RIGHT-
    * CENSORED at a fixed observation cutoff (2024-01-08) — the
    * estimator product analytics reaches for when "median time to
    * convert" must not be biased by users who simply haven't
    * converted YET (q133's uncensored mean silently drops them).
    * Subjects: users whose first event precedes the cutoff; event =
    * first purchase ≤ cutoff; otherwise censored at the cutoff, with
    * hour-granularity durations. Output: one row per event time —
    * (duration_h, n_risk, n_events, survival_micro) with the
    * truncating integer product-limit estimate (recurrence in
    * [[kmCurve]]; the oracle replays it as a recursive CTE).
    *
    * Scale shape: one user-keyed aggregate (first event / first
    * purchase — map-side partials do the work), then everything
    * downstream lives on the ≤ 169-row life-table spine. */
  def q237KmSurvival(s: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("2024-01-08").cast("timestamp")
    val subjects = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(min(col("ts")).as("t0"),
           min(when(col("event_type") === "purchase", col("ts"))).as("tp"))
      .filter(col("t0") < cutoff)
      .select(
        when(col("tp").isNotNull && col("tp") <= cutoff, 1L).otherwise(0L)
          .as("observed"),
        expr("(unix_micros(least(coalesce(tp, " +
             "timestamp'2024-01-08'), timestamp'2024-01-08')) - " +
             "unix_micros(t0)) div 3600000000").as("dur_h"))
    kmCurve(s, subjects)
  }

  /** DuckDB oracle for q237 — identical subjects and life table; the
    * sequential product-limit recurrence replays as a recursive CTE
    * over the row-numbered event times (all-integer, same floors). */
  def q237OracleSql: String =
    """WITH RECURSIVE u AS (SELECT user_id, min(ts) AS t0,
         min(ts) FILTER (WHERE event_type = 'purchase') AS tp
       FROM events GROUP BY 1),
     e AS (SELECT
         (CASE WHEN tp IS NOT NULL AND tp <= TIMESTAMP '2024-01-08'
               THEN 1 ELSE 0 END)::BIGINT AS observed,
         (epoch_us(least(coalesce(tp, TIMESTAMP '2024-01-08'),
                         TIMESTAMP '2024-01-08')) - epoch_us(t0))
           // 3600000000 AS dur_h
       FROM u WHERE t0 < TIMESTAMP '2024-01-08'),
     c AS (SELECT dur_h, count(*)::BIGINT AS n_all,
         sum(observed)::BIGINT AS n_ev FROM e GROUP BY 1),
     lt AS (SELECT dur_h, n_ev,
         sum(n_all) OVER (ORDER BY dur_h DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
           AS n_risk
       FROM c),
     ev AS (SELECT dur_h, n_risk, n_ev,
         row_number() OVER (ORDER BY dur_h) AS i
       FROM lt WHERE n_ev > 0),
     rec AS (
       SELECT i, dur_h, n_risk, n_ev,
         (1000000 * (n_risk - n_ev)) // n_risk AS s
       FROM ev WHERE i = 1
       UNION ALL
       SELECT ev.i, ev.dur_h, ev.n_risk, ev.n_ev,
         (rec.s * (ev.n_risk - ev.n_ev)) // ev.n_risk
       FROM rec JOIN ev ON ev.i = rec.i + 1)
     SELECT dur_h AS duration_h, n_risk, n_ev AS n_events,
       s AS survival_micro
     FROM rec ORDER BY duration_h"""

  /** The one-sided CUSUM fold shared by q238 and its spec, over a
    * 0-filled per-(event_type, day) count frame. The textbook
    * recurrence S_d = max(0, S_{d−1} + (x_d − μ − k)) is inherently
    * sequential, but it has a closed DISTRIBUTED form:
    *   S_d = P_d − min(0, min_{j ≤ d} P_j),  P_d = Σ_{i ≤ d} r_i —
    * a running sum plus a running min, two window passes over ONE
    * (event_type)-keyed exchange, no driver fold, no iteration
    * (contrast q234/q237, whose recurrences have no such identity
    * and fold over bounded spines instead). All arithmetic is
    * integer-exact by scaling each residual by 10·D: with per-type
    * total T over D days, μ = T/D and k = μ/10 give
    * r_d = 10·D·x_d − 11·T. Overflow headroom: |P| ≤ 11·T·10 —
    * daily counts of 1e12 over a year stay < 2⁶³. */
  private[ops] def cusumOverDaily(filled: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wT = Window.partitionBy(col("event_type"))
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("day"))
    filled
      .withColumn("t_tot", sum(col("n")).over(wT))
      .withColumn("n_days", count(lit(1)).over(wT))
      .withColumn("p",
        sum(col("n") * col("n_days") * 10 - col("t_tot") * 11).over(wOrd))
      .select(col("event_type"),
              date_format(col("day"), "yyyy-MM-dd").as("day"),
              col("n").as("n_events"),
              (col("p") - least(lit(0L), min(col("p")).over(wOrd)))
                .as("cusum_scaled"),
              col("t_tot"))
      .select(col("event_type"), col("day"), col("n_events"),
              col("cusum_scaled"),
              (col("cusum_scaled") > col("t_tot") * 10).cast("long")
                .as("alarm"))
      .orderBy(col("event_type"), col("day"))
  }

  /** 0-filled per-(event_type, day) counts over the generated
    * day spine (shared by q238/q240): a silent dead day is signal for
    * both a CUSUM and a forecaster, so absent (type, day) pairs
    * become explicit zeros. The spine is calendar-bounded (types ×
    * days), never corpus-sized; the heavy work is the one groupBy. */
  private[ops] def dailyCounts0Filled(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_type"), date_trunc("DAY", col("ts")).as("day"))
    val daily = ev.groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"))
    val span = ev.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val spine = ev.select(col("event_type")).distinct()
      .crossJoin(broadcast(span))
      .select(col("event_type"),
              explode(sequence(col("d0"), col("d1"),
                               expr("interval 1 day"))).as("day"))
    spine.join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"),
              coalesce(col("n"), lit(0L)).as("n"))
  }

  /** q238 — CUSUM change-point detection [Page, Biometrika 1954] on
    * per-type daily event counts: the sequential-analysis control
    * chart that catches a SUSTAINED mean shift long before any
    * single day crosses q118's z-score fence (a +1σ drift alarms a
    * z-test never and a CUSUM in ~O(μ/σ) days). Days are a generated
    * 0-filled spine (a silent dead day is signal, not absence);
    * reference mean μ and slack k = μ/10 come from the per-type
    * totals (two-phase, like q118); the alarm threshold is h = μ
    * scaled. On this fixture's uniform traffic the alarm column is
    * honestly all-zero — no sustained shift exists to find — so the
    * DETECTION behavior is pinned in EventOpsSpec on a planted
    * +50% shift, while this gate pins the cross-engine numerics of
    * the full cusum curve. Implementation and the distributed-form
    * argument: [[cusumOverDaily]]. */
  def q238CusumShift(s: SparkSession, dir: String): DataFrame =
    cusumOverDaily(dailyCounts0Filled(s, dir))

  /** DuckDB oracle for q238 — identical spine, scaling, and the same
    * running-sum/running-min closed form. */
  def q238OracleSql: String =
    """WITH ev AS (SELECT event_type, date_trunc('day', ts) AS day
         FROM events),
     daily AS (SELECT event_type, day, count(*)::BIGINT AS n
       FROM ev GROUP BY 1, 2),
     span AS (SELECT min(day) AS d0, max(day) AS d1 FROM ev),
     spine AS (SELECT event_type,
         unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
       FROM (SELECT DISTINCT event_type FROM ev), span),
     filled AS (SELECT s.event_type, s.day, coalesce(n, 0)::BIGINT AS n
       FROM spine s LEFT JOIN daily USING (event_type, day)),
     st AS (SELECT event_type, sum(n)::BIGINT AS t_tot,
         count(*)::BIGINT AS n_days FROM filled GROUP BY 1),
     p AS (SELECT f.event_type, f.day, f.n, st.t_tot,
         sum(f.n * st.n_days * 10 - st.t_tot * 11)
           OVER (PARTITION BY f.event_type ORDER BY f.day)::BIGINT AS p
       FROM filled f JOIN st USING (event_type)),
     c AS (SELECT event_type, day, n, t_tot,
         (p - least(0, min(p) OVER (PARTITION BY event_type
            ORDER BY day)))::BIGINT AS cusum
       FROM p)
     SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
       n AS n_events, cusum AS cusum_scaled,
       (cusum > t_tot * 10)::BIGINT AS alarm
     FROM c ORDER BY event_type, day"""

  /** The Holt double-exponential fold shared by q240 and its spec:
    * `filled` is the 0-filled (event_type, day, n) frame, and per
    * type the coupled level/trend recurrences run in FLOOR-division
    * integer micros with α = 1/5, β = 1/10:
    *   l_d = ⌊(2·x_d·1e6 + 8·(l_{d−1} + b_{d−1})) / 10⌋
    *   b_d = ⌊((l_d − l_{d−1}) + 9·b_{d−1}) / 10⌋
    * initialised l_1 = x_1·1e6, b_1 = (x_2 − x_1)·1e6. TRUNCATING
    * division, pinned deliberately because the trend goes negative:
    * DuckDB's `//` truncates toward zero on negatives (measured:
    * −7 // 2 = −3), exactly like Scala's `/` — a floorDiv here
    * diverges by one ulp on the first negative trend and cascades
    * through the recurrence. Unlike
    * q205's EWMA — whose geometric weights truncate into a dyadic
    * lag chain with NO recursion — the coupled pair has no such
    * closed form, so it folds on the driver over the collected
    * spine: calendar-bounded rows (types × days), never corpus-sized
    * (the q234/q237 bounded-scalar pattern). Headroom: 8·(l+b) < 2⁶³
    * holds to ~5e11 events/day at micro precision. */
  private[ops] def holtFold(s: SparkSession, filled: DataFrame): DataFrame = {
    // the day label is formatted ENGINE-side (session timezone), not
    // with a JVM-default-zone formatter on the driver
    val rows = filled
      .select(col("event_type"),
              date_format(col("day"), "yyyy-MM-dd").as("day"), col("n"))
      .orderBy(col("event_type"), col("day")).collect()
    val out = rows.groupBy(_.getString(0)).toSeq.sortBy(_._1).flatMap {
      case (typ, rs) =>
        val days = rs.sortBy(_.getString(1))
        val x = days.map(_.getLong(2) * 1000000L)
        var l = x(0)
        var b = if (x.length > 1) x(1) - x(0) else 0L
        days.zipWithIndex.map { case (r, i) =>
          if (i >= 1) {
            val lPrev = l
            l = (2L * x(i) + 8L * (l + b)) / 10L
            b = ((l - lPrev) + 9L * b) / 10L
          }
          (typ, r.getString(1), r.getLong(2), l, b, l + b)
        }
    }
    import s.implicits._
    out.toDF("event_type", "day", "n_events", "level_micro",
             "trend_micro", "forecast_next_micro")
      .orderBy(col("event_type"), col("day"))
  }

  /** q240 — HOLT double exponential smoothing [Holt 1957; Winters,
    * Mgmt Sci 1960] on per-type daily counts: the trend-aware
    * upgrade of q205's flat EWMA — a steadily growing series leaves
    * a level-only forecast permanently one trend-step behind, while
    * Holt's coupled level+trend tracks it exactly (the spec pins
    * that property on a planted linear ramp). Emits the fitted
    * level/trend path and the one-step-ahead forecast per day, in
    * floor-division integer micros replayed bit-for-bit by the
    * oracle's recursive CTE. Recurrence, scaling and the
    * bounded-spine argument: [[holtFold]]. */
  def q240HoltTrend(s: SparkSession, dir: String): DataFrame =
    holtFold(s, dailyCounts0Filled(s, dir))

  /** DuckDB oracle for q240 — identical spine; the coupled
    * recurrences replay as one recursive CTE keyed by (type, row
    * index), with `//` (truncating) matching Scala's long division. */
  def q240OracleSql: String =
    """WITH RECURSIVE ev AS (SELECT event_type,
         date_trunc('day', ts) AS day FROM events),
     daily AS (SELECT event_type, day, count(*)::BIGINT AS n
       FROM ev GROUP BY 1, 2),
     span AS (SELECT min(day) AS d0, max(day) AS d1 FROM ev),
     spine AS (SELECT event_type,
         unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
       FROM (SELECT DISTINCT event_type FROM ev), span),
     filled AS (SELECT s.event_type, s.day, coalesce(n, 0)::BIGINT AS n,
         row_number() OVER (PARTITION BY s.event_type ORDER BY s.day)
           AS i
       FROM spine s LEFT JOIN daily USING (event_type, day)),
     rec AS (
       -- LEFT JOIN + coalesce: a one-day spine has no i = 2 row, and
       -- the Scala fold emits (l = x1, b = 0) for it — an inner join
       -- here would return zero rows and diverge from the engine
       SELECT f1.event_type, f1.i, f1.day, f1.n,
         (f1.n * 1000000)::BIGINT AS l,
         (coalesce(f2.n - f1.n, 0) * 1000000)::BIGINT AS b
       FROM filled f1 LEFT JOIN filled f2
         ON f2.event_type = f1.event_type AND f2.i = 2
       WHERE f1.i = 1
       UNION ALL
       SELECT f.event_type, f.i, f.day, f.n,
         ((2 * f.n * 1000000 + 8 * (rec.l + rec.b)) // 10)::BIGINT,
         (((((2 * f.n * 1000000 + 8 * (rec.l + rec.b)) // 10) - rec.l)
           + 9 * rec.b) // 10)::BIGINT
       FROM rec JOIN filled f
         ON f.event_type = rec.event_type AND f.i = rec.i + 1)
     SELECT event_type, strftime(day, '%Y-%m-%d') AS day, n AS n_events,
       l AS level_micro, b AS trend_micro,
       (l + b)::BIGINT AS forecast_next_micro
     FROM rec ORDER BY event_type, day"""

  private val Q244Bins = 4096

  /** q244 — two-sample KOLMOGOROV–SMIRNOV drift test [Kolmogorov
    * 1933; Smirnov 1939] per event type: did the VALUE DISTRIBUTION
    * shift between the first and second half of the month? D =
    * max_v |ECDF_A(v) − ECDF_B(v)| — the standard nonparametric
    * drift alarm for model-input monitoring, complementing q238
    * (CUSUM detects volume shifts; KS detects shape shifts at equal
    * volume) and q109 (token drift is the text twin). ECDFs are
    * BINNED: values quantize to `bins` = 4096 equal-width buckets
    * over the two-phase global [min, max] (the A2 scalar pattern),
    * so the cumulative spine is (types × 4096)-bounded REGARDLESS of
    * corpus size — the exact per-value ECDF would put a type's every
    * distinct value through one window partition, the classic
    * global-order-statistic scale trap; quantization is identical in
    * both engines, so the gate is exact on the binned statistic.
    * All-integer: deviations compare |ca·n_b − cb·n_a| (exact cross-
    * multiplied ECDF differences; the deviation itself fits int64 to
    * ~3e9 rows per side, past which the q222 DECIMAL move applies),
    * and ks_micro = max_dev·1e6 div (n_a·n_b) runs in DECIMAL(38,0)
    * internals from the start: max_dev·1e6 leaves int64 a MILLION
    * times earlier than the deviation (whenever n_a·n_b·D > 9.2e12 —
    * e.g. 1e7 rows/side at D = 0.1), the q222/ADVICE-r11 overflow
    * class, so the widening is not deferred and EventOpsSpec pins it
    * at planted large counts. Ties on the arg-max bin break to the
    * smallest bin. */
  def q244KsDrift(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, dir)
      .select(col("event_type"),
              floor(col("value") * 1000000d + 0.5d).cast("long").as("v"),
              (col("ts") < lit("2024-01-16").cast("timestamp"))
                .cast("long").as("is_a"))
    val mm = ev.agg(min(col("v")), max(col("v"))).first()
    val (vMin, width) = (mm.getLong(0), mm.getLong(1) - mm.getLong(0) + 1)
    val wT = Window.partitionBy(col("event_type"))
    val wC = Window.partitionBy(col("event_type")).orderBy(col("bin"))
    val dev = ev
      .select(col("event_type"), col("is_a"),
              expr(s"((v - ${vMin}L) * $Q244Bins) div ${width}L").as("bin"))
      .groupBy(col("event_type"), col("bin"))
      .agg(sum(col("is_a")).as("a"), sum(lit(1L) - col("is_a")).as("b"))
      .withColumn("na", sum(col("a")).over(wT))
      .withColumn("nb", sum(col("b")).over(wT))
      .withColumn("ca", sum(col("a")).over(wC))
      .withColumn("cb", sum(col("b")).over(wC))
      .withColumn("dev", abs(col("ca") * col("nb") - col("cb") * col("na")))
      .withColumn("maxdev", max(col("dev")).over(wT))
    dev.groupBy(col("event_type"))
      .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
           // nullif: a type missing from one half (n_a·n_b = 0) must
           // yield NULL like DuckDB's `//`, not an ANSI
           // DIVIDE_BY_ZERO that fails the whole query (ADVICE r12)
           expr("CAST(max(dev) AS DECIMAL(38,0)) * 1000000 div " +
                "nullif(CAST(max(na) AS DECIMAL(38,0)) * max(nb), 0)")
             .as("ks_micro"),
           min(when(col("dev") === col("maxdev"), col("bin"))).as("ks_bin"))
      .orderBy(col("event_type"))
  }

  /** DuckDB oracle for q244 — identical binning, cross-multiplied
    * deviations and tie rule. */
  def q244OracleSql: String =
    s"""WITH ev AS (SELECT event_type,
         CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS v,
         (ts < TIMESTAMP '2024-01-16')::BIGINT AS is_a FROM events),
       mm AS (SELECT min(v) AS vmin, max(v) - min(v) + 1 AS width FROM ev),
       b AS (SELECT event_type, ((v - vmin) * $Q244Bins) // width AS bin,
           sum(is_a)::BIGINT AS a, sum(1 - is_a)::BIGINT AS bb
         FROM ev, mm GROUP BY 1, 2),
       c AS (SELECT event_type, bin,
           sum(a) OVER (PARTITION BY event_type)::BIGINT AS na,
           sum(bb) OVER (PARTITION BY event_type)::BIGINT AS nb,
           sum(a) OVER (PARTITION BY event_type ORDER BY bin)::BIGINT AS ca,
           sum(bb) OVER (PARTITION BY event_type ORDER BY bin)::BIGINT AS cb
         FROM b),
       d AS (SELECT event_type, bin, na, nb,
           abs(ca * nb - cb * na) AS dev,
           max(abs(ca * nb - cb * na))
             OVER (PARTITION BY event_type) AS maxdev
         FROM c)
       SELECT event_type, max(na) AS n_a, max(nb) AS n_b,
         CAST(CAST(max(dev) AS HUGEINT) * 1000000
              // nullif(CAST(max(na) AS HUGEINT) * max(nb), 0) AS BIGINT)
           AS ks_micro,
         min(CASE WHEN dev = maxdev THEN bin END)::BIGINT AS ks_bin
       FROM d GROUP BY event_type ORDER BY event_type"""
}
