package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line with per-query wall
  * seconds. Each query is fully executed via a noop-format write
  * (count() would let Spark prune projections; noop materializes
  * every output column through the whole plan).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()
    // Optional subset filters for local iteration (`SparkEntry.select`):
    //   SPARK_GRAFT_BENCH_ONLY=q51,q57 times just those queries;
    //   SPARK_GRAFT_BENCH_SKIP=q59 drops queries whose OUTPUT is
    //   adjudicated infeasible on a fixture (q59 on a Zipf corpus
    //   emits ~1.6e8 pairs — SCALE.md round 13).
    val selected = SparkEntry.select(sys.env.get("SPARK_GRAFT_BENCH_ONLY"),
                                     sys.env.get("SPARK_GRAFT_BENCH_SKIP")).sortBy(_.name)
    // Batch queries are warmed AND timed before any streaming query
    // runs: a started streaming query leaves state-store maintenance
    // threads and state memory in the JVM, which is cross-talk the
    // batch timings must not absorb (VERDICT r2 #2 — the suspected
    // mechanism behind the driver-side r2 drift).
    val (streamingQs, batchQs) = selected.partition(_.streaming)
    // min of N runs per query: steady-state timing, robust to GC /
    // scheduler noise in a 32-thread local JVM. A query that throws
    // reports -1 (sentinel) and its error — never the fast-failure
    // elapsed time (ADVICE r1).
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt
    // The streaming family runs a HIGHER floor of per-run samples
    // (at least 3, VERDICT r12 #6): its per-query times are dominated
    // by a ~0.5 s/trigger session fixed cost whose round-over-round
    // deltas are sub-second — exactly the scale of this box's noise
    // bursts — so two samples cannot adjudicate a streaming
    // regression claim. One extra sample on 14 queries costs ~20 s
    // and makes the min a real steady-state estimate.
    val streamRuns = math.max(runs, 3)
    // Crosstalk guards (VERDICT r6 #4): per-query GC-time deltas make
    // allocation-storm inflation visible next to the wall time, and
    // the full GC between queries stops one query's garbage taxing
    // its lexicographic successors. The barrier always runs (the
    // default since r9, VERDICT r8 #2 — the r8 gate run regressed
    // 1.43× driver-side while a min-of-2 re-run read flat; the
    // unarmed barrier was half that ambiguity).
    // Calibration probe (VERDICT r13 #1): a fixed, data-independent
    // CPU + shuffle micro-bench run BEFORE the board, emitted into the
    // bench JSON as `calib`. Round-over-round comparisons divide by
    // `factor` (= this run's probe seconds / the reference probe
    // seconds) instead of inferring the box speed post-hoc from the
    // very queries being judged — r13's raw 223.4 s vs r12's 145.8 s
    // was ~1.5× box contention that needed exactly this measurement.
    //   - cpu leg: 144M rows × 8 chained xxhash64 mixes, no exchange —
    //     whole-stage-codegen arithmetic throughput;
    //   - shuffle leg: 24M rows hashed into 1M keys, two-level
    //     aggregate — exchange write/read + hash-agg throughput;
    //   - latency leg: 60 SERIAL tiny jobs (32 trivial tasks each) —
    //     scheduler round-trip + task-launch latency, the cost model
    //     of a streaming micro-batch commit cycle. Box contention that
    //     steals only a few cores barely moves the parallel legs but
    //     inflates every serial handoff — exactly the mode that makes
    //     the streaming family read 2-3× slower while cpu/shuffle
    //     read ~1.05× (measured r14).
    // All three are deterministic in work (row counts and expressions
    // are constants); min-of-3 discards scheduler noise bursts.
    // CALIB_REF is the probe's seconds on the round-14 build box
    // measured while quiet — a constant, so `factor` means "this run's
    // box is N× slower than the reference box", comparable across all
    // rounds that carry the probe. Adjudicate batch queries against
    // the cpu+shuffle legs, streaming queries against the latency leg.
    def calibProbe(): (Double, Double, Double) = {
      import org.apache.spark.sql.functions._
      def mix(c: org.apache.spark.sql.Column, n: Int): org.apache.spark.sql.Column =
        (1 to n).foldLeft(c)((acc, _) => xxhash64(acc))
      def timed(f: => Unit): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      def cpuLeg(): Unit =
        spark.range(0, 144000000L, 1, 32)
          .select(pmod(mix(col("id"), 8), lit(1000000007L)).as("h"))
          .agg(sum("h")).collect() // pmod: 144M × 1e9 stays far under 2⁶³ (ANSI)
      def shuffleLeg(): Unit =
        spark.range(0, 24000000L, 1, 32)
          .select(pmod(xxhash64(col("id")), lit(1048576L)).as("k"),
                  col("id").as("v"))
          .groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("s"))
          .agg(sum("n"), sum("s"), count(lit(1))).collect()
      def latencyLeg(): Unit =
        (1 to 60).foreach(_ =>
          spark.range(0, 32, 1, 32).agg(count(lit(1))).collect())
      cpuLeg(); shuffleLeg(); latencyLeg() // codegen + first-exchange warmup
      val cpu = (1 to 3).map(_ => timed(cpuLeg())).min
      val sh = (1 to 3).map(_ => timed(shuffleLeg())).min
      val lat = (1 to 3).map(_ => timed(latencyLeg())).min
      (cpu, sh, lat)
    }
    // Probe seconds on the round-14 build box: min across 3 fresh JVMs
    // of the per-JVM min-of-3 (cpu 0.566 + shuffle 1.540; latency
    // measured separately). `factor` is this run's cpu+shuffle probe
    // over CalibRef — >1 means the board ran on a slower/contended box
    // and round-over-round BATCH totals divide by it; `lat_factor` is
    // the same ratio for the serial-latency leg, the divisor for the
    // STREAMING family.
    val CalibRef = 2.106
    // Latency-leg floor on the r14 build box, min over repeated idle
    // probes (~86 ms per trivial job — this environment's scheduler
    // round-trip is two orders above bare metal, and it is the
    // streaming family's binding constraint; SCALE.md round 14).
    val CalibLatRef = 5.131
    // The probe brackets the board — once before, once after — and
    // the headline factors are the MEAN of the two readings: a
    // contention burst that starts mid-board (the r14 run-B mode:
    // pre-probe read 1.13× while the board's own spread showed ~1.5×)
    // is invisible to a single pre-board probe but moves the post
    // reading. Both raw readings are emitted so a pre/post gap flags
    // an unstable measurement window outright.
    val (calibCpu, calibShuffle, calibLat) = calibProbe()
    val calibSec = calibCpu + calibShuffle
    val gcBeans = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans()
    def gcMillis(): Long = {
      var s = 0L
      gcBeans.forEach(b => s += math.max(0L, b.getCollectionTime))
      s
    }
    val gcTimes = scala.collection.mutable.LinkedHashMap[String, Double]()
    // a query whose ADAPTIVE extra run failed keeps its N valid base
    // timings (the sample could only have tightened the min) but the
    // failure must stay visible — silently publishing it as cleanly
    // measured hides flaky queries from the board (ADVICE r9)
    val retriedErrors = scala.collection.mutable.LinkedHashMap[String, String]()
    def timeGroup(group: Seq[Query], groupRuns: Int)
        : Seq[(String, Double, Double, Option[String])] = {
      // JVM/Spark warmup outside the timed region (codegen compilation,
      // parquet footer reads, first-shuffle setup) so timings reflect
      // steady-state execution, not session bring-up.
      group.foreach { q =>
        try q.build(spark, sfDir).write.mode("overwrite").format("noop").save()
        catch { case _: Throwable => }
        // several operators persist an intra-query scan (q24's shingle
        // table, q35's corpus) that the CacheManager keeps alive after
        // the action; 60+ such caches accumulating across the run is
        // cross-query memory pressure that skews later timings (the
        // r2 bench drift). Isolate: every query starts cache-cold.
        spark.catalog.clearCache()
      }
      group.map { case Query(name, fn, _, _) =>
        var err: Option[String] = None
        System.gc()
        val gc0 = gcMillis()
        def timedRun(): Option[Double] = {
          val t0 = System.nanoTime()
          try {
            fn(spark, sfDir).write.mode("overwrite").format("noop").save()
            Some((System.nanoTime() - t0) / 1e9)
          } catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            err = Some(Option(e.getMessage).getOrElse(e.getClass.getName))
            None
          }
        }
        val base = (1 to groupRuns).flatMap(_ => timedRun())
        // adaptive third run (r9): when the N runs disagree by >1.4×,
        // at least one landed in a machine-noise window (this box
        // shows minute-scale CPU-steal bursts — the closing boards'
        // value_max runs 1.7× their value); one more sample costs
        // only noisy queries anything and the min discards the burst.
        // The extra sample may only TIGHTEN the result: if it fails,
        // keep the N valid base samples — but record the failure in
        // retried_errors so a flaky query stays visible (ADVICE r9).
        val times =
          if (base.size >= 2 && err.isEmpty && base.max / base.min > 1.4) {
            val extra = timedRun()
            if (extra.isEmpty) {
              retriedErrors(name) = err.getOrElse("extra run failed")
              err = None
            }
            base ++ extra
          } else base
        spark.catalog.clearCache()
        // total GC seconds across this query's timed runs — a query
        // whose wall time inflates in the full run but whose gc share
        // is flat points at a neighbor's allocations, not its own plan
        gcTimes(name) = (gcMillis() - gc0) / 1e3
        (name,
         if (times.nonEmpty && err.isEmpty) times.min else -1.0,
         if (times.nonEmpty && err.isEmpty) times.max else -1.0,
         err)
      }
    }
    val batchResults = timeGroup(batchQs, runs)
    val streamResults = timeGroup(streamingQs, streamRuns)
    // closing probe — same legs, same mins; see the calib comment above
    val (postCpu, postShuffle, postLat) = calibProbe()
    val postSec = postCpu + postShuffle
    val calibFactor = (calibSec + postSec) / 2.0 / CalibRef
    val calibLatFactor = (calibLat + postLat) / 2.0 / CalibLatRef
    val results = (batchResults ++ streamResults).sortBy(_._1)
    // per-family min/max subtotals: the spread WITHIN a family is the
    // adjudication evidence the per-round regression reads need
    // (VERDICT r12 #6) — a family whose max/min ratio is wide was
    // measured through machine noise, and sub-second deltas inside
    // that band are not plan changes
    def famJson(rs: Seq[(String, Double, Double, Option[String])],
                n: Int): String = {
      val lo = rs.map(_._2).filter(_ >= 0).sum
      val hi = rs.map(_._3).filter(_ >= 0).sum
      s"""{"value":${r3b(lo)},"value_max":${r3b(hi)},"runs":$n}"""
    }
    def r3b(v: Double): String =
      if (v < 0) "-1"
      else BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val families =
      s"""{"batch":${famJson(batchResults, runs)},"streaming":${famJson(streamResults, streamRuns)}}"""
    // milli-second precision: the full 167-query map must survive the
    // driver's truncated stdout-tail capture (BENCH_r01..r05 all came
    // back `parsed: null` — VERDICT r5 #4), so keep the line compact
    def r3(v: Double): String =
      if (v < 0) "-1" else BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val qs = results.map { case (k, v, _, _) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, _, _, Some(e)) =>
      "\"" + k + "\":" + JsonUtil.esc(e.take(300)) }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // both ends of the per-query spread ride the tail (VERDICT r8
    // #2): `value` is the min-of-N total (the steady-state number
    // rounds compare on), `value_max` the max-of-N total — a wide
    // gap between them says machine-state noise, not plan change
    val totalMax = results.map(_._3).filter(_ >= 0).sum
    // the headline `value` is the SUM OF PER-QUERY MINS across the N
    // runs (each query's steady-state time), `value_max` the sum of
    // per-query maxes — the gap between them is machine-state spread,
    // not plan change; `agg` spells this out for the board reader
    val rerrs = retriedErrors.map { case (k, e) =>
      "\"" + k + "\":" + JsonUtil.esc(e.take(300)) }.mkString("{", ",", "}")
    // normalized total (VERDICT r14 #7): each family divided by the
    // probe leg that models its cost structure — batch by the
    // cpu+shuffle factor, streaming by the serial-latency factor — so
    // round-over-round PERF can diff normalized numbers mechanically
    // instead of bracketing the box state in prose. Additions-only:
    // `value` stays the raw sum-of-mins.
    val batchLo = batchResults.map(_._2).filter(_ >= 0).sum
    val streamLo = streamResults.map(_._2).filter(_ >= 0).sum
    val valueNorm = batchLo / calibFactor + streamLo / calibLatFactor
    val calib =
      s"""{"cpu_sec":${r3(calibCpu)},"shuffle_sec":${r3(calibShuffle)},"sec":${r3(calibSec)},"post_sec":${r3(postSec)},"ref_sec":$CalibRef,"factor":${r3(calibFactor)},"lat_sec":${r3(calibLat)},"post_lat_sec":${r3(postLat)},"lat_ref_sec":$CalibLatRef,"lat_factor":${r3(calibLatFactor)}}"""
    val line =
      s"""{"metric":"total","value":${r3(total)},"value_max":${r3(totalMax)},"value_norm":${r3(valueNorm)},"agg":"sum_of_per_query_min","runs":$runs,"stream_runs":$streamRuns,"calib":$calib,"families":$families,"unit":"sec","queries":$qs,"errors":$errs,"retried_errors":$rerrs,"sf":"$sfDir"}"""
    // durable copy for the driver/judge, immune to stdout truncation —
    // carries the per-query GC seconds the compact stdout line omits
    val gcs = results.map { case (k, _, _, _) =>
      "\"" + k + "\":" + r3(gcTimes.getOrElse(k, 0.0)) }.mkString("{", ",", "}")
    val qmax = results.map { case (k, _, v, _) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val fileLine =
      s"""{"metric":"total","value":${r3(total)},"value_max":${r3(totalMax)},"value_norm":${r3(valueNorm)},"agg":"sum_of_per_query_min","runs":$runs,"stream_runs":$streamRuns,"calib":$calib,"families":$families,"unit":"sec","queries":$qs,"queries_max":$qmax,"gc_sec":$gcs,"errors":$errs,"retried_errors":$rerrs,"sf":"$sfDir"}"""
    val outFile = java.nio.file.Paths.get("target/bench.json")
    java.nio.file.Files.createDirectories(outFile.getParent)
    java.nio.file.Files.writeString(outFile, fileLine + "\n")
    spark.stop()
    // printed AFTER spark.stop(): the last stdout lines, so a
    // tail-capture of any reasonable size still contains them
    println(line)
    // The full per-query line is ~5 KB and the driver's tail capture
    // has cut it mid-JSON every round (BENCH_r01..r07 `parsed: null`).
    // Repeat the totals as a SHORT final line so even a small tail
    // window carries them whole; the complete per-query + gc_sec map
    // stays in target/bench.json.
    val top = results.filter(_._2 >= 0).sortBy(-_._2).take(10)
      .map { case (k, v, _, _) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${r3(total)},"value_max":${r3(totalMax)},"value_norm":${r3(valueNorm)},"agg":"sum_of_per_query_min","runs":$runs,"stream_runs":$streamRuns,"calib":$calib,"families":$families,"unit":"sec","n_queries":${results.size},"n_errors":${results.count(_._4.isDefined)},"n_retried":${retriedErrors.size},"top10":$top,"sf":"$sfDir","full":"target/bench.json"}""")
  }
}
