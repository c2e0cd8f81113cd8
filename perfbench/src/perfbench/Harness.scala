package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{SparkEntry, Tables}
import graft.etl.{BoatPipeline, Parse, Validate}

/** Minimal JSON writer for the harness's result file. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

/** The benchmark's JVM side. It starts one SparkSession with
  * `graft.Bench`'s settings on every core of the machine, runs one
  * workload as a closed loop with one client, and writes the raw
  * timings (and, when tracing, the per-span Spark work) as JSON.
  * Metrics, medians and output checks are computed by
  * `perfbench/run.py`.
  *
  * Arguments are `key=value`: workload (etl | catalog), input (the
  * listing CSV file or directory, or the table directory), work (a
  * scratch directory the run owns), out (the result file), trace
  * (0 | 1), seconds (the measuring window), min_warm (the least number
  * of warm passes), queries (catalog: comma-separated SparkEntry
  * names).
  */
object Harness {
  /** Pinned like `BoatQueries.pinnedYear`, so a run does not depend
    * on the calendar. */
  val CurrentYear = 2026

  def gcSeconds(): Double = {
    var ms = 0L
    ManagementFactory.getGarbageCollectorMXBeans.forEach(b => ms += math.max(0L, b.getCollectionTime))
    ms / 1e3
  }

  def session(work: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors().toString
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("tmp").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Seconds from JVM start to now. */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  def peakRssMb(): Double =
    try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case _: Exception => -1.0 }

  def message(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(500)

  def main(args: Array[String]): Unit = {
    val opt = args.map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
    val work = Paths.get(opt("work")).toAbsolutePath
    Files.createDirectories(work)
    val spark = session(work)
    val setupS = sinceJvmStart()
    val trace = if (opt.getOrElse("trace", "0") == "1") Some(new Trace(spark.sparkContext)) else None
    val loop = Loop(opt("seconds").toDouble, opt("min_warm").toInt)
    val ops = opt("workload") match {
      case "etl" => new EtlRun(spark, Paths.get(opt("input")), work, trace).run(loop)
      case "catalog" =>
        new CatalogRun(spark, opt("input"), opt("queries").split(",").toSeq, work, trace).run(loop)
    }
    val extra = trace.map { t =>
      t.drain()
      t.write(work.resolve("spans.jsonl"))
      Map("unattributed_jobs" -> t.unattributedJobs)
    }.getOrElse(Map.empty)
    val result = Map(
      "setup_s" -> setupS,
      "cores" -> Runtime.getRuntime.availableProcessors(),
      "ops" -> ops.map(_.toMap(trace)),
      "peak_rss_mb" -> peakRssMb()) ++ extra
    Files.writeString(Paths.get(opt("out")), Json.render(result) + "\n")
    // no spark.stop(): nothing is left to flush, and the caller deletes
    // the work directory with Spark's local dirs
    Runtime.getRuntime.halt(0)
  }
}

/** Measuring window: at least `minWarm` warm operations, then more
  * until `seconds` have passed. */
final case class Loop(seconds: Double, minWarm: Int) {
  def run(op: => Unit): Unit = {
    val t0 = System.nanoTime()
    var n = 0
    while (n < minWarm || (System.nanoTime() - t0) / 1e9 < seconds) {
      op; n += 1
    }
  }
}

/** One timed operation: a pipeline run or one query execution. */
final case class Op(kind: String, name: String, secs: Double, gcS: Double,
                    err: Option[String], out: Option[String],
                    span: Option[Span], extra: Map[String, Any] = Map.empty) {
  def toMap(trace: Option[Trace]): Map[String, Any] = {
    val traced = for (t <- trace; s <- span) yield {
      val steps = t.children(s)
      Map(
        "work" -> Op.work(t.workUnder(s)),
        "steps" -> steps.map(c => Map("name" -> c.name, "secs" -> c.seconds,
                                      "work" -> Op.work(t.workUnder(c)))))
    }
    Map("kind" -> kind, "name" -> name, "secs" -> secs, "gc_s" -> gcS,
        "err" -> err, "out" -> out) ++ traced.getOrElse(Map.empty) ++ extra
  }
}

object Op {
  def work(w: Work): Map[String, Any] = Map(
    "jobs" -> w.jobs, "stages" -> w.stages, "tasks" -> w.tasks,
    "run_s" -> w.runMs / 1e3, "cpu_s" -> w.cpuNs / 1e9, "in_bytes" -> w.inBytes,
    "shuffle_write" -> w.shuffleWrite, "shuffle_read" -> w.shuffleRead,
    "spill" -> w.spill)

  /** Times `body` with a GC barrier before it; the cache is cleared
    * after it, so each operation starts cache-cold. */
  def timed(spark: SparkSession)(body: => Unit): (Double, Double, Option[String]) = {
    System.gc()
    val gc0 = Harness.gcSeconds()
    val t0 = System.nanoTime()
    val err = try { body; None } catch { case e: Throwable => Some(Harness.message(e)) }
    val secs = (System.nanoTime() - t0) / 1e9
    val gc = Harness.gcSeconds() - gc0
    spark.catalog.clearCache()
    (secs, gc, err)
  }
}

/** `BoatPipeline.run` passes over one generated listing input. Every
  * pass reads the input through a path the process has not seen
  * (`Parse` caches detection and its round-trip per path) and writes
  * its own output directory, which `run.py` checks afterwards. */
final class EtlRun(spark: SparkSession, input: Path, work: Path, trace: Option[Trace]) {
  private var passes = 0
  private val ops = ArrayBuffer[Op]()

  private def freshInput(): String = {
    val dir = work.resolve(s"in/$passes")
    Files.createDirectories(dir)
    val target = dir.resolve(input.getFileName)
    def link(to: Path, from: Path): Unit =
      try Files.createLink(to, from) catch { case _: Exception => Files.copy(from, to) }
    if (Files.isDirectory(input)) {
      Files.createDirectories(target)
      Files.list(input).forEach(f => link(target.resolve(f.getFileName), f))
    } else link(target, input)
    target.toString
  }

  /** `BoatPipeline.run`'s body, step by step in its order, each step
    * in a span. Returns the parsed frame for the scrub/parse probe. */
  private def tracedRun(t: Trace, in: String, out: String): DataFrame = {
    val (raw, _) = t.span("etl.load") {
      val raw = Parse.load(spark, in)
      Validate.requireColumns(raw, Parse.rawSchema.fieldNames.toSeq)
      raw
    }
    val (cleaned, _) = t.span("etl.clean")(BoatPipeline.clean(raw, Harness.CurrentYear))
    t.span("etl.validate")(
      Validate.validateOrThrow(cleaned, Validate.boatChecks(Harness.CurrentYear)))
    t.span("etl.parquet")(cleaned.write.mode("overwrite").parquet(s"$out/data.parquet"))
    t.span("etl.summary") {
      val s = BoatPipeline.summary(cleaned).cache()
      s.coalesce(1).write.mode("overwrite").option("header", "true")
        .csv(s"$out/data_summary.csv")
    }
    raw
  }

  private def pass(kind: String): Unit = {
    passes += 1
    val in = freshInput()
    val out = work.resolve(s"out/$passes").toString
    var span: Option[Span] = None
    var raw: Option[DataFrame] = None
    val (secs, gc, err) = Op.timed(spark) {
      trace match {
        case None => BoatPipeline.run(spark, in, out, Harness.CurrentYear)
        case Some(t) =>
          val (r, s) = t.span("etl.pass")(tracedRun(t, in, out))
          span = Some(s); raw = Some(r)
      }
    }
    // outside the pass: Scrub + Parse alone, as a noop write of the
    // frame `Parse.load` returned
    val probe = for (t <- trace; r <- raw) yield {
      val (_, s) = t.span("etl.scrub_parse")(r.write.mode("overwrite").format("noop").save())
      s.seconds
    }
    ops += Op(kind, "pipeline", secs, gc, err, Some(out), span,
              probe.map(p => Map("scrub_parse_s" -> p)).getOrElse(Map.empty))
  }

  def run(loop: Loop): Seq[Op] = {
    pass("first")
    loop.run(pass("warm"))
    ops.toSeq
  }
}

/** Sweeps over a fixed list of `SparkEntry.queries`. Each execution is
  * build, then plan (`queryExecution.executedPlan`), then a noop-format
  * write, as in `graft.Bench`. The first sweep writes each result to
  * Parquet instead, for the oracle check in `run.py`. */
final class CatalogRun(spark: SparkSession, dir: String, names: Seq[String],
                       work: Path, trace: Option[Trace]) {
  private val ops = ArrayBuffer[Op]()

  private def phase[T](name: String)(body: => T): T =
    trace.fold(body)(_.span(name)(body)._1)

  private def execute(kind: String, name: String): Unit = {
    val fn = SparkEntry.queries(name)
    val result = work.resolve(s"results/$name").toString
    var span: Option[Span] = None
    var df: Option[DataFrame] = None
    val (secs, gc, err) = Op.timed(spark) {
      def body(): Unit = {
        val d = phase("build")(fn(spark, dir))
        df = Some(d)
        phase("plan")(d.queryExecution.executedPlan)
        phase("exec") {
          if (kind == "first") d.write.mode("overwrite").parquet(result)
          else d.write.mode("overwrite").format("noop").save()
        }
      }
      trace match {
        case None => body()
        case Some(t) => span = Some(t.span(name)(body())._2)
      }
    }
    val tables = if (kind == "first") df.map(scannedTables).getOrElse(Nil) else Nil
    ops += Op(kind, name, secs, gc, err, if (kind == "first") Some(result) else None,
              span, if (kind == "first") Map("tables" -> tables) else Map.empty)
  }

  /** Names of the harness tables the query's final plan scans, once
    * per scan. */
  private def scannedTables(df: DataFrame): Seq[String] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    df.queryExecution.analyzed.collect {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.getName.stripSuffix(".parquet"))
        case _ => Nil
      }
    }.flatten
  }

  /** One call to each of the ten `Tables` loaders, three times. */
  private def loaderProbe(t: Trace): Unit = {
    val loaders: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "lineitem" -> Tables.lineitem, "orders" -> Tables.orders,
      "customer" -> Tables.customer, "supplier" -> Tables.supplier,
      "part" -> Tables.part, "nation" -> Tables.nation, "region" -> Tables.region,
      "events" -> Tables.events, "documents" -> Tables.documents,
      "embeddings" -> Tables.embeddings)
    (1 to 3).foreach { _ =>
      val (_, s) = t.span("tables.load") {
        loaders.foreach { case (n, f) => t.span(n)(f(spark, dir)) }
      }
      ops += Op("tables", "tables.load", s.seconds, 0.0, None, None, Some(s))
    }
  }

  def run(loop: Loop): Seq[Op] = {
    names.foreach(execute("first", _))
    val oracle = names.map(n => n -> SparkEntry.oracleSql.get(n)).toMap
    Files.writeString(work.resolve("oracle_sql.json"), Json.render(oracle) + "\n")
    loop.run(names.foreach(execute("warm", _)))
    trace.foreach(loaderProbe)
    ops.toSeq
  }
}

/** Starts the benchmark's SparkSession and exits: one more sample of
  * set-up time per run. Prints the seconds from JVM start, then halts
  * without a shutdown (the caller deletes the work directory). */
object SetupProbe {
  def main(args: Array[String]): Unit = {
    Harness.session(Paths.get(args(0)).toAbsolutePath)
    println(s"""{"setup_s":${Harness.sinceJvmStart()}}""")
    System.out.flush()
    Runtime.getRuntime.halt(0)
  }
}
