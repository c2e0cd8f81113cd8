package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** Parquet table loader for the harness test data
  * (/root/testdata/sf*; see TESTDATA.md). All queries receive the sf
  * directory and resolve tables through here so the scan always carries
  * an explicit parquet schema and benefits from Spark's native
  * vectorized reader + predicate pushdown.
  *
  * The explicit schema is read on the DRIVER from one Parquet footer
  * ([[footerSchema]]), so building a query launches no Spark job:
  * without a schema, `spark.read.parquet` runs a one-task inference
  * job per load. No schema is declared by hand — the footer is
  * converted exactly as that inference job converts it, so the two
  * cannot drift, including the TIMESTAMP_NTZ columns and the
  * session's `nanosAsLong` setting.
  */
object Tables {
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    footerSchema(spark, path)
      .fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
  }

  /** The schema Spark's parquet inference (without `mergeSchema`)
    * gives `path`, computed without a job: the first data file in
    * path order — hidden `_`/`.` files such as `_SUCCESS` and
    * checksums skipped, as Spark's file index skips them — has its
    * footer read here and converted with the converter the inference
    * task uses, honoring the same session conf. `None` when `path`
    * holds no data file at its top level (missing path, partitioned
    * layout): the caller then lets Spark infer, and report, as
    * before. */
  private def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) None
    else fs.listStatus(root)
      .filter { f =>
        val n = f.getPath.getName
        f.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
      .sortBy(_.getPath.toString).headOption
      .map { f =>
        // Hadoop read options: the plain-options `open` measured ~10 ms
        // slower per file (4 vCPUs); row groups are skipped, as
        // inference skips them
        val opts = HadoopReadOptions.builder(conf).withMetadataFilter(SKIP_ROW_GROUPS).build()
        val footer = scala.util.Using.resource(
          ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf), opts))(_.getFooter)
        ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, footer),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf))
      }
  }

  def lineitem(s: SparkSession, d: String): DataFrame = t(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = t(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = t(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = t(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = t(s, d, "region")
  /** events.ts has shipped in two fixture generations: TIMESTAMP(NANOS)
    * (which Spark's vectorized reader rejects outright — read the nanos
    * as a long and convert, matching DuckDB's ns→µs truncation) and
    * plain TIMESTAMP(MICROS) without UTC adjustment (reads as
    * TIMESTAMP_NTZ — cast to the session-zone timestamp, a numeric
    * no-op under the UTC session both engines run with). Normalizing
    * here keeps every downstream query and oracle schema-stable across
    * fixture regenerations. */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = rawEvents(s, d)
    raw.withColumn("ts", eventTs(raw.schema))
  }

  /** `events` as stored: `ts` still in its fixture encoding. The conf
    * is set BEFORE the load, so the footer schema already carries `ts`
    * as a long for the NANOS generation; the streaming gate reads its
    * feed with this schema and normalizes with [[eventTs]]. */
  private[graft] def rawEvents(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    t(s, d, "events")
  }

  /** The session-zone timestamp of the raw `ts` column of a frame with
    * schema `raw`; chosen from the schema, so it costs no job. */
  private[graft] def eventTs(raw: StructType): Column =
    raw("ts").dataType match {
      case LongType => expr("timestamp_micros(ts div 1000)")
      case _        => col("ts").cast("timestamp")
    }
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")

  /** Widen a narrow scan ahead of an EXPENSIVE per-row map stage
    * (codec calls, fingerprint HOFs, shingle builds): when the frame
    * has fewer partitions than the session's default parallelism,
    * round-robin repartition up to it; otherwise pass through
    * untouched. The harness fixtures are single-row-group parquet
    * files, so file-split configs cannot parallelize the scan (a
    * row group is parquet's split atom — guide §2.5's "one huge
    * unsplittable file" input-skew case, whose named remedy is
    * "repartition immediately after the read"); without this, every
    * pre-exchange stage runs on ONE core of 32. Scale-adaptive by
    * construction: a warehouse-scale scan already carries ≥ cores
    * splits and the guard makes this a no-op — nothing here is tuned
    * to local[32]. Apply AFTER the narrow projection so the tiny
    * round-robin exchange moves only the columns the map stage
    * needs, and only on queries whose stage-1 work measurably
    * dominates (each use is an A/B in OPTIMIZATION_r14.md). */
  def widen(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (scanSplits(df) < p) df.repartition(p) else df
  }

  /** Scan parallelism estimate for the [[widen]]/[[widenBy]] guard,
    * from FILE METADATA only: Σ over the frame's file-source
    * relations of ceil(fileBytes / maxPartitionBytes). The previous
    * guard read `df.rdd.getNumPartitions`, which forces a
    * physical-plan → RDD conversion at plan-build time and reads the
    * PRE-AQE partition count (VERDICT r14 #3); this computes the
    * same quantity for every real input shape — each split is
    * min(maxPartitionBytes, file) of some file — without planting an
    * RDD-scan boundary. openCostInBytes padding is deliberately
    * ignored: it only INCREASES the split count for many-small-file
    * scans, which are past the `< defaultParallelism` gate anyway.
    * A frame with no file-source leaf (constructed data, cuts)
    * reports "plenty" — widen is a scan remedy, not a general one.
    *
    * Known gaps, all of which only move the estimate away from the
    * planner's real split count:
    *  - Spark cuts files at min(maxPartitionBytes, max(openCostInBytes,
    *    totalBytes / defaultParallelism)), so a small scan gets more,
    *    smaller splits than this maxPartitionBytes-only count (extra
    *    splits of a single-row-group file read nothing);
    *  - partition pruning is ignored: every file of the relation is
    *    counted, so a pruned scan of a partitioned table reads as
    *    wider than it is;
    *  - DataSource V2 relations are not `LogicalRelation`s and are not
    *    counted at all, so a frame whose only leaves are V2 scans
    *    reports "plenty" and is never widened. */
  private def scanSplits(df: DataFrame): Int = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val maxSplit = math.max(1L,
      df.sparkSession.sessionState.conf.filesMaxPartitionBytes)
    val rels = df.queryExecution.analyzed.collect {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation =>
          fs.location.listFiles(Nil, Nil).iterator.flatMap(_.files)
            .map(f => math.max(1L, (f.getLen + maxSplit - 1) / maxSplit))
            .sum
        case _ => Int.MaxValue.toLong
      }
    }
    if (rels.isEmpty) Int.MaxValue
    else math.min(rels.sum, Int.MaxValue.toLong).toInt
  }

  /** [[widen]] variant for WIDE frames: hash-repartition on `key`
    * instead of round-robin. Every keyless `repartition(n)` first
    * pays a local sort of its input (sortBeforeRepartition, needed so
    * retried tasks reproduce their row→partition assignment) — cheap
    * on the few-thousand-row frames widen targets, but a measurable
    * tax on a 600k-row fact-table frame. Hash partitioning by a
    * deterministic existing key needs no such sort and is retry-safe
    * by construction (guide §2.5's derived-key rule). `key` must
    * spread well (≫ cores distinct values). */
  def widenBy(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (scanSplits(df) < p) df.repartition(p, key) else df
  }
}
