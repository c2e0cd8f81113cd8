package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Source/sink helpers beyond the reference's CSV+Parquet surface
  * (SURVEY.md §2.1). Everything takes an EXPLICIT schema — the engine
  * never infers on read (inference is a full extra pass at 100 TB and
  * can silently change types between runs).
  */
object Sources {

  /** JSON-lines source with explicit schema (PERMISSIVE: malformed
    * rows null out rather than failing the scan). */
  def readJsonLines(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).option("mode", "PERMISSIVE").json(path)

  /** Dead-letter pattern: parse with PERMISSIVE + corrupt-record
    * capture, returning (good rows, quarantined raw lines). The
    * reference aborts the whole job on bad data (V3); at 100 TB the
    * engine must instead quarantine and continue — bad records land
    * in a side output with their raw text for replay. */
  def readJsonLinesWithQuarantine(spark: SparkSession, path: String,
                                  schema: StructType): (DataFrame, DataFrame) = {
    val withCorrupt = StructType(schema.fields :+
      org.apache.spark.sql.types.StructField("_corrupt_record",
        org.apache.spark.sql.types.StringType))
    val raw = spark.read.schema(withCorrupt)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)
      .cache() // corrupt-record queries must not re-trigger parsing per Spark docs
    val good = raw.filter(raw("_corrupt_record").isNull).drop("_corrupt_record")
    val bad = raw.filter(raw("_corrupt_record").isNotNull)
      .select(raw("_corrupt_record").as("raw"))
    (good, bad)
  }

  /** Avro source: the row-oriented interchange format streaming
    * estates standardize on (Kafka payloads, schema-registry
    * pipelines, cross-language log shipping). Spark 4 ships the avro
    * datasource inside spark-sql, so no extra dependency. Explicit
    * schema as everywhere; Avro is a row format, so unlike
    * parquet/ORC there is no column pruning at the byte level — the
    * engine treats it as an INGEST format (land avro, convert to
    * parquet for analytics), which is why there is no pushdown spec
    * pin here.
    *
    * The avro classes ship inside spark-sql on this distribution but
    * the "avro" shortname is not service-registered, so the format is
    * addressed by its provider class name — same engine code path. */
  private val AvroFormat = "org.apache.spark.sql.avro.AvroFileFormat"

  def readAvro(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).format(AvroFormat).load(path)

  /** Avro sink (snappy block compression, Spark's default). */
  def writeAvro(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").format(AvroFormat).save(path)

  /** Schema'd ORC source: the other columnar format large estates
    * standardize on. Same scan behaviors as parquet — column pruning
    * and predicate pushdown reach the reader (SourcesSpec pins the
    * pushed filter), so a 2-column projection reads 2 columns. */
  def readOrc(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).orc(path)

  /** ORC sink (zlib, Spark's default codec). */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** Hive-style partitioned parquet sink: directory per partition
    * value, so filters on the partition columns prune entire
    * directories at planning time (zero I/O for pruned partitions —
    * THE layout lever for append-only fact data at scale). */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)

  /** Bucketed + sorted table sink: pre-shuffles data into a fixed
    * number of buckets by key so later equi-joins/aggregations on
    * that key run WITHOUT a shuffle (both sides read co-located
    * buckets). Requires the table catalog (saveAsTable), not a bare
    * path. */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, bucketCol).sortBy(bucketCol)
      .saveAsTable(table)

  /** The q242 JSONL feed, built ONCE per sf dir (sentinel-cache
    * economics: Bench's min-of-2 must not re-pay the export): the
    * events table serialized as JSON lines — ts as unix MICROS, not
    * an ISO string, because Spark's default JSON timestamp format is
    * millisecond-truncating and the gate needs exact round-trips —
    * plus one small file of [[Q242CorruptLines]] planted malformed
    * lines (broken JSON, not type mismatches, so PERMISSIVE's verdict
    * is unambiguous). */
  // one source of truth for the planted corrupt lines: the count the
  // oracle's quarantine row asserts is DERIVED from the seq the feed
  // writes, so they cannot drift apart (ADVICE r12)
  private[sources] val Q242CorruptLineSeq: Seq[String] =
    Seq("{\"event_id\": 1, ", "not json at all", "{]")
  private[sources] val Q242CorruptLines = Q242CorruptLineSeq.size
  private val jsonlCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  // same lifecycle as StreamQueries.streamDirs: the cache dies with
  // the JVM, so the exported corpus-sized feed must die with it too —
  // otherwise every bench/verify run abandons a full JSONL copy in tmp
  private val feedDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[String]()
  sys.addShutdownHook {
    feedDirs.forEach { d =>
      scala.reflect.io.Directory(new java.io.File(d)).deleteRecursively()
    }
  }
  private[sources] def q242Feed(s: SparkSession, dir: String): String =
    jsonlCache.computeIfAbsent(dir, _ => {
      import org.apache.spark.sql.functions._
      val base = java.nio.file.Files.createTempDirectory("graft_jsonl")
      feedDirs.add(base.toString)
      graft.Tables.events(s, dir)
        .select(to_json(struct(col("event_id"), col("user_id"),
          expr("unix_micros(ts)").as("ts_us"),
          col("event_type"), col("value"))).as("value"))
        .write.mode("overwrite").text(s"$base/feed")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$base/feed/corrupt.txt"),
        java.util.Arrays.asList(Q242CorruptLineSeq: _*))
      s"$base/feed"
    })

  /** q242 — JSONL INGEST WITH DEAD-LETTER QUARANTINE, oracle-gated:
    * the events table round-trips through a JSON-lines feed (the
    * log-shipping interchange format) carrying three planted
    * malformed lines, through [[readJsonLinesWithQuarantine]] —
    * PERMISSIVE parse, corrupt rows captured with their raw text
    * instead of failing the scan (the reference aborts on bad data,
    * V3; at 100 TB the engine quarantines and continues). The gate
    * proves BOTH paths: per-type counts, micro-exact value sums and
    * microsecond-exact max timestamps match the parquet-derived
    * oracle (nothing lost or mangled in flight), and the quarantine
    * row counts exactly the planted corrupt lines (nothing leaked
    * into the good stream). One scan, aggregate-sized output; the
    * JSONL export is a once-per-dir fixture, not query work. */
  def q242JsonlQuarantine(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("ts_us", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    val (good, bad) = readJsonLinesWithQuarantine(s, q242Feed(s, dir), schema)
    val perType = good
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
           sum(floor(col("value") * 1000000d + 0.5d)).cast("long")
             .as("value_micro"),
           date_format(max(timestamp_micros(col("ts_us"))),
                       "yyyy-MM-dd HH:mm:ss.SSSSSS").as("max_ts"))
    val quarantined = bad.agg(count(lit(1)).as("n_rows"))
      .select(lit("__quarantined").as("event_type"), col("n_rows"),
              lit(0L).as("value_micro"),
              lit(null).cast("string").as("max_ts"))
    perType.unionByName(quarantined).orderBy(col("event_type"))
  }

  /** DuckDB oracle for q242 — the same aggregates straight off the
    * parquet table, plus the planted quarantine count. */
  def q242OracleSql: String =
    s"""SELECT event_type, count(*)::BIGINT AS n_rows,
       sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT))::BIGINT
         AS value_micro,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS max_ts
       FROM events GROUP BY event_type
       UNION ALL
       SELECT '__quarantined', $Q242CorruptLines, 0, NULL
       ORDER BY event_type"""
}
