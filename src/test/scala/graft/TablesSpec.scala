package graft

import org.apache.spark.sql.functions._

/** VERDICT r14 #3 / r15: the widen/widenBy guard must decide from
  * file METADATA (no RDD conversion), still firing on the
  * single-file fixture scans and staying a no-op on scans that
  * already carry ≥ default-parallelism splits. */
class TablesSpec extends SparkSpec {

  private def hasShuffle(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("Exchange")

  test("widen fires on a single-file scan and is a no-op on a multi-file scan") {
    val p = spark.sparkContext.defaultParallelism
    val dir = java.nio.file.Files.createTempDirectory("graft_widen").toString
    // one file: 1 split < defaultParallelism → widen must repartition
    spark.range(0, 1000).select(col("id"), (col("id") * 2).as("v"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/one")
    val one = spark.read.parquet(s"$dir/one")
    assert(hasShuffle(Tables.widen(one)),
      "widen must insert a repartition on a 1-split scan")
    assert(hasShuffle(Tables.widenBy(one, col("id"))),
      "widenBy must insert a repartition on a 1-split scan")
    // ≥ p files: scan already parallel → both must pass through
    spark.range(0, 1000).select(col("id"), (col("id") * 2).as("v"))
      .repartition(p * 2).write.mode("overwrite").parquet(s"$dir/many")
    val many = spark.read.parquet(s"$dir/many")
    assert(Tables.widen(many) eq many,
      "widen must be a no-op when the scan has >= defaultParallelism splits")
    assert(Tables.widenBy(many, col("id")) eq many,
      "widenBy must be a no-op when the scan has >= defaultParallelism splits")
  }

  test("widen treats non-scan inputs as already-wide (scan remedy only)") {
    val df = spark.range(0, 100).toDF("id")
    assert(Tables.widen(df) eq df,
      "a range/constructed frame has no file scan to widen")
  }

  test("widen guard plants no RDD-scan boundary in the widened plan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_widen2").toString
    spark.range(0, 100).coalesce(1).write.mode("overwrite").parquet(dir + "/t")
    val w = Tables.widen(spark.read.parquet(dir + "/t"))
    val plan = w.queryExecution.executedPlan.toString
    assert(!plan.contains("ExistingRDD") && !plan.contains("Scan ExistingRDD"),
      s"guard must not convert the plan to an RDD:\n$plan")
  }

  /** The footer schema must be the schema Spark's inference job
    * gives, read under the same session conf. */
  private def assertParity(dir: String, name: String): Unit = {
    val inferred = spark.read.parquet(s"$dir/$name.parquet").schema
    val footer = Tables.t(spark, dir, name).schema
    assert(footer == inferred, s"$dir/$name: footer $footer != inferred $inferred")
  }

  test("footer schema equals the inferred schema on every harness table") {
    val names = Seq("lineitem", "orders", "customer", "supplier", "part",
                    "nation", "region", "events", "documents", "embeddings")
    val testdata = new java.io.File(sf0001).getParent
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1"); n <- names)
      assertParity(s"$testdata/$sf", n)
  }

  test("footer schema follows every events.ts generation under nanosAsLong") {
    import org.apache.spark.sql.types._
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try {
      val tmp = java.nio.file.Files.createTempDirectory("graft_ts").toString
      TablesSpec.writeEvents(s"$tmp/nanos", "TIMESTAMP(NANOS,true)")
      TablesSpec.writeEvents(s"$tmp/micros", "TIMESTAMP(MICROS,false)")
      // Spark-written: TimestampType, several part files plus _SUCCESS
      spark.range(0, 40).select(col("id").as("event_id"),
          timestamp_seconds(col("id")).as("ts"))
        .repartition(3).write.parquet(s"$tmp/spark/events.parquet")
      assert(new java.io.File(s"$tmp/spark/events.parquet/_SUCCESS").exists)
      Seq("nanos", "micros", "spark").foreach(g => assertParity(s"$tmp/$g", "events"))
      val ts = Seq("nanos", "micros", "spark")
        .map(g => Tables.t(spark, s"$tmp/$g", "events").schema("ts").dataType)
      assert(ts == Seq(LongType, TimestampNTZType, TimestampType), ts)
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}

object TablesSpec {
  /** One-row `events.parquet` FILE whose `ts` has the given parquet
    * logical type, written with parquet-hadoop directly: Spark cannot
    * write TIMESTAMP(NANOS), which one fixture generation carries. */
  def writeEvents(dir: String, tsType: String): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      s"message events { required int64 event_id; optional int64 ts ($tsType);" +
        " optional binary event_type (STRING); }")
    val out = HadoopOutputFile.fromPath(
      new org.apache.hadoop.fs.Path(s"$dir/events.parquet"),
      new org.apache.hadoop.conf.Configuration())
    val w = ExampleParquetWriter.builder(out).withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", 1700000000000000L)
      .append("event_type", "click"))
    finally w.close()
  }
}
