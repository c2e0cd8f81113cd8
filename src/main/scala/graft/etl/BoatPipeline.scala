package graft.etl

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The validated, typed record at the pipeline boundary (SURVEY.md
  * §1.5: typed Dataset only where the schema is fixed and type safety
  * pays — downstream consumers get compile-time column access).
  * `boat_class` carries the reference's `Type` column (a Scala
  * keyword); `price_eur` is Option because unknown currencies have no
  * rate. */
final case class BoatRecord(
  price: Long, boat_type: String, manufacturer: String,
  boat_class: String, power: String, year_built: Long,
  length: Double, width: Double, material: String, city: String,
  country: String, currency: String, price_eur: Option[Double],
  views: Long)

/** The reference's full ETL composed Spark-first (SURVEY.md §7.2
  * step 3): raw CSV → line scrub → parse → transforms → validation →
  * Parquet sink + country summary. One JVM, one logical plan per
  * sink, no pandas stage, no driver round-trip, and the summary runs
  * ONCE (the reference executes it twice — show + toPandas,
  * /root/reference/src/pipeline_pyspark.py:361-362).
  * In [[run]] the parsed frame is materialized once and shared: the
  * year-clamp scan scrubs and parses each line while it fills the
  * cache, and the validation gate and both sinks read that cache.
  */
object BoatPipeline {

  /** F8 phase 1 — scan-reduce for the minimum plausible year (zero
    * and null excluded). ONE scalar crosses to the driver; the clamp
    * itself stays an expression (SURVEY.md §7.4: data-dependent
    * constants via aggregate-then-broadcast, never per-row driver
    * logic). */
  def minPlausibleYear(raw: DataFrame): Long = {
    val yb = col("Year Built")
    raw.filter(yb.isNotNull && yb =!= 0).agg(min(yb)).first().getLong(0)
  }

  /** Full column-transform stage over the parsed raw frame
    * (F1, F3-F9; /root/reference/src/pipeline_pyspark.py:205-310).
    * Output schema = SURVEY.md §1.3 (14 columns).
    *
    * `normalizeCountries = false` selects the Databricks-variant
    * semantics (the notebook leaves the dictionary replace commented
    * out, /root/reference/databricks/boat_etl_databricks.py:193-194):
    * countries stay stripped-lowercase. */
  def clean(raw: DataFrame,
            currentYear: Int = java.time.Year.now.getValue,
            normalizeCountries: Boolean = true): DataFrame = {
    val m = minPlausibleYear(raw)
    val priced = Parse.splitPrice(raw)
      .withColumn("price_eur", Normalize.priceEur(col("Price"), col("Currency")))
      .withColumn("Year Built", Normalize.clampYear(col("Year Built"), m, currentYear))
    val countryExpr =
      if (normalizeCountries) Normalize.normalizeCountry(col("Country"))
      else Normalize.lowercaseCountry(col("Country"))
    // temp name: "country" vs "Country" collide under Spark's
    // case-insensitive resolution (withColumn would replace, drop
    // would then remove both)
    val located = Parse.splitLocation(priced)
      .withColumn("country_norm", countryExpr)
      .drop("Country")
      .withColumnRenamed("country_norm", "country")
    val typed = Parse.splitType(
      located.na.fill(Map("Length" -> 0.0, "Width" -> 0.0, "Type" -> "None")))
    typed.na.fill("None", Seq("Manufacturer", "Material", "City", "country"))
  }

  /** [[clean]] narrowed to the typed boundary: Dataset[BoatRecord]
    * with an implicit product encoder — downstream logic gets
    * compile-checked fields instead of stringly columns. */
  def cleanTyped(raw: DataFrame,
                 currentYear: Int = java.time.Year.now.getValue,
                 normalizeCountries: Boolean = true): Dataset[BoatRecord] = {
    val df = clean(raw, currentYear, normalizeCountries)
    import df.sparkSession.implicits._
    df.select(
        col("Price").as("price"), col("Boat Type").as("boat_type"),
        col("Manufacturer").as("manufacturer"), col("Type").as("boat_class"),
        col("Power").as("power"), col("Year Built").as("year_built"),
        col("Length").as("length"), col("Width").as("width"),
        col("Material").as("material"), col("City").as("city"),
        col("country"), col("Currency").as("currency"),
        col("price_eur"), col("Number of views last 7 days").as("views"))
      .as[BoatRecord]
  }

  /** A1 + O1 — per-country average price and listing count, ordered
    * by avg desc (nulls last, country tiebreak for determinism). avg
    * skips null price_eur exactly as pandas mean skips NaN. */
  def summary(cleaned: DataFrame): DataFrame =
    cleaned.groupBy(col("country"))
      .agg(avg(col("price_eur")).as("avg_price"), count(lit(1)).as("count"))
      .orderBy(col("avg_price").desc_nulls_last, col("country"))

  /** End-to-end run: load → clean → validate (fail-fast) → Parquet
    * sink (S4) under `outDir` + single-file CSV summary sink (S5)
    * under `summaryDir` (default `outDir`). Returns the summary for display (S6) without
    * re-executing it.
    *
    * The parsed frame is persisted here, not in [[Parse.load]] or
    * [[clean]], whose other callers must not inherit a dataset-sized
    * cache. Its four consumers — the year-clamp scan, the validation
    * gate, the Parquet sink and the summary — then scrub and parse
    * each line once instead of once each. It is unpersisted on every
    * exit; the returned summary stays cached, because `unpersist`
    * does not cascade to a dependent cache that is already loaded. */
  def run(spark: SparkSession, inPath: String, outDir: String,
          currentYear: Int = java.time.Year.now.getValue,
          show: Boolean = false,
          summaryDir: Option[String] = None): DataFrame = {
    val raw = Parse.load(spark, inPath).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      Validate.requireColumns(raw, Parse.rawSchema.fieldNames.toSeq)
      val cleaned = clean(raw, currentYear)
      Validate.validateOrThrow(cleaned, Validate.boatChecks(currentYear))
      cleaned.write.mode("overwrite").parquet(s"$outDir/data.parquet")
      val s = summary(cleaned).cache()
      s.coalesce(1).write.mode("overwrite").option("header", "true")
        .csv(s"${summaryDir.getOrElse(outDir)}/data_summary.csv")
      if (show) s.show(false) // S6 console sink; reuses the cached result
      s
    } finally raw.unpersist()
  }
}
