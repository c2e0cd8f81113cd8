package graft.etl

import graft.SparkSpec
import java.nio.file.{Files, Paths}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer

/** End-to-end golden test of the boat ETL on the checked-in mini
  * fixture (FIXTURES.md §2): every dirt class the reference handles,
  * with hand-computed expected values. currentYear pinned to 2026 so
  * the clamp goldens are stable. */
class BoatPipelineSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val fixture = "/root/repo/src/test/resources/boat_mini.csv"
  private lazy val raw = Parse.load(spark, fixture)
  private lazy val cleaned = BoatPipeline.clean(raw, currentYear = 2026)

  test("ingest drops blanks and header, parses quoted commas") {
    assert(raw.count() == 20)
    // quoted field with comma survives as ONE location value
    val burton = raw.filter(raw("Price") === "EUR 15000")
      .select("Location").collect().head.getString(0)
    assert(burton == "United Kingdom | Burton Waters, Burton Waters")
  }

  test("currency/price partition and EUR conversion") {
    val rows = cleaned.select("Currency", "Price", "price_eur", "country")
      .collect().map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getDouble(2)))
    // mojibake pound becomes GBP via the scrub, then converts at 1.17
    assert(rows.contains(("GBP", 5170L, 5170 * 1.17)))
    // USD has no rate: null, exactly the reference's NaN
    assert(rows.contains(("USD", 10000L, null)))
    assert(rows.contains(("DKK", 24800L, 24800 * 0.13)))
  }

  test("year clamp: 0 and out-of-range map to min-10") {
    val years = cleaned.select("Year Built").collect().map(_.getLong(0))
    assert(years.min == 1965) // min plausible 1975, sentinel rows -> 1965
    assert(years.count(_ == 1965) == 2) // the 0 row and the 2150 row
    assert(!years.exists(y => y != 1965 && y < 1975))
  }

  test("location split keeps City leading space and interior pipes") {
    val city = cleaned.filter(cleaned("Currency") === "CHF")
      .filter(cleaned("Price") === 3337)
      .select("City").collect().head.getString(0)
    assert(city == " Lake Geneva | V senaz")
  }

  test("country normalization: mapped, city-mapped, pass-through, null") {
    val countries = cleaned.select("country").collect().map(_.getString(0)).toSet
    assert(countries.contains("Switzerland"))
    assert(countries.contains("Spain"))    // "mallorca" city->country
    assert(countries.contains("Germany"))  // incl. "lake constance"
    assert(countries.contains("croatia (hrvatska)")) // unmapped stays lowercase
    assert(countries.contains("belgium"))            // unmapped stays lowercase
    assert(countries.contains("None"))               // null location
    assert(!countries.contains("Belgium"))
  }

  test("type/power partition and null fills") {
    val tp = cleaned.select("Type", "Power", "Manufacturer", "Material",
        "Length", "Width").collect()
    assert(tp.exists(r => r.getString(0) == "Used boat" && r.getString(1) == "Unleaded"))
    assert(tp.exists(r => r.getString(0) == "new boat from stock" && r.getString(1) == "None"))
    assert(tp.exists(r => r.getString(0) == "None" && r.getString(1) == "None")) // null Type row
    assert(tp.count(_.getString(2) == "None") == 3)  // null manufacturers filled
    assert(tp.exists(r => r.getDouble(4) == 0.0 && r.getDouble(5) == 0.0)) // null Length/Width -> 0
  }

  test("validation passes on the cleaned frame and fails on dirty") {
    Validate.validateOrThrow(cleaned, Validate.boatChecks(2026))
    val bad = cleaned.withColumn("Material",
      org.apache.spark.sql.functions.lit("Papier-mache"))
    intercept[Validate.ValidationException] {
      Validate.validateOrThrow(bad, Validate.boatChecks(2026))
    }
    intercept[Validate.ValidationException] {
      Validate.requireColumns(raw.drop("Price"), Parse.rawSchema.fieldNames.toSeq)
    }
  }

  test("summary: null-skipping avg, desc order with nulls last") {
    val s = BoatPipeline.summary(cleaned).collect()
    val byCountry = s.map(r => r.getString(0) ->
      (if (r.isNullAt(1)) null else r.getDouble(1), r.getLong(2))).toMap
    assert(byCountry("Switzerland") == ((3337 * 1.06 + 45000 * 1.06) / 2, 2L))
    assert(byCountry("Germany") == ((3490 + 2500 + 22000 * 1.06) / 3, 3L))
    assert(byCountry("United States") == (null, 1L)) // USD-only: avg of no non-nulls
    // ordered desc by avg_price, null group last
    assert(s.head.getString(0) == "Switzerland")
    assert(s.last.getString(0) == "United States")
  }

  test("typed boundary: Dataset[BoatRecord] round-trips the cleaned frame") {
    val ds = BoatPipeline.cleanTyped(raw, currentYear = 2026)
    val recs = ds.collect()
    assert(recs.length == 20)
    assert(recs.count(_.price_eur.isEmpty) == 1) // the USD row has no rate
    assert(recs.filter(_.currency == "GBP").map(_.price) sameElements Array(5170L))
    // typed transformations compile against fields, not strings
    val expensive = ds.filter(_.price_eur.exists(_ > 20000)).count()
    assert(expensive == 2) // the two CHF rows: 22000*1.06, 45000*1.06
  }

  test("Databricks-variant semantics: no dictionary, lowercase countries") {
    val variant = BoatPipeline.clean(raw, currentYear = 2026, normalizeCountries = false)
    val countries = variant.select("country").collect().map(_.getString(0)).toSet
    assert(countries.contains("switzerland"))
    assert(countries.contains("mallorca"))  // city NOT mapped to Spain here
    assert(countries.contains("None"))      // null location still stringifies
    assert(!countries.exists(c => c != "None" && c.exists(_.isUpper)))
  }

  test("run(): parquet + single-file csv sinks") {
    val out = java.nio.file.Files.createTempDirectory("boat_out").toString
    BoatPipeline.run(spark, fixture, out, currentYear = 2026)
    assert(spark.read.parquet(s"$out/data.parquet").count() == 20)
    val csv = spark.read.option("header", "true").csv(s"$out/data_summary.csv")
    assert(csv.count() == 13)
    assert(csv.columns.toSeq == Seq("country", "avg_price", "count"))
  }

  /** Ids of the RDDs that hold cached blocks, once the listener bus
    * has delivered every block update. */
  private def storedRdds(): Set[Int] = {
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
  }

  /** The physical plan of every action `body` launches, in order. */
  private def actionPlans[T](body: => T): (T, Seq[SparkPlan]) = {
    val plans = ArrayBuffer[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.synchronized { plans += qe.executedPlan }
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val result = try body finally {
      ListenerBusDrain(spark.sparkContext)
      spark.listenerManager.unregister(listener)
    }
    (result, plans.synchronized(plans.toList))
  }

  private def cachedRelations(plan: SparkPlan): Seq[InMemoryRelation] =
    collect(plan) { case m: InMemoryTableScanExec => m.relation }

  private def fileScans(plan: SparkPlan): Seq[FileSourceScanExec] =
    collect(plan) { case f: FileSourceScanExec => f }

  test("run(): every action reads one parsed cache; only the summary stays cached") {
    spark.catalog.clearCache()
    val before = storedRdds()
    val out = Files.createTempDirectory("boat_once").toString
    val shown = new java.io.ByteArrayOutputStream()
    val (s, plans) = actionPlans(Console.withOut(shown)(
      BoatPipeline.run(spark, fixture, out, currentYear = 2026, show = true)))

    // clamp scan, validation gate, Parquet sink, summary sink, show
    assert(plans.size == 5, plans.mkString("\n"))
    // no action reads the input file itself: every one goes through a
    // cache, and the caches bottom out in ONE relation over the input
    plans.foreach(p => assert(fileScans(p).isEmpty, p))
    def inputCaches(r: InMemoryRelation): Seq[InMemoryRelation] =
      if (fileScans(r.cachedPlan).nonEmpty) Seq(r)
      else cachedRelations(r.cachedPlan).flatMap(inputCaches)
    val perAction = plans.map(p => cachedRelations(p).flatMap(inputCaches))
    perAction.foreach(rs => assert(rs.nonEmpty))
    assert(perAction.flatten.map(_.cacheBuilder).distinct.size == 1)

    // show printed from the summary cache: no aggregation re-ran
    val showPlan = plans.last
    assert(collect(showPlan) { case a: HashAggregateExec => a }.isEmpty, showPlan)
    assert(cachedRelations(showPlan).forall(r => fileScans(r.cachedPlan).isEmpty))
    assert(shown.toString.contains("Switzerland"))

    // the parsed cache is gone; the returned summary is the one left
    val after = storedRdds() -- before
    assert(after.size == 1, spark.sparkContext.getRDDStorageInfo.mkString("\n"))
    s.unpersist(blocking = true)
    assert((storedRdds() -- before).isEmpty)
  }

  test("run(): the validation gate fails before any sink and leaves no cache") {
    spark.catalog.clearCache()
    val before = storedRdds()
    val out = Files.createTempDirectory("boat_gate").toString
    // every year exceeds 1900, so all clamp to 1965: outside 1800-1900
    intercept[Validate.ValidationException] {
      BoatPipeline.run(spark, fixture, out, currentYear = 1900)
    }
    assert(!Files.exists(Paths.get(out, "data.parquet")))
    assert((storedRdds() -- before).isEmpty)
  }

  test("BoatCli: a value flag given last raises the usage error") {
    // parsing fails before any session is built
    Seq(Array("-i"), Array("-i", "x.csv", "-o"), Array("-i", "x.csv", "--summary"))
      .foreach { args =>
        val e = intercept[RuntimeException](BoatCli.main(args))
        assert(e.getMessage ==
          s"missing value for ${args.last} (usage: -i <csv> -o <dir> -s <dir> [--show])")
      }
  }
}
