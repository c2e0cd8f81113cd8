package graft.etl

import graft.SparkSpec

/** THE parity proof: the full Spark-first pipeline over the
  * reference's real 9,888-row CSV must reproduce the reference's own
  * committed summary (output/data_summary.csv) — every country group,
  * exact counts, averages to double precision (tolerance only for
  * partial-sum reassociation). Canceled, naming the missing files,
  * if the reference checkout is absent. */
class BoatRealDataSpec extends SparkSpec {

  private val realCsv = "/root/reference/data/boat_data.csv"
  private val golden = "/root/reference/output/data_summary.csv"

  private def assumeFiles(paths: String*): Unit = {
    val missing = paths.filterNot(p => new java.io.File(p).exists)
    assume(missing.isEmpty, s"reference files missing: ${missing.mkString(", ")}")
  }

  test("pipeline reproduces the reference's committed 51-row summary") {
    assumeFiles(realCsv, golden)

    val cleaned = BoatPipeline.clean(Parse.load(spark, realCsv))
    assert(cleaned.count() == 9888)

    val got = BoatPipeline.summary(cleaned).collect().map { r =>
      r.getString(0) -> (Option.when(!r.isNullAt(1))(r.getDouble(1)), r.getLong(2))
    }.toMap

    val exp = spark.read.option("header", "true").csv(golden).collect().map { r =>
      r.getString(0) -> (Option(r.getString(1)).filter(_.nonEmpty).map(_.toDouble),
                         r.getString(2).toLong)
    }.toMap

    assert(got.keySet == exp.keySet,
      s"country sets differ: only-engine=${got.keySet -- exp.keySet} only-golden=${exp.keySet -- got.keySet}")
    exp.foreach { case (country, (eAvg, eCnt)) =>
      val (gAvg, gCnt) = got(country)
      assert(gCnt == eCnt, s"$country count: got $gCnt want $eCnt")
      (gAvg, eAvg) match {
        case (Some(g), Some(e)) =>
          assert(math.abs(g - e) <= math.abs(e) * 1e-9,
            s"$country avg: got $g want $e")
        case (g, e) => assert(g == e, s"$country avg nullability: got $g want $e")
      }
    }
  }

  test("cleaned frame matches the reference's committed parquet row for row") {
    val refParquet = "/root/reference/output/data.parquet/data.parquet"
    assumeFiles(realCsv, refParquet)
    import org.apache.spark.sql.functions._

    // pandas stores missing price_eur as NaN; the engine uses null
    val ref = spark.read.parquet(refParquet)
      .withColumn("price_eur",
        when(isnan(col("price_eur")), lit(null)).otherwise(col("price_eur")))
    val mine = BoatPipeline.clean(Parse.load(spark, realCsv))
      .select(ref.columns.map(col): _*)

    assert(mine.count() == 9888 && ref.count() == 9888)
    val onlyMine = mine.exceptAll(ref).count()
    val onlyRef = ref.exceptAll(mine).count()
    assert(onlyMine == 0 && onlyRef == 0,
      s"row-level diff: engine-only=$onlyMine reference-only=$onlyRef")
  }
}
