package graft.etl

import graft.SparkSpec
import java.nio.file.Files

/** Parse.load path selection (VERDICT r1 #1): single-line corpora must
  * take the fully splittable from_csv path (no Coalesce, no temp-file
  * round-trip); corpora with quoted embedded newlines must fall back
  * to the multiLine round-trip and still parse records whole.
  */
class ParseSpec extends SparkSpec {

  test("single-line corpus takes the splittable path (no Coalesce in plan)") {
    val df = Parse.load(spark, graft.queries.BoatQueries.fixturePath)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Coalesce"), s"splittable path must not coalesce:\n$plan")
    assert(plan.contains("from_csv") || plan.toLowerCase.contains("csvtostruct"),
      s"expected per-line from_csv parse:\n$plan")
    assert(df.count() == 20) // 20 data rows in the fixture
  }

  test("multi-line quoted records are auto-detected and parsed whole") {
    val dir = Files.createTempDirectory("parse_ml")
    val csv = dir.resolve("ml.csv")
    Files.writeString(csv,
      Parse.header + "\n" +
      "EUR 1000,Sport Boat,Acme,Used boat,2000,5.0,2.0,GRP,Germany | Berlin,10\n" +
      "EUR 2000,Sport Boat,\"Multi\nLine Mfg\",Used boat,2001,6.0,2.5,GRP,France | Paris,20\n")
    val df = Parse.load(spark, csv.toString)
    assert(df.count() == 2)
    val mfgs = df.select("Manufacturer").collect().map(_.getString(0)).toSet
    // the scrub collapses the doubled space left by the newline-adjacent join
    assert(mfgs.contains("Acme"))
    assert(mfgs.exists(_.startsWith("Multi")), s"multi-line record lost: $mfgs")
  }

  // A directory is not a regular file, so detection skips the driver
  // byte scan and runs the distributed OddQuotes scan.

  test("directory input: a multi-line record in the second part file takes the round-trip") {
    val dir = Files.createTempDirectory("parse_ml_dir")
    Files.writeString(dir.resolve("part-00000.csv"),
      Parse.header + "\n" +
      "EUR 1000,Sport Boat,Acme,Used boat,2000,5.0,2.0,GRP,Germany Â» Berlin,10\n")
    Files.writeString(dir.resolve("part-00001.csv"),
      Parse.header + "\n" +
      "EUR 1500,Sport Boat,\"Br, Co\",Used boat,2002,5.5,2.1,GRP,Spain Â» Ibiza,15\n" +
      "EUR 2000,Sport Boat,\"Multi\nLine Mfg\",Used boat,2001,6.0,2.5,GRP,France Â» Paris,20\n")
    val df = Parse.load(spark, dir.toString)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("from_csv") && !plan.toLowerCase.contains("csvtostruct"),
      s"expected the multiLine CSV re-read, not per-line parsing:\n$plan")
    val mfgs = df.select("Manufacturer").collect().map(_.getString(0)).toSet
    assert(mfgs == Set("Acme", "Br, Co", "Multi\nLine Mfg"), s"records not parsed whole: $mfgs")
  }

  test("directory input: single-line files with non-ASCII next to quotes stay splittable") {
    val dir = Files.createTempDirectory("parse_sl_dir")
    Files.writeString(dir.resolve("part-00000.csv"),
      Parse.header + "\n" +
      "Â£ 1000,Sport Boat,\"Ã©cole, LtdÂ»\",Used boat,2000,5.0,2.0,GRP,\"Â»Germany Â» Berlin\",10\n")
    Files.writeString(dir.resolve("part-00001.csv"),
      Parse.header + "\n" +
      "EUR 2000,Sport Boat,Ã¼\"Ã¼ Acme Ã¼\"Ã¼,Used boat,2001,6.0,2.5,GRP,France Â» Paris,20\n")
    val df = Parse.load(spark, dir.toString)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Coalesce"), s"splittable path must not coalesce:\n$plan")
    assert(plan.contains("from_csv") || plan.toLowerCase.contains("csvtostruct"),
      s"expected per-line from_csv parse:\n$plan")
    val rows = df.select("Price", "Manufacturer", "Location").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(rows == Set(("GBP 1000", "cole, Ltd|", "|Germany | Berlin"),
                       ("EUR 2000", "Acme", "France | Paris")), s"$rows")
  }

  test("explicit multiLine override skips detection") {
    val df = Parse.load(spark, graft.queries.BoatQueries.fixturePath,
      multiLine = Some(false))
    assert(df.count() == 20)
  }
}
