package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._

/** F2 scrub semantics. The [[AsciiScrub]] kernel must equal the
  * seven-step `regexp_replace` chain it replaced (kept here as the
  * oracle, and replayed by the DuckDB oracles of q12, q33 and q34),
  * under whole-stage codegen and interpreted alike; the driver-side
  * `asciiScrubReference` (which replays the reference's `only_ascii`
  * loop exactly) must agree with both except for the one pinned trim
  * divergence. */
class ScrubSpec extends SparkSpec {
  import spark.implicits._

  /** The regex chain the kernel replaced: special tokens, non-ASCII to
    * space, then the whitespace/punctuation collapse and Spark `trim`. */
  private def regexChain(c: Column): Column = {
    val replaced = Scrub.specialDefault.foldLeft(c) { case (acc, (k, v)) =>
      regexp_replace(acc, java.util.regex.Pattern.quote(k), v)
    }
    val ascii = regexp_replace(replaced, "[^\\x00-\\x7F]", " ")
    val collapse = Seq(" +" -> " ", " ," -> ",", " \"" -> "\"", "\" " -> "\"")
    trim(collapse.foldLeft(ascii) { case (acc, (p, r)) => regexp_replace(acc, p, r) })
  }

  /** Kernel vs chain on column `s` of `lines`, in both modes. An RDD
    * source keeps the optimizer from folding the projection into a
    * local relation, so the codegen mode really compiles the kernel. */
  private def assertKernelMatchesChain(lines: => DataFrame): Unit =
    inBothModes { codegen =>
      val df = lines.select(col("s"), Scrub.asciiScrub(col("s")).as("k"),
                            regexChain(col("s")).as("r"))
      val plan = df.queryExecution.executedPlan
      assert(plan.exists(_.isInstanceOf[WholeStageCodegenExec]) == codegen, plan.toString)
      val bad = df.collect().filter(r => r.get(1) != r.get(2))
      assert(bad.isEmpty, s"codegen=$codegen, kernel != chain on " +
        bad.take(5).map(r => s"[${r.get(0)}] -> k=[${r.get(1)}] r=[${r.get(2)}]").mkString("; "))
    }

  private def rddFrame(inputs: Seq[String]): DataFrame =
    spark.sparkContext.parallelize(inputs, 4).toDF("s")

  private val golden = Seq(
    "Â£ 5170" -> "GBP 5170",
    "Switzerland Â» Lake Geneva Â» VÃ©senaz" ->
      "Switzerland | Lake Geneva | V senaz",
    "Germany Â» BÃ¶nningstedt" -> "Germany | B nningstedt",
    "BÃ©nÃ©teau" -> "B n teau",
    "a  ,  b" -> "a, b", // space-before-comma removed; after kept
    "  already clean  " -> "already clean")

  test("golden dirt classes from the reference CSV") {
    val got = golden.map(_._1).toDF("s").select(Scrub.asciiScrub(col("s")))
      .collect().map(_.getString(0)).toSeq
    assert(got == golden.map(_._2))
    golden.foreach { case (in, want) =>
      assert(Scrub.asciiScrubReference(in) == want)
    }
  }

  test("kernel == regex chain on golden cases and every fixture line") {
    val fixture = scala.io.Source.fromFile(graft.queries.BoatQueries.fixturePath, "UTF-8")
    val lines = try fixture.getLines().toList finally fixture.close()
    assert(lines.size == 22)
    assertKernelMatchesChain(rddFrame(golden.map(_._1) ++ lines :+ null))
  }

  test("column chain == reference fixpoint loop on random dirt (seeded)") {
    // the kernel against the regex chain, then against the reference
    // loop; tokens are the chars of the dirt alphabet plus whole
    // surrogate pairs, `£` against quotes and commas, lone halves of `Â»`
    val tokens = "abXY 19,\"£Â»Ã©éü»\t\u0001".map(_.toString) ++
      Seq("😀", "𝄞", "£\"", "\"£", ",£", "£,", "Â", "»", "Â»", "  ")
    val rnd = new scala.util.Random(42)
    val inputs = Seq.fill(5000) {
      val s = Seq.fill(1 + rnd.nextInt(30))(tokens(rnd.nextInt(tokens.size))).mkString
      if (rnd.nextInt(8) == 0) s + "Â" else s // a trailing lone `Â`
    }
    assertKernelMatchesChain(rddFrame(inputs))
    // the driver-side loop agrees wherever neither end of the result is
    // a char below U+0020 (the divergence pinned below)
    val got = rddFrame(inputs).select(Scrub.asciiScrub(col("s"))).collect().map(_.getString(0))
    val comparable = inputs.zip(got).filter { case (_, k) =>
      k.isEmpty || (k.head >= ' ' && k.last >= ' ')
    }
    assert(comparable.size > inputs.size / 2)
    comparable.foreach { case (in, k) => assert(Scrub.asciiScrubReference(in) == k, s"[$in]") }
  }

  test("kernel == regex chain on malformed UTF-8 (unhex(...).cast(\"string\"))") {
    // bytes chosen to cut sequences short: leads of `£` and `Â»` alone
    // and out of order, truncated 3- and 4-byte leads, overlong and
    // surrogate encodings, stray continuations, ASCII punctuation
    val bytes = Seq("20", "22", "2C", "41", "09", "C2", "A3", "C3", "82", "BB",
                    "E2", "80", "F0", "9F", "98", "ED", "A0", "C0", "FF", "F4", "90")
    val rnd = new scala.util.Random(11)
    val hexes = Seq("C2A3", "C382C2BB", "C3C382C2BB", "E2C2A3", "F09FC2A3",
                    "E180C2A3", "F09F98", "F0C2A3", "EDA080C2A3", "C2") ++
      Seq.fill(5000)(Seq.fill(1 + rnd.nextInt(24))(bytes(rnd.nextInt(bytes.size))).mkString)
    assertKernelMatchesChain(
      spark.sparkContext.parallelize(hexes, 4).toDF("h")
        .select(unhex(col("h")).cast("string").as("s")))
  }

  test("known divergence: driver-side reference trims every char <= U+0020") {
    // Spark `trim` (the column path) strips U+0020 only; String.trim
    // (asciiScrubReference, the small-file multi-line round-trip)
    // strips tabs and control chars at the line ends too
    val cases = Seq(
      // input, column path, driver-side reference
      ("\tEUR 5 \t", "\tEUR 5 \t", "EUR 5"),
      ("\u0001 Acme ", "\u0001 Acme", "Acme"),
      ("Ã©\t", "\t", ""),
      ("a\tb", "a\tb", "a\tb")) // interior control chars agree
    inBothModes { _ =>
      val got = rddFrame(cases.map(_._1))
        .select(Scrub.asciiScrub(col("s")), regexChain(col("s"))).collect()
      cases.zip(got).foreach { case ((in, want, _), r) =>
        assert(r.getString(0) == want && r.getString(1) == want, s"[$in]")
      }
    }
    cases.foreach { case (in, _, ref) => assert(Scrub.asciiScrubReference(in) == ref, s"[$in]") }
  }

  test("scrub is idempotent") {
    val rnd = new scala.util.Random(7)
    val alphabet = "ab ,\"»Ã"
    val inputs = Seq.fill(200) {
      (0 until (1 + rnd.nextInt(20)))
        .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    }
    val once = inputs.map(Scrub.asciiScrubReference(_))
    assert(once.map(Scrub.asciiScrubReference(_)) == once)
  }
}
