package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Deterministic content-hash sampling + the new text operators. */
class SamplingSpec extends SparkSpec {
  import spark.implicits._

  test("hashBucket16 sample is layout-independent and deterministic") {
    val docs = graft.Tables.documents(spark, sf0001)
    val keep = Sampling.hashBucket16($"text") < 2
    val a = docs.filter(keep)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val b = docs.repartition(7).filter(keep)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b, "sample must not depend on partitioning")
    assert(a.nonEmpty && a.size < 500)
    // k16=2 keeps ~12.5%; allow generous band for a 500-doc corpus
    assert(a.size > 20 && a.size < 130, s"rate off: ${a.size}/500")
  }

  test("q72 balanced sample respects the per-source budget and matches the window form") {
    val k = 50
    val rows = Sampling.q72BalancedSample(spark, sf0001, k).collect()
    val perSource = graft.Tables.documents(spark, sf0001)
      .groupBy($"source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = rows.groupBy(_.getString(0))
    assert(got.keySet == perSource.keySet)
    got.foreach { case (src, g) =>
      assert(g.length == math.min(k.toLong, perSource(src)),
        s"$src: kept ${g.length} of budget $k (source has ${perSource(src)})")
      assert(g.map(_.getLong(2)).sorted.toSeq == (1L to g.length).toSeq,
        s"$src: ranks must be dense from 1")
    }
    // aggregator must agree with the window formulation exactly
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"source")
      .orderBy(Sampling.hashRank52($"text"), $"doc_id")
    val windowForm = graft.Tables.documents(spark, sf0001)
      .select($"source", $"doc_id", row_number().over(w).as("rk"))
      .filter($"rk" <= k)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2).toLong)).toSet
    assert(rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      == windowForm)
  }

  test("q55 finds and redacts planted PII") {
    val df = Seq(
      (1L, "contact john.doe@example.com or +1 555-123-4567 today"),
      (2L, "ssn 123-45-6789 and email a@b.io plus 987-65-4321"),
      (3L, "clean text with no pii at all")
    ).toDF("doc_id", "text")
    val emails = df.select(size(regexp_extract_all($"text",
      lit(TextOps.emailRe), lit(0))).as("n")).collect().map(_.getInt(0))
    assert(emails.sameElements(Array(1, 1, 0)))
    val redacted = df.select(regexp_replace(regexp_replace(regexp_replace(
        $"text", TextOps.emailRe, "[EMAIL]"),
        TextOps.phoneRe, "[PHONE]"),
        TextOps.ssnRe, "[SSN]").as("r"))
      .collect().map(_.getString(0))
    assert(redacted(0).contains("[EMAIL]") && redacted(0).contains("[PHONE]"))
    assert(redacted(1).contains("[SSN]") && redacted(1).contains("[EMAIL]"))
    assert(redacted(2) == "clean text with no pii at all")
    assert(!redacted.exists(_.contains("example.com")))
  }

  test("q55 placeholder-derived counts match redactions performed") {
    val df = Seq(
      (1L, "contact john.doe@example.com or +1 555-123-4567 today"),
      (2L, "ssn 123-45-6789 and email a@b.io plus 987-65-4321"),
      (3L, "clean text with no pii at all"),
      // literal placeholder already in the text must NOT count
      (4L, "fake [EMAIL] marker but real bob@corp.net here"),
      // a phone-shaped local part is consumed by the email redaction:
      // counted as the email it was part of, not double-counted
      (5L, "odd address 555-123-4567@pbx.example.org rings")
    ).toDF("doc_id", "text")
    val rows = TextOps.piiRedact(df).orderBy($"doc_id").collect()
    val counts = rows.map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(counts(0) == ((1L, 1L, 0L)))
    assert(counts(1) == ((1L, 0L, 2L)), s"got ${counts(1)}")
    assert(counts(2) == ((0L, 0L, 0L)))
    assert(counts(3) == ((1L, 0L, 0L)), "pre-existing literal [EMAIL] must not count")
    assert(counts(4) == ((1L, 0L, 0L)), "phone inside email counts once, as the email")
  }

  test("q58 CMS estimates bound the exact counts from above within eps*N") {
    // r12: q58 rides the replayable d=4 × w=2048 sketch (oracle-gated);
    // the CMS guarantee is unchanged — never underestimates, overcount
    // within a small multiple of N/w
    val rows = TextOps.q58HeavyHitters(spark, sf0001).collect()
    assert(rows.length == 25)
    val nTokens = graft.Tables.documents(spark, sf0001)
      .select(explode(TextOps.tokens($"text"))).count()
    rows.foreach { r =>
      val (freq, est) = (r.getLong(1), r.getLong(2))
      assert(est >= freq, s"CMS must never underestimate: ${r.getString(0)}")
      assert(est - freq <= 2L * (nTokens / 2048L + 1L),
        s"${r.getString(0)}: est=$est freq=$freq beyond 2*N/w")
    }
    // agreement with q45's exact top-25 token set
    val q45 = TextOps.q45TokenFreq(spark, sf0001).collect().map(_.getString(0)).toSet
    assert(rows.map(_.getString(0)).toSet == q45)
    spark.catalog.clearCache()
  }

  test("q61 chunking covers every token exactly once with a ragged tail") {
    val rows = TextOps.q61ChunkDocs(spark, sf0001).collect()
    val byDoc = rows.groupBy(_.getLong(0))
    val nTokens = graft.Tables.documents(spark, sf0001)
      .select(col("doc_id"), size(TextOps.tokens(col("text"))).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    byDoc.foreach { case (doc, chunks) =>
      val sorted = chunks.sortBy(_.getLong(1))
      // chunk numbering is dense from 0
      assert(sorted.map(_.getLong(1)).toSeq == sorted.indices.map(_.toLong))
      // all full except possibly the last; total covers the doc exactly
      assert(sorted.init.forall(_.getLong(2) == 64L))
      assert(sorted.map(_.getLong(2)).sum == nTokens(doc))
      assert(sorted.last.getLong(2) >= 1 && sorted.last.getLong(2) <= 64)
    }
  }

  test("q54 ranks a planted distinctive term on a literal corpus") {
    // the distinctive term (high tf, df=1) must beat common terms
    val rows = TextOps.q54TfIdf(spark, sf0001).collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      assert(r.getLong(2) >= 1 && r.getLong(3) >= 1) // tf, df sane
    }
  }

  test("q84 temperature mixing up-weights the small source, halves nothing big") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("tmix").toString
    // big: 4 docs -> threshold 2^20 (keep all); small: 1 doc ->
    // sqrt(1/4) = 0.5 -> threshold 524288. "petit doc" has 20-bit
    // content bucket 776318 ≥ 524288, so it must be DROPPED; swap in
    // "tiny one" (bucket 141790) and it must be KEPT.
    def write(smallText: String): Unit =
      (Seq((1L, "aa bb", "big"), (2L, "cc dd", "big"), (3L, "ee ff", "big"),
           (4L, "gg hh", "big"), (5L, smallText, "small")))
        .toDF("doc_id", "text", "source")
        .withColumn("lang", lit("en"))
        .withColumn("n_chars", length($"text").cast("long"))
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    def kept(): Map[String, (Long, Long, Long)] =
      Sampling.q84TemperatureMix(spark, tmp).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
        .toMap
    write("petit doc")
    val a = kept()
    assert(a("big") == ((4L, 1048576L, 4L)))
    assert(a("small") == ((1L, 524288L, 0L)), s"got ${a("small")}")
    write("tiny one")
    val b = kept()
    assert(b("small") == ((1L, 524288L, 1L)), s"got ${b("small")}")
  }

  test("q85 inverted index: hand-computed postings on a tiny corpus") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("invidx").toString
    Seq((1L, "a b"), (2L, "b c b"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    def md5s(x: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(x.getBytes)
        .map("%02x".format(_)).mkString
    val got = Sampling.q85InvertedIndex(spark, tmp).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(got("a") == ((1L, 1L, 1L, md5s("1"))))
    assert(got("b") == ((2L, 1L, 2L, md5s("1,2")))) // within-doc repeat collapses
    assert(got("c") == ((1L, 2L, 2L, md5s("2"))))
    // df-cap contract: above the cap the row keeps df + bounds but
    // carries NO posting md5 (the list is never collected)
    val capped = Sampling.q85InvertedIndex(spark, tmp, dfCap = 1).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), Option(r.getString(4))))).toMap
    assert(capped("b") == ((2L, 1L, 2L, None)))
    assert(capped("a") == ((1L, 1L, 1L, Some(md5s("1")))))
  }

  test("q229 DSIR weights rank target-like docs first") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("dsir").toString
    // md5-nibble-0 slice is content-defined, so plant texts whose nib
    // lands where we need it: probe until we have target docs made of
    // "aa" and raw docs of "bb"/"aa" mixes
    def nib(t: String): Long =
      java.lang.Long.parseLong(java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes).map("%02x".format(_)).mkString.substring(31), 16)
    def find(base: String, want: Boolean): String =
      LazyList.from(0).map(i => s"$base x$i").find(t => (nib(t) == 0) == want).get
    val target = (1 to 3).map(i => find("aa aa aa aa" + " aa" * i, true))
    val rawAa = find("aa aa aa aa aa aa aa aa", false) // target-like raw doc
    val rawBb = (1 to 3).map(i => find("bb bb bb bb" + " bb" * i, false))
    val texts = target ++ Seq(rawAa) ++ rawBb
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = Sampling.q229DsirWeights(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    // the aa-heavy raw doc must outrank every bb doc, with a
    // strictly positive importance weight
    assert(rows.head._1 == 3L, s"got ${rows.toSeq}")
    assert(rows.head._2 > 0L)
    assert(rows.tail.forall(_._2 < rows.head._2))
  }

  test("q93 deciles are equi-depth and ordered by length") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("dec").toString
    // 10 docs, lengths 1..10 -> one per decile, min == max == length
    (1L to 10L).map(i => (i, "t")).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", $"doc_id")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = Sampling.q93DecileBins(spark, tmp).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq == (1L to 10L).map(i => (i, 1L, i, i)))
  }

  test("q93b approx fences respect the sketch rank bound; bins cover every doc") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, sf0001)
      .select(col("source"), col("n_chars"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val approx = Sampling.q93bApproxDecileBins(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
                 r.getLong(4), r.getLong(5)))
    // coverage: bins partition each source exactly
    approx.groupBy(_._1).foreach { case (src, bins) =>
      assert(bins.map(_._3).sum == docs(src).length, s"$src: docs lost")
      assert(bins.forall(b => b._2 >= 1 && b._2 <= 10), s"$src: bin out of range")
      assert(bins.forall(b => b._4 <= b._5), s"$src: min > max")
    }
    // rank bound: every bin boundary sits within the sketch's rank
    // error (n/accuracy, +1 for ties/interpolation) of the exact
    // k*n/10 rank — the contract approx_percentile promises
    val exactBins = Sampling.q93DecileBins(spark, sf0001).collect()
      .map(r => ((r.getString(0), r.getLong(1)), r.getLong(2))).toMap
    approx.foreach { case (src, bin, n, _, maxC, _) =>
      val vals = docs(src)
      val nTot = vals.length
      val slack = nTot / 10000 + 1
      if (bin < 10) {
        // rank of this bin's upper bound must be near bin*n/10
        val rankUpper = vals.count(_ <= maxC)
        assert(rankUpper >= bin * nTot / 10 - slack - n,
          s"$src bin $bin: fence rank $rankUpper far below ${bin * nTot / 10}")
      }
      // occupancy drift vs the exact ntile twin is bounded: ties all
      // land in one approx bin but split across ntile bins, so allow
      // the largest tie group as drift
      val maxTie = vals.groupBy(identity).values.map(_.size).max
      val exact = exactBins.getOrElse((src, bin), 0L)
      assert(math.abs(n - exact) <= maxTie + slack,
        s"$src bin $bin: occupancy $n vs exact $exact drift > $maxTie")
    }
  }

  test("q103 keeps the longest-first prefix that fits the token budget") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("tb").toString
    Seq(
      (1L, "a b c d e f"),   // 6 tokens
      (2L, "a b c d e"),     // 5 tokens -> cum 11 > 10, dropped
      (3L, "a b"),           // 2 tokens -> greedy is prefix-only: still dropped
      (4L, "x y z")          // other source: kept (3 <= 10)
    ).toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", when($"doc_id" === 4L, "s2").otherwise("s1"))
      .withColumn("n_chars", length($"text"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = Sampling.q103TokenBudget(spark, tmp, budget = 10).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(("s1", 1L, 6L, 6L), ("s2", 4L, 3L, 3L)))
  }

  test("q121 flags positional split leakage, never content-hash leakage") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("leak").toString
    Seq(
      (1L, "duplicated text one"),   // positional: train
      (85L, "duplicated text one"),  // positional: val -> LEAKED group
      (2L, "duplicated text two"),   // positional: train
      (3L, "duplicated text two"),   // positional: train -> same split, clean
      (4L, "a singleton")            // not a dup group
    ).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val r = Sampling.q121SplitLeakage(spark, tmp).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((2L, 1L, 0L)))
  }

  test("q105 weighted sample agrees with the window form; weight lowers priority") {
    import org.apache.spark.sql.functions._
    // BottomK-aggregate result == window replay on the real corpus
    val agg = Sampling.q105WeightedSample(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("prio"), col("doc_id"))
    val win = graft.Tables.documents(spark, sf0001)
      .select(col("source"), col("doc_id"),
              Sampling.hashRank52(col("text")).as("h"), col("n_chars"))
      .withColumn("prio", expr("h div n_chars"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 10)
      .select("source", "doc_id", "prio", "rk")
      .orderBy("source", "rk").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(agg.toSeq == win.toSeq)
    // the weighting itself: same text hash, 100x weight -> 100x smaller prio
    val h = graft.Tables.documents(spark, sf0001).limit(1)
      .select(Sampling.hashRank52(col("text"))).first().getLong(0)
    assert(h / 100 < h, "priority must shrink with weight")
  }
  test("q151 shards partition each source's token stream contiguously") {
    val rows = Sampling.q151ShardPack(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
                 r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    val totals = graft.Tables.documents(spark, sf0001)
      .select(col("source"),
        size(TextOps.tokens(col("text"))).cast("long").as("n"))
      .groupBy(col("source")).agg(sum(col("n")).as("t"), count(lit(1)).as("d"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    rows.groupBy(_._1).foreach { case (src, shards) =>
      assert(shards.map(_._4).sum == totals(src)._1,
        s"$src: shard tokens must total the source tokens")
      assert(shards.map(_._3).sum == totals(src)._2)
      assert(shards.map(_._2).sorted.toSeq ==
        (0L until shards.length.toLong).toSeq,
        s"$src: shard ids must be contiguous from 0")
      // doc spans must not overlap across consecutive shards
      val byId = shards.sortBy(_._2)
      byId.sliding(2).foreach {
        case Array(a, b) => assert(a._6 < b._5, s"$src: spans overlap")
        case _ =>
      }
    }
  }

  test("q153 length-bucketed batching never pads more than arrival order") {
    val rows = Sampling.q153PadBatching(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (src, nBatches, arrival, bucketed) =>
      assert(nBatches > 0)
      assert(bucketed <= arrival,
        s"$src: sorting by length must not increase padding ($bucketed > $arrival)")
      assert(bucketed >= 0 && arrival >= 0)
    }
  }

  test("q171 curriculum order is a quality-descending round-robin interleave") {
    val rows = Sampling.q171CurriculumOrder(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
                 r.getLong(4)))
    val nDocs = graft.Tables.documents(spark, sf0001).count()
    assert(rows.length == nDocs, "every document gets a position")
    assert(rows.map(_._5).distinct.length == rows.length,
      "global positions must be unique")
    val sources = rows.map(_._2).distinct.sorted
    val srcIdx = sources.zipWithIndex.map { case (s, i) => s -> (i + 1L) }.toMap
    val nSrc = sources.length
    rows.groupBy(_._2).foreach { case (src, g) =>
      val byRank = g.sortBy(_._4)
      assert(byRank.map(_._4).toSeq == (1L to g.length).toSeq,
        s"$src: per-source ranks must be dense from 1")
      // curriculum: quality score never increases as rank grows
      byRank.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._3 >= b._3, s"$src: score rose ${a._3} -> ${b._3}")
          // determinism: equal scores break ties by doc_id
          if (a._3 == b._3) assert(a._1 < b._1, s"$src: tie-break order")
        case _ =>
      }
      // round-robin slotting: source s occupies positions ≡ src_idx (mod S)
      g.foreach { case (_, _, _, rn, pos) =>
        assert(pos == (rn - 1) * nSrc + srcIdx(src),
          s"$src rank $rn landed at $pos")
      }
    }
  }

  test("q177 waterfill caps the starved source and redistributes") {
    // A: 10 tokens, B: 100, C: 100 → total 210, budget 105, base 35.
    // A capped at 10; fixpoint level = (105 - 10) div 2 = 47 for B/C.
    val tmp = java.nio.file.Files.createTempDirectory("mix").toString
    def doc(id: Long, n: Int, src: String) =
      (id, Seq.fill(n)("w").mkString(" "), src)
    (Seq(doc(1, 10, "a")) ++ (2 to 11).map(i => doc(i, 10, "b")) ++
      (12 to 21).map(i => doc(i, 10, "c")))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = Sampling.q177MixAllocation(spark, tmp).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got("a") == ((10L, 35L, 1L, 10L)), s"capped source: ${got("a")}")
    assert(got("b") == ((100L, 35L, 0L, 47L)), s"uncapped: ${got("b")}")
    assert(got("c") == ((100L, 35L, 0L, 47L)), s"uncapped: ${got("c")}")
    // invariant: never allocate more than the budget (105)
    assert(got.values.map(_._4).sum <= 105L)
  }

  test("q177 waterfill iterates when the redistribution caps a second source") {
    // A: 2, B: 13, C: 60 → total 75, budget 37, base 12. Round 1 caps
    // only A (2 < 12) and lifts the level to (37-2) div 2 = 17 — which
    // caps B (13 < 17); round 2 lifts to (37-15) div 1 = 22 and
    // converges. r7's single-round contract would have left B at 13
    // but C at only min(60, 12+5) = 17, stranding 5 budget tokens;
    // the fixpoint allocates 2 + 13 + 22 = 37 = the whole budget.
    val tmp = java.nio.file.Files.createTempDirectory("mixfp").toString
    def doc(id: Long, n: Int, src: String) =
      (id, Seq.fill(n)("w").mkString(" "), src)
    Seq(doc(1, 2, "a"), doc(2, 13, "b"), doc(3, 60, "c"))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = Sampling.q177MixAllocation(spark, tmp).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got("a") == ((2L, 12L, 1L, 2L)), s"round-1 cap: ${got("a")}")
    assert(got("b") == ((13L, 12L, 1L, 13L)), s"round-2 cap: ${got("b")}")
    assert(got("c") == ((60L, 12L, 0L, 22L)), s"fixpoint level: ${got("c")}")
    assert(got.values.map(_._4).sum == 37L, "fixpoint exhausts the budget")
  }

  test("q182 curated mix stops at the budget boundary, hand-computed") {
    val tmp = java.nio.file.Files.createTempDirectory("mix").toString
    // every doc passes q73's rules: 35 tokens (2×'the' + 33 unique
    // 5-char), stop ratio 2/35, uniq 34/35, avg token len 171/35≈4.9.
    def docText(docTag: String): String =
      ("the" +: (1 to 33).map(i => f"${docTag}w$i%02d") :+ "the").mkString(" ")
    val rows =
      (1L to 4L).map(i => (i, "a", docText(s"a$i"))) ++
      (11L to 12L).map(i => (i, "b", docText(s"b$i")))
    rows.toDF("doc_id", "source", "text")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    // avail: a=140, b=70 → budget=105, base=52, level fixpoint 52
    // (no source below 52) → final_alloc 52 each; docs are 35 tokens,
    // so each source fits exactly ONE doc (35+35 > 52)
    val got = Sampling.q182CuratedMix(spark, tmp).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == Map(
      "a" -> ((52L, 1L, 35L, 35L * 1000000L / 52L)),
      "b" -> ((52L, 1L, 35L, 35L * 1000000L / 52L))), s"got $got")
  }

  test("q192 DSIR weights match the hand-computed smoothed ratios") {
    import spark.implicits._
    // target = en. Corpus: d1(en)="x x y", d2(fr)="x y", d3(fr)="z z z".
    // a: x=2,y=1,z=0; b: x=3,y=2,z=3; Nt=3, Nc=8, V=3.
    // s(w) = (a+1)·1e6·11 div ((b+1)·6):
    //   s(x)=33e6/24=1375000, s(y)=22e6/18=1222222, s(z)=11e6/24=458333.
    // w(d1)=(2·1375000+1222222)/3=1324074, w(d2)=2597222/2=1298611,
    // w(d3)=458333 — the en-like docs outrank the off-target one,
    // regardless of their own lang tag.
    val tmp = java.nio.file.Files.createTempDirectory("dsir").toString
    Seq(
      (1L, "x x y", "en", "s1"),
      (2L, "x y",   "fr", "s1"),
      (3L, "z z z", "fr", "s2")
    ).toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = Sampling.q192DsirWeights(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq((1L, 3L, 1324074L), (2L, 2L, 1298611L),
                            (3L, 3L, 458333L)), s"got ${got.mkString(", ")}")
    spark.catalog.clearCache()
  }
  test("q210 cell caps: ceiling cap, hash-ranked survivors, exact kept mass") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("caps").toString
    // cell (s1,en): 5 docs; cell (s2,fr): 1 doc -> N=6, cells=2,
    // cap = ceil(6 / 4) = 2
    val docs = Seq(
      (1L, "alpha beta", "en", "s1", 10L),
      (2L, "gamma delta", "en", "s1", 11L),
      (3L, "epsilon zeta", "en", "s1", 12L),
      (4L, "eta theta", "en", "s1", 13L),
      (5L, "iota kappa", "en", "s1", 14L),
      (6L, "lambda mu", "fr", "s2", 20L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    // expected survivors of the s1 cell: the 2 smallest content-hash
    // ranks, computed through the SAME public hash
    val ranked = docs.filter(_._4 == "s1")
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .select($"doc_id", $"n_chars", Sampling.hashRank52($"text").as("h"))
      .collect().map(r => (r.getLong(2), r.getLong(0), r.getLong(1)))
      .sortBy(t => (t._1, t._2)).take(2)
    val wantChars = ranked.map(_._3).sum
    val got = Sampling.q210CellCaps(spark, tmp).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
                 r.getLong(4), r.getLong(5)))
    assert(got.toSeq == Seq(
      ("s1", "en", 5L, 2L, 2L, wantChars),
      ("s2", "fr", 1L, 2L, 1L, 20L)), s"got ${got.mkString(", ")}")
    spark.catalog.clearCache()
  }
}
