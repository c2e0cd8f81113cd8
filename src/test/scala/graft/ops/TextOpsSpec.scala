package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  test("shingles: 3-grams, distinct, short docs empty") {
    val df = Seq(
      (1L, Seq("a", "b", "c", "d")),
      (2L, Seq("a", "b")),           // too short -> empty
      (3L, Seq("x", "y", "z", "x", "y", "z", "x")) // dup shingles collapse
    ).toDF("id", "toks")
    val sh = df.select($"id", TextOps.shingles($"toks").as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(sh(1L) == Seq("a b c", "b c d"))
    assert(sh(2L) == Seq())
    assert(sh(3L).length == sh(3L).distinct.length)
    assert(sh(3L).contains("x y z"))
  }

  test("quality score ratios are consistent") {
    val r = TextOps.q20QualityScore(spark, sf0001)
      .filter($"n_tokens" > 0).limit(50).collect()
    r.foreach { row =>
      val (n, uniq) = (row.getLong(1), row.getLong(2))
      assert(uniq <= n)
      assert(row.getDouble(3) >= 0 && row.getDouble(3) <= 1) // stop_ratio
      assert(row.getDouble(4) > 0 && row.getDouble(4) <= 1)  // unique_ratio
    }
  }

  test("q188 BPE: greedy merges on a hand corpus, odd runs included") {
    // corpus: "abab abab aaaa" -> pair counts (a,b)=4, (b,a)=2, (a,a)=3
    // round 1 merges (a,b); round 2 merges whatever is next — the
    // hand-check is round 1's rewrite, especially the odd-run word
    // "aaaa" staying un-merged by (a,b) and " a b a b " -> " ab ab "
    val tmp = java.nio.file.Files.createTempDirectory("bpe").toString
    Seq((1L, "abab abab aaaa")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = TextOps.q188BpeMerges(spark, tmp, merges = 2).collect()
    assert(rows.length == 2)
    assert((rows(0).getString(1), rows(0).getString(2)) == ("a", "b"),
      s"round 1 must merge the most frequent pair (a,b): ${rows(0)}")
    assert(rows(0).getLong(4) == 4L)
    // round 2: after " a b a b " -> " ab ab ", pairs are
    // (ab,ab)=2 and from "aaaa": (a,a)=3 -> merges (a,a).
    // "aaaa" = " a a a a ": ONE replace pass yields " aa a a";
    // the second pass closes the carry -> " aa aa " — the pinned
    // double-replacement semantics
    assert((rows(1).getString(1), rows(1).getString(2)) == ("a", "a"),
      s"round 2 must merge (a,a): ${rows(1)}")
    assert(rows(1).getLong(4) == 3L)
    spark.catalog.clearCache()
  }

  test("BPE trainer breaks count ties in UTF-8 byte order, as DuckDB does") {
    // five words of one pair each, every pair counting 1, so the pair
    // order alone picks each merge. U+FB01 sorts BEFORE U+1F600 in
    // UTF-8 bytes (EF.. < F0..) but AFTER it in UTF-16 units
    // (FB01 > D83D): String.compareTo would swap rounds 2/3 and 4/5.
    // Round 6 finds no pair left and ends training early.
    val (fi, smile) = ("\uFB01", new String(Character.toChars(0x1F600)))
    val vocab = Seq(s" x $fi ", s" x $smile ", s" $fi y ", s" $smile y ", " x y ")
      .map(_ -> 1L).toDF("sym", "cnt")
    val got = TextOps.bpeTrain(vocab, merges = 6).map(m => (m._2, m._3))
    assert(got == Seq(("x", "y"), ("x", fi), ("x", smile), (fi, "y"), (smile, "y")),
      s"merge order: $got")
  }

  test("q191 BPE encode: trained merges tokenize the hand corpus exactly") {
    // same corpus as the q188 spec — merges learned: (a,b) then (a,a).
    // Encoding: "abab" -> " ab ab " (2 tokens); "aaaa" -> " aa aa "
    // (2 tokens, via the pinned double replacement closing the odd-run
    // carry). Totals: 3 words, 12 chars, 6 BPE tokens, ratio 2.0.
    val tmp = java.nio.file.Files.createTempDirectory("bpeenc").toString
    Seq((1L, "abab abab aaaa", "s0")).toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = TextOps.q191BpeEncode(spark, tmp, merges = 2).collect()
    assert(rows.length == 1)
    val r = rows(0)
    assert(r.getString(0) == "s0")
    assert(r.getLong(1) == 3L, s"n_words: $r")
    assert(r.getLong(2) == 12L, s"n_chars: $r")
    assert(r.getLong(3) == 6L, s"n_bpe_tokens: $r")
    assert(r.getLong(4) == 2000000L, s"chars_per_token_micro: $r")
    spark.catalog.clearCache()
  }

  test("q198 sentiment: polarity classes and shifted intensity, hand-computed") {
    // d1 "fast fast slow" → net +2 (pos); d2 "slow slow big" → −3
    // (neg); d3 "table row" → 0 (neu). Source rollup: snet = −1,
    // stok = 8 → net_micro = (−1 + 24)·1e6 div 8 − 3e6 = −125000.
    val tmp = java.nio.file.Files.createTempDirectory("senti").toString
    Seq((1L, "fast fast slow", "s0"), (2L, "slow slow big", "s0"),
        (3L, "table row", "s0"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val r = TextOps.q198LexiconSentiment(spark, tmp).collect()
    assert(r.length == 1)
    assert((1 to 4).map(r(0).getLong).toSeq == Seq(3L, 1L, 1L, 1L),
      s"classes: ${r(0)}")
    assert(r(0).getLong(5) == -125000L, s"net_micro: ${r(0)}")
  }

  test("lang id prefers the language with most marker hits") {
    val scored = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "le chat et la vache de paris"),
      (3L, "qqq www eee")
    ).toDF("doc_id", "text")
    // replicate the operator's scoring on a literal frame via the
    // same code path: write to a temp view shape q21 expects
    val tmp = java.nio.file.Files.createTempDirectory("docs").toString
    scored.withColumn("lang", lit("xx")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextOps.q21LangId(spark, tmp)
      .select("doc_id", "lang_guess")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "en")
    assert(got(2L) == "fr")
    assert(got(3L) == "unknown")
  }

  test("repetition ratio flags degenerate text, not varied text") {
    val tmp = java.nio.file.Files.createTempDirectory("rep").toString
    Seq(
      (1L, "spam spam spam spam spam spam spam spam"), // 6 trigrams, 1 distinct
      (2L, "each word here appears exactly once today"),
      (3L, "too short")                                 // < 3 tokens -> 0 trigrams
    ).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextOps.q68Repetition(spark, tmp)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1L) == ((6L, 1L, 0.833333)))
    assert(got(2L)._1 == got(2L)._2 && got(2L)._3 == 0.0) // all distinct
    assert(got(3L) == ((0L, 0L, 0.0)))
  }

  test("quality filter attributes each doc to its first failing rule") {
    val tmp = java.nio.file.Files.createTempDirectory("qf").toString
    def words(n: Int, len: Int): Seq[String] =
      (0 until n).map(i => ("w" + i).padTo(len, 'x'))
    val kept       = ("the" +: words(39, 5)).mkString(" ")
    val tooShort   = "only five words right here"
    val noStops    = words(40, 5).mkString(" ")           // 0 stopword hits
    val repetitive = Seq.fill(20)("the cat").mkString(" ") // 2 uniq / 40
    val longTokens = ("the" +: words(39, 12)).mkString(" ") // avg len ~11.8
    Seq((1L, kept, "s1"), (2L, tooShort, "s1"), (3L, noStops, "s1"),
        (4L, repetitive, "s2"), (5L, longTokens, "s2"))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextOps.q73QualityFilter(spark, tmp)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6)))).toMap
    // s1: 3 docs — 1 kept, 1 too-short, 1 stopword-starved
    assert(got("s1") == ((3L, 1L, 1L, 1L, 0L, 0L)))
    // s2: 2 docs — 1 repetitive, 1 degenerate token length
    assert(got("s2") == ((2L, 0L, 0L, 0L, 1L, 1L)))
  }

  test("q77 BM25: zero-hit docs score 0; more hits outrank fewer at equal length") {
    val tmp = java.nio.file.Files.createTempDirectory("bm25").toString
    Seq(
      (1L, "spark join window hash aa bb"), // all four terms
      (2L, "spark aa bb cc dd ee"),         // one term, same length
      (3L, "aa bb cc dd ee ff")             // no terms
    ).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextOps.q77Bm25(spark, tmp)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got(3L) == 0L, "no query term -> zero score")
    assert(got(1L) > got(2L), "four hits must outrank one at equal dl")
    assert(got(2L) > 0L)
  }

  test("q79 LM quality: hand-computed micro scores on a tiny corpus") {
    val tmp = java.nio.file.Files.createTempDirectory("lmq").toString
    // corpus tokens: aa×3, bb×2, cc×1 -> n_corpus = 6, all in top-64
    Seq((1L, "aa aa bb"), (2L, "aa bb cc"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextOps.q79LmQuality(spark, tmp)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // doc 1: freqs 3+3+2 = 8 -> 8e6 div (3*6) = 444444
    assert(got(1L) == ((3L, 8L, 444444L)))
    // doc 2: freqs 3+2+1 = 6 -> 6e6 div 18 = 333333
    assert(got(2L) == ((3L, 6L, 333333L)))
  }

  test("q179 CMS: planted heavy hitter tops the sketch ranking; no underestimates") {
    val tmp = java.nio.file.Files.createTempDirectory("cms").toString
    // token "hot" occurs 5× in each of 40 docs (200 total); every doc
    // also carries 4 unique tail tokens (u<i>_*) — a Zipf-ish corpus
    // where the sketch must surface "hot" first despite 160 tail types
    val rows = (1L to 40L).map { i =>
      (i, s"hot hot hot hot hot u${i}_a u${i}_b u${i}_c u${i}_d")
    }
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextOps.q179CmsHeavyHitters(spark, tmp).collect()
    assert(got.head.getString(0) == "hot", "sketch ranking must lead with the heavy hitter")
    assert(got.head.getLong(2) == 200L, "exact count rides alongside")
    // defining CMS guarantee: estimate >= exact count, always
    got.foreach { r =>
      assert(r.getLong(1) >= r.getLong(2), s"underestimate at ${r.getString(0)}")
      assert(r.getLong(3) == r.getLong(1) - r.getLong(2))
    }
  }

  test("q92 flags the planted length outlier by exact integer algebra") {
    val tmp = java.nio.file.Files.createTempDirectory("outl").toString
    // 10 docs of 100 chars + one of 500: n=11, S=1500, Q=350000
    // dev(500) = 11*500-1500 = 4000; 4000^2 = 16e6 > 4*(11*Q - S^2) = 6.4e6
    // dev(100) = -400; 160000 < 6.4e6 -> only the long doc is an outlier
    val rows = (1L to 10L).map(i => (i, 100L)) :+ (99L, 500L)
    rows.toDF("doc_id", "n_chars")
      .withColumn("text", lit("t")).withColumn("lang", lit("en"))
      .withColumn("source", lit("s"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextOps.q92OutlierLengths(spark, tmp).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getLong(1) == 11L)
    assert(r.getLong(2) == 1500L * 1000000L / 11L)
    assert(r.getLong(3) == 1L)
    assert(r.getLong(4) == 99L && r.getLong(5) == 99L)
  }

  test("q109 drift: zero for corpus-identical sources, grows with skew") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def corpus(docs: Seq[(Long, String, String)]): String = {
      val tmp = java.nio.file.Files.createTempDirectory("drift").toString
      docs.toDF("doc_id", "text", "source")
        .withColumn("lang", lit("en"))
        .withColumn("n_chars", length($"text").cast("long"))
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      tmp
    }
    // both sources match the corpus distribution exactly -> drift 0
    val even = corpus(Seq((1L, "x y", "a"), (2L, "x y", "b")))
    val evenGot = TextOps.q109TokenDrift(spark, even).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(evenGot == Map("a" -> 0L, "b" -> 0L))
    // c is all-x skewed: same-distribution a and b drift equally
    // (and nonzero, since c shifts the corpus), c drifts strictly more
    val skew = corpus(Seq(
      (1L, "x y", "a"), (2L, "x y", "b"), (3L, "x x", "c")))
    val got = TextOps.q109TokenDrift(spark, skew).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(got("a") == got("b") && got("a") > 0L, s"got $got")
    assert(got("c") > got("a"), s"got $got")
  }

  test("q131 coverage curve at power-of-two ranks on a Zipfy corpus") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("zipf").toString
    Seq((1L, "a a a b")).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextOps.q131ZipfCoverage(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((1L, "a", 3L, 750000L), (2L, "b", 4L, 1000000L)))
  }

  test("q123 bigram scores: smoothed conditionals on a hand corpus") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("bilm").toString
    Seq((1L, "a b"), (2L, "a b"), (3L, "a c"), (4L, "z"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    // c(a,b)=2 c(a,c)=1 c(a.)=3 V=4
    val got = TextOps.q123BigramLm(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq(
      (1L, 1L, 3000000L / 7), (2L, 1L, 3000000L / 7),
      (3L, 1L, 2000000L / 7), (4L, 0L, 0L)))
  }

  test("q117 OLS recovers an exact linear relation") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("ols").toString
    // y = 2x exactly: slope 2e6 micros, intercept 0
    Seq((1L, "a", 2L), (2L, "a b", 4L), (3L, "a b c", 6L))
      .toDF("doc_id", "text", "n_chars")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val r = TextOps.q117OlsCharsPerToken(spark, tmp).collect().head
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) == ((3L, 2000000L, 0L)))
  }

  test("q113 lift: hand-computed doc-frequency ratios") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("cooc").toString
    Seq((1L, "x y"), (2L, "x y"), (3L, "x z"), (4L, "y z"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    // df: x=3, y=3, z=2; n_docs=4
    val got = TextOps.q113CooccurrenceLift(spark, tmp).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(5)))
    assert(got.toSeq == Seq(
      ("x", "y", 2L, 2L * 4 * 1000000L / (3 * 3)),
      ("x", "z", 1L, 1L * 4 * 1000000L / (3 * 2)),
      ("y", "z", 1L, 1L * 4 * 1000000L / (3 * 2))))
  }

  test("q90 buckets are exact bit lengths, counts partition the corpus") {
    val rows = TextOps.q90LengthHistogram(spark, sf0001).collect()
    // buckets partition: totals equal the corpus
    assert(rows.map(_.getLong(2)).sum == 500)
    // every bucket's [min, max] stays inside [2^b, 2^(b+1))
    rows.foreach { r =>
      val (b, lo, hi) = (r.getLong(1), r.getLong(4), r.getLong(5))
      assert(lo >= (1L << b) && hi < (1L << (b + 1)),
        s"bucket $b holds chars outside [${1L << b}, ${1L << (b + 1)})")
    }
  }
  test("q147 simpson diversity: repetitive doc scores 0, uniform doc 750000") {
    val tmp = java.nio.file.Files.createTempDirectory("simp").toString
    Seq(
      (1L, "a a a a"),  // ssq 16, n 4 -> 1e6 - 1e6 = 0
      (2L, "a b c d")   // ssq 4, n 4 -> 1e6 - 250000 = 750000
    ).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextOps.q147SimpsonDiversity(spark, tmp).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
                 r.getLong(4)))
    assert(got.toSeq == Seq(("s", 2L, 375000L, 0L, 750000L)), s"got ${got.toSeq}")
  }

  test("q148 positional index counts overlapping phrase hits exactly") {
    val tmp = java.nio.file.Files.createTempDirectory("phr").toString
    Seq(
      (1L, "fast table fast table fast"), // hits at pos 1 and 3 -> 2
      (2L, "table fast table"),           // "fast table" at pos 2 -> 1
      (3L, "fast fast fast")              // no "table" -> absent
    ).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextOps.q148PhraseSearch(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 2L), (2L, 1L)), s"got ${got.toSeq}")
  }
  test("q155 vowel-group syllables on hand-counted docs") {
    val tmp = java.nio.file.Files.createTempDirectory("syl").toString
    Seq((1L, "aa bee")).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val r = TextOps.q155SyllableStats(spark, tmp).collect()(0)
    // "aa" -> 1 vowel group, "bee" -> 1; 2 words; 6 chars
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      == ((1L, 2L, 2L, 1000000L, 3000000L)), s"got $r")
  }
  test("q166 chi-square cells match an exact driver replay") {
    val obs = graft.Tables.documents(spark, sf0001).collect()
      .map(r => (r.getString(2), r.getString(3)))
    val cells = obs.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val rt = cells.groupBy(_._1._1).map { case (l, m) => l -> m.values.sum }
    val ct = cells.groupBy(_._1._2).map { case (s2, m) => s2 -> m.values.sum }
    val tot = cells.values.sum
    val got = TextOps.q166ChiSquare(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got.keySet == cells.keySet)
    got.foreach { case (k @ (l, src), (n, em, cm)) =>
      assert(n == cells(k))
      assert(em == math.floor(rt(l) * ct(src) * 1000000L * 1.0 / tot).toLong)
      val diff = (n * tot - rt(l) * ct(src)).toDouble
      assert(cm == math.floor(diff * diff / (tot * rt(l) * ct(src)) * 1e6).toLong,
        s"$k chi2 term")
    }
  }
  test("q170 BPE pair counts match an exact driver replay") {
    val texts = graft.Tables.documents(spark, sf0001).collect()
      .map(_.getString(1))
    val counts = scala.collection.mutable.Map[String, Long]()
    texts.foreach { t =>
      t.split(" ", -1).filter(_.length >= 2).foreach { w =>
        var i = 0
        while (i < w.length - 1) {
          val p = w.substring(i, i + 2)
          counts(p) = counts.getOrElse(p, 0L) + 1L
          i += 1
        }
      }
    }
    val want = counts.toSeq.sortBy { case (p, n) => (-n, p) }.take(20)
    val got = TextOps.q170BpePairs(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == want, s"top-20 merge candidates diverge:\n$got\n$want")
  }

  test("q173 hapax/TTR matches an exact driver replay") {
    val bySrc = graft.Tables.documents(spark, sf0001).collect()
      .map(r => (r.getString(3), r.getString(1)))
      .groupBy(_._1)
    val want = bySrc.map { case (src, docs) =>
      val toks = docs.flatMap(_._2.split(" ", -1))
      val counts = toks.groupBy(identity).map { case (_, v) => v.length.toLong }
      val nTok = toks.length.toLong
      val nTyp = counts.size.toLong
      val nHap = counts.count(_ == 1L).toLong
      src -> (nTok, nTyp, nHap, nTyp * 1000000L / nTok, nHap * 1000000L / nTyp)
    }
    val got = TextOps.q173HapaxRichness(spark, sf0001).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    assert(got.keySet == want.keySet)
    want.foreach { case (src, v) => assert(got(src) == v, s"source $src") }
  }

  test("q204 RAKE: deg/freq scores and stopword islands, hand-computed") {
    val tmp = java.nio.file.Files.createTempDirectory("rake").toString
    // doc 1: phrases "fast join", "fast join", "join" (split at 'the')
    //   freq(fast)=2 deg=4 -> 2e6; freq(join)=3 deg=5 -> 1666666
    //   "fast join" = 3666666 beats "join" = 1666666
    // doc 2: one phrase "slow scan" -> 2e6 + 2e6 = 4e6
    Seq((1L, "fast join the fast join the join"),
        (2L, "slow scan"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextOps.q204RakeKeywords(spark, tmp).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq(("fast join", 1L, 3666666L), ("slow scan", 1L, 4000000L)),
      s"got $got")
    spark.catalog.clearCache()
  }

  test("q204 phrase cap: runs longer than 4 words never become keywords") {
    val tmp = java.nio.file.Files.createTempDirectory("rake2").toString
    Seq((1L, "one two three four five of short run"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextOps.q204RakeKeywords(spark, tmp).collect()
      .map(r => r.getString(0)).toSeq
    // the 5-word island is disqualified; its words still don't leak
    // into scoring (deg/freq come from candidate phrases only)
    assert(got == Seq("short run"), s"got $got")
    spark.catalog.clearCache()
  }

  test("q206 skipgram: window-2 pairs, 1/d weights, unordered merge") {
    val tmp = java.nio.file.Files.createTempDirectory("skg").toString
    Seq((1L, "a b c"), (2L, "x y x"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextOps.q206SkipgramCooc(spark, tmp).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq
    // doc 1: (a,b,d1) (a,c,d2) (b,c,d1); doc 2: (x,y,d1) (x,x,d2) (y,x,d1)
    // -> unordered (x,y) merges both directions: n=2, 2e6
    assert(got == Seq(
      ("x", "y", 2L, 2000000L),
      ("a", "b", 1L, 1000000L),
      ("b", "c", 1L, 1000000L),
      ("a", "c", 1L, 500000L),
      ("x", "x", 1L, 500000L)), s"got $got")
  }
  test("q221 k-anonymity: sub-k classes and effective k are exact") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("kanon").toString
    // source s1: class (en, bucket 3 = lengths 8..15) holds 6 docs
    // (safe at k=5), class (fr, bucket 3) holds 2 (risky);
    // source s2: one singleton class (risky, effective_k 1)
    val rows =
      (1 to 6).map(i => (i.toLong, "x", "en", "s1", 10L)) ++
      Seq((7L, "x", "fr", "s1", 12L), (8L, "x", "fr", "s1", 13L),
          (9L, "x", "de", "s2", 200L))
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextOps.q221KAnonAudit(spark, tmp).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
                 r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(got.toSeq == Seq(
      ("s1", 2L, 1L, 2L, 8L, 250000L, 2L),
      ("s2", 1L, 1L, 1L, 1L, 1000000L, 1L)), s"got ${got.mkString(", ")}")
  }
  test("q224 CMS sweep: error monotonically shrinks as width grows") {
    val rows = TextOps.q224CmsWidthSweep(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
                 r.getLong(4)))
    assert(rows.map(_._1).toSeq == Seq(128L, 512L, 2048L))
    assert(rows.map(_._2).distinct.length == 1, "vocab must not vary with width")
    val maxO = rows.map(_._4)
    val avgO = rows.map(_._5)
    assert(maxO(0) >= maxO(1) && maxO(1) >= maxO(2),
      s"max overcount must shrink with width: ${maxO.toSeq}")
    assert(avgO(0) > avgO(1) && avgO(1) > avgO(2),
      s"avg overcount must strictly shrink on this corpus: ${avgO.toSeq}")
    assert(rows.map(_._3).toSeq == rows.map(_._3).toSeq.sorted,
      "exactly-estimated token count must not decrease with width")
    // CMS never undercounts: a negative overcount is impossible
    assert(maxO.forall(_ >= 0) && avgO.forall(_ >= 0))
    spark.catalog.clearCache()
  }

  test("q241 TextRank: hand-computed star graph — hub dominates, leaves tie exactly") {
    val tmp = java.nio.file.Files.createTempDirectory("textrank").toString
    // Three 2-token docs build an exact 3-leaf star on x (window-2
    // pairs never cross docs, so leaves share no edge). Hand-run 5
    // integer rounds of r <- 150000 + 850*sum((r*w) div sw) div 1000:
    //   hub:  2700000, 1254999, 2483250, 1439236, 2326646
    //   leaf:  433333,  915000,  505583,  853587,  557783
    // (the hub oscillates because the star is bipartite — damping
    // alone converges it slowly; the gate runs the same 5 rounds).
    Seq((0L, "x alpha"), (1L, "x beta"), (2L, "x gamma"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextOps.q241TextRank(spark, tmp).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got("x") == 2326646L, s"got $got")
    assert(Seq("alpha", "beta", "gamma").forall(got(_) == 557783L), s"got $got")
    spark.catalog.clearCache()
  }
}
