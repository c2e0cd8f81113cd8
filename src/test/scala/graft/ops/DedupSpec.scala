package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Dedup operator semantics on tiny literal frames + the planted
  * near-dups in the harness corpus. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("exact dedup groups identical content, keeps min doc_id") {
    val rows = Dedup.q22ExactDedup(spark, sf0001).collect()
    val total = rows.map(_.getLong(2)).sum
    assert(total == 500) // every doc accounted for exactly once
    assert(rows.forall(_.getLong(2) >= 1))
  }

  test("q70 decontamination flags gram overlap with the benchmark slice") {
    val rows = Dedup.q70Decontaminate(spark, sf0001).collect()
    // candidates = every doc outside the nibble-0 benchmark slice
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select($"doc_id", conv(substring(md5($"text"), 32, 1), 16, 10)
        .cast("int").as("nib"))
    val candIds = docs.filter($"nib" =!= 0).select("doc_id")
      .as[Long].collect().toSet
    assert(rows.map(_.getLong(0)).toSet == candIds)
    rows.foreach { r =>
      val (nGrams, nShared, flag) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nShared <= nGrams, s"doc ${r.getLong(0)}: shared > total")
      assert(flag == (if (nShared >= 3) 1L else 0L))
    }
    // the corpus plants near-dups, so some contamination must surface
    assert(rows.map(_.getLong(2)).sum > 0, "no overlap found — vacuous query")
  }

  test("minhash signature: equal shingle sets -> equal signatures") {
    val df = Seq(
      (1L, Seq("a b c", "b c d", "c d e")),
      (2L, Seq("c d e", "a b c", "b c d")), // same set, different order
      (3L, Seq("x y z"))
    ).toDF("id", "sh")
    val fp = transform($"sh", t => graft.functions.VectorFunctions.rollingHash31(t))
    val sigs = df.select($"id", graft.functions.VectorFunctions
        .affineMinhashSig(fp, Dedup.MhA.take(16), Dedup.MhB.take(16), Dedup.MhP)
        .as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(3L))
    assert(sigs(1L).length == 16)
  }

  test("simhash: equal token multisets agree, disjoint differ") {
    val df = Seq(
      (1L, Seq("alpha", "beta", "gamma")),
      (2L, Seq("gamma", "alpha", "beta")),
      (3L, Seq("delta", "epsilon", "zeta"))
    ).toDF("id", "toks")
    val hs = df.select($"id",
        Dedup.simhash(transform($"toks", t => xxhash64(t))).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hs(1L) == hs(2L))
    assert(hs(1L) != hs(3L))
  }

  test("block bound keeps pair count O(n·maxBlock) on a skewed corpus") {
    // 200 docs land in ONE (source,bucket) block — unbounded pairwise
    // would be C(200,2) = 19900 pairs; with maxBlock=10 the block is
    // sub-split into ceil(200/10)=20 cells of ~10 docs
    val skewed = (0L until 200L).map(i => (i, "hot", 0L, Seq(s"sh$i", "common")))
      .toDF("doc_id", "source", "bucket", "sh")
    val n = Dedup.boundedJaccardPairs(skewed, maxBlock = 10).count()
    assert(n <= 200L * 10, s"pair count $n exceeds n*maxBlock bound")
    assert(n > 0)
    // unbounded control: same frame, bound high enough to be inert
    val all = Dedup.boundedJaccardPairs(skewed, maxBlock = 1024).count()
    assert(all == 19900L)
  }

  test("q35 sign-LSH cells subdivide a single-label corpus") {
    // all vectors share one label — the old label-blocking would be
    // all-pairs; sign cells split on embedding content instead
    val cells = (0 until 64).map { i =>
      val emb = (0 until 64).map(d => if (((i >> (d % 4)) & 1) == 1) 1.0f else -1.0f)
      (i.toLong, "only_label", emb)
    }.toDF("vec_id", "label", "embedding")
      .select(col("vec_id"),
              Similarity.signCellKey(col("embedding"), 0 until 4).as("cell"))
      .groupBy("cell").count().collect()
    assert(cells.length == 16, s"expected 16 distinct 4-bit cells, got ${cells.length}")
    assert(cells.forall(_.getLong(1) == 4))
  }

  test("connected components merge chains transitively") {
    // chain 1-2-3 (1~2, 2~3 but NOT 1~3), pair 10-11, singleton edge 20-21
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (3L, 7L))
      .toDF("doc_a", "doc_b")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 1L,
                       10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L)
    // driver union-find path and distributed star-contraction path
    // must agree exactly
    val fast = Dedup.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = Dedup.connectedComponents(edges, driverLimit = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == expected, s"driver path: $fast")
    assert(dist == expected, s"distributed path: $dist")
  }

  test("distributed components handle a chain longer than the round budget") {
    // VERDICT r2 #3: plain min-label propagation needs diameter rounds,
    // so this 60-hop path would exhaust maxIters=20 and (before r3)
    // silently return partial labels. Large-star/small-star contracts
    // it in O(log² n) rounds through the forced-distributed path.
    val chain = (0L until 60L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val labels = Dedup.connectedComponents(chain, driverLimit = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 61)
    assert(labels.values.forall(_ == 0L), s"non-root labels: ${labels.filter(_._2 != 0L)}")
  }

  test("distributed components throw rather than emit partial labels") {
    val chain = (0L until 8L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val ex = intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, maxIters = 0, driverLimit = 0L).collect()
    }
    assert(ex.getMessage.contains("did not converge"))
  }

  test("q59 simhash banding surfaces planted near-identical docs") {
    // fingerprints differing in <= 3 bits MUST collide on one 16-bit
    // chunk (pigeonhole) — plant exact twins and 1/2/3-bit flips
    val base = 0x0123456789ABCDEFL
    val fps = Seq(
      (1L, base), (2L, base),                    // distance 0
      (3L, base ^ 1L),                           // distance 1
      (4L, base ^ (1L << 20) ^ (1L << 40)),      // distance 2
      (5L, base ^ (1L << 5) ^ (1L << 25) ^ (1L << 63)), // distance 3
      (6L, ~base)                                // distance 64
    ).toDF("doc_id", "simhash")
    val pairs = Dedup.simhashPairs(fps, maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val found = pairs.map(p => (p._1, p._2)).toSet
    // flips are at disjoint positions, so cross-distances add:
    // d(3,5)=4 and d(4,5)=5 exceed the bound; d(3,4)=3 is in
    val expected = Set((1L,2L), (1L,3L), (2L,3L), (1L,4L), (2L,4L),
                       (1L,5L), (2L,5L), (3L,4L))
    assert(found == expected, s"got $found")
    assert(pairs.find(p => (p._1, p._2) == (1L, 2L)).get._3 == 0L)
    assert(!found.exists(p => p._1 == 6L || p._2 == 6L))
  }

  test("q24 LSH finds the planted near-dup pairs") {
    val df = Dedup.q24MinHashLsh(spark, sf0001)
    // the shingle scan must run once: all three consumers read the
    // persisted docSh (VERDICT r1 #3)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("InMemoryTableScan"),
      s"expected docSh cache reuse in plan:\n${plan.take(2000)}")
    val row = df.collect().head
    val (nDocs, nCand, nVerified) =
      (row.getLong(0), row.getLong(1), row.getLong(2))
    assert(nDocs > 0 && nDocs <= 500)
    assert(nCand >= nVerified)
    assert(nVerified > 0) // corpus has planted near-dups
  }

  test("q184 gated MinHash: identical docs estimate 1.0; estimate brackets exact") {
    val tmp = java.nio.file.Files.createTempDirectory("mhg").toString
    val shared = (1 to 40).map(i => s"tok$i").mkString(" ")
    Seq(
      (1L, shared),                      // identical pair -> est = exact = 1e6
      (2L, shared),
      (3L, shared + " zz1 zz2 zz3"),     // near-dup of 1/2 (J = 38/41)
      (4L, (1 to 40).map(i => s"other$i").mkString(" ")) // unrelated
    ).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = Dedup.q184MinhashJaccard(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    // identical docs: every slot matches, Jaccard exactly 1
    assert(got((1L, 2L)) == ((1000000L, 1000000L)))
    // the planted near-dup pair must surface through its bands, with
    // the exact Jaccard = 38 shared / 41 union shingles
    assert(got.contains((1L, 3L)) && got.contains((2L, 3L)))
    assert(got((1L, 3L))._2 == 38L * 1000000L / 41L)
    // the unrelated doc shares no band with anyone
    assert(!got.keys.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("q185 simhash: identical docs at hamming 0; unrelated docs unpaired") {
    val tmp = java.nio.file.Files.createTempDirectory("shp").toString
    val body = (1 to 50).map(i => s"alpha$i").mkString(" ")
    Seq(
      (1L, body),
      (2L, body),                                       // identical twin
      (3L, (1 to 50).map(i => s"beta$i").mkString(" ")) // disjoint shingles
    ).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = Dedup.q185SimhashPairs(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.get((1L, 2L)).contains(0L), s"identical pair must be hamming 0: $got")
    assert(!got.keys.exists { case (a, b) => a == 3L || b == 3L },
      s"disjoint doc must not pair: $got")
  }

  test("q59 pre-flight refuses a collapsed-fingerprint corpus, names q185") {
    val tmp = java.nio.file.Files.createTempDirectory("q59g").toString
    val body = (1 to 30).map(i => s"tok$i").mkString(" ")
    // 12 identical docs -> one fingerprint, hottest chunk bucket = 12
    (1L to 12L).map(i => (i, body)).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    // 12 identical fingerprints -> 4 chunk buckets of 12 -> candidate
    // mass = 4 * C(12,2) = 264
    val ex = intercept[IllegalStateException] {
      Dedup.q59SimHashPairs(spark, tmp, maxCandidates = 200L)
    }
    assert(ex.getMessage.contains("degenerate fingerprint regime"))
    assert(ex.getMessage.contains("q185"), "refusal must point at the scale-safe twin")
    // the same corpus passes with the bound above the mass, and the
    // banded join still finds every identical pair (12 choose 2)
    val ok = Dedup.q59SimHashPairs(spark, tmp, maxCandidates = 300L).collect()
    assert(ok.length == 66 && ok.forall(_.getLong(2) == 0L))
    spark.catalog.clearCache()
  }

  test("q74 dup-ngram coverage counts cross-doc and within-doc repeats") {
    val tmp = java.nio.file.Files.createTempDirectory("dng").toString
    Seq(
      (1L, "a b c d e"),         // "a b c" shared with doc 2 -> 1/3 dup
      (2L, "a b c x y"),         // same                      -> 1/3 dup
      (3L, "p q r p q r p q"),   // every gram repeats IN-doc -> 6/6 dup
      (4L, "zz yy")              // < 3 tokens -> 0 grams
    ).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = Dedup.q74DupNgramCoverage(spark, tmp)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) == ((3L, 1L, 333333L)))
    assert(got(2L) == ((3L, 1L, 333333L)))
    assert(got(3L) == ((6L, 6L, 1000000L)))
    assert(got(4L) == ((0L, 0L, 0L)))
  }

  test("q78 surfaces a one-edit pair and prunes past the threshold") {
    val tmp = java.nio.file.Files.createTempDirectory("lev").toString
    val base = ("w " * 70).trim                  // 139 chars -> bucket 2
    val oneEdit = "x" + base.substring(1)        // lev = 1 on the 128-prefix
    val farOff = ("z " * 70).trim                // lev = 64 > 16: pruned
    Seq((1L, base), (2L, oneEdit), (3L, farOff))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = Dedup.q78EditDistancePairs(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, 2L, 1L)),
      s"expected only the one-edit pair, got ${got.toSeq}")
  }

  test("q80 keeps the longest member of a duplicate cluster") {
    val tmp = java.nio.file.Files.createTempDirectory("canon").toString
    // docs 1/2 are exact dups; doc 3 is ≥0.5-Jaccard near 1 but longer,
    // so the transitive cluster {1,2,3} keeps 3
    val t1 = "a b c d e f g h i j a b c d e f g h i j"
    val t3 = t1 + " k l"
    Seq((1L, t1), (2L, t1), (3L, t3), (9L, "totally different text here"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = Dedup.q80CanonicalPick(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.length == 1)
    val (cluster, canon, toks, dropped) = got.head
    assert(cluster == 1L)                  // min reachable doc_id labels it
    assert(canon == 3L, "longest member must survive")
    assert(toks == 22L)
    assert(dropped == 2L)
  }

  test("q88 drops repeated segments, keeps first occurrence, reassembles in order") {
    val tmp = java.nio.file.Files.createTempDirectory("segdd").toString
    Seq(
      (1L, "x y z"),   // segLen=2 -> segs ["x y", "z"]; both first occurrences
      (2L, "x y w"),   // "x y" owned by doc 1 -> only "w" survives
      (3L, "x y")      // single seg, fully duplicated -> empty doc
    ).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = Dedup.q88SegmentDedup(spark, tmp, segLen = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    def m(s: String) = org.apache.commons.codec.digest.DigestUtils.md5Hex(s)
    assert(got == Seq(
      (1L, 2L, 2L, m("x y z")),
      (2L, 2L, 1L, m("w")),
      (3L, 1L, 0L, m(""))))
  }

  test("q91 sparse cosine ranks the planted near-pair first, exact micros") {
    val tmp = java.nio.file.Files.createTempDirectory("spcos").toString
    Seq(
      (1L, "a b c d e f"),  // grams: {a b c, b c d, c d e, d e f}
      (2L, "a b c d e g"),  // shares 3 of 4 grams with doc 1
      (3L, "p q r s t u")   // disjoint
    ).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = Dedup.q91SparseCosinePairs(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
                 r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    // dot = 3, |A| = |B| = 4 -> (9 * 1e6) div 16 = 562500; no other pair
    assert(got == Seq((1L, 2L, 3L, 4L, 4L, 562500L)))
  }

  test("q95 counts shared prefix fingerprints across sources, not within") {
    val tmp = java.nio.file.Files.createTempDirectory("xsrc").toString
    val head = "a b c d e f g h" // 8-token prefix key
    Seq(
      (1L, s"$head tail one", "srcA"),
      (2L, s"$head tail two", "srcB"),   // same prefix, other source
      (3L, s"$head tail three", "srcB"), // same prefix, same source as 2
      (4L, "z y x w v u t s different", "srcB")
    ).toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = Dedup.q95CrossSourceDups(spark, tmp).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // one shared fingerprint; 1 doc in srcA × 2 docs in srcB = 2 pairs
    assert(got.toSeq == Seq(("srcA", "srcB", 1L, 2L)))
  }

  test("q107 screens an incoming batch: exact dup, prefix dup, new") {
    val tmp = java.nio.file.Files.createTempDirectory("incr").toString
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    Seq(
      // existing corpus: doc_id % 5 != 0
      (1L, base),
      (2L, "completely different corpus text here"),
      // incoming batch: doc_id % 5 == 0
      (5L, base),                                             // exact copy
      (10L, "alpha beta gamma delta epsilon zeta eta theta OTHER tail"), // same 8-token prefix
      (15L, "nothing like anything in the corpus at all")     // new
    ).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = Dedup.q107IncrementalDedup(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq == Seq((5L, "dup_exact"), (10L, "dup_prefix"), (15L, "new")))
  }

  test("q138 buckets candidate pairs at exact micro-jaccard deciles") {
    val tmp = java.nio.file.Files.createTempDirectory("shist").toString
    Seq(
      (1L, "w1 w2 w3 w4", "s"),   // vs doc 2: jac 1/3 -> bucket 3
      (2L, "w2 w3 w4 w5", "s"),
      (3L, "x1 x2 x3", "s"),      // vs doc 4: identical -> bucket 10
      (4L, "x1 x2 x3", "s")
    ).toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = Dedup.q138SimilarityHistogram(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got(3L) >= 1L && got(10L) == 1L, s"got $got")
  }

  test("q139 cluster-size buckets are exact bit lengths of member counts") {
    val tmp = java.nio.file.Files.createTempDirectory("csz").toString
    val docs = Seq(
      (1L, "pair text pair text"), (2L, "pair text pair text"),       // size 2
      (10L, "quad text quad text"), (11L, "quad text quad text"),     // size 4
      (12L, "quad text quad text"), (13L, "quad text quad text"),
      (20L, "a singleton never clusters")
    )
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = Dedup.q139ClusterSizeHistogram(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, 1L, 2L), (2L, 1L, 4L)), s"got ${got.toSeq}")
  }

  test("q129 dedup rates: within-source dups and cross-source exclusivity") {
    val tmp = java.nio.file.Files.createTempDirectory("ddr").toString
    Seq(
      (1L, "text one", "srcA"),
      (2L, "text one", "srcA"),  // within-source dup
      (3L, "text two", "srcA"),  // shared with srcB: not exclusive
      (4L, "text two", "srcB")
    ).toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = Dedup.q129DedupRate(spark, tmp).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
                 r.getLong(4)))
    assert(got.toSeq == Seq(
      ("srcA", 3L, 2L, 1L, 333333L), ("srcB", 1L, 1L, 0L, 0L)))
  }

  test("q108 source Jaccard on a hand-computed shingle overlap") {
    val tmp = java.nio.file.Files.createTempDirectory("ssim").toString
    Seq(
      (1L, "w1 w2 w3 w4", "srcA"),  // grams {w1w2w3, w2w3w4}
      (2L, "w2 w3 w4 w5", "srcB"),  // grams {w2w3w4, w3w4w5}: inter 1, union 3
      (3L, "z1 z2 z3", "srcC")      // gram {z1z2z3}: no overlap -> absent
    ).toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = Dedup.q108SourceSimilarity(spark, tmp).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
                 r.getLong(4), r.getLong(5)))
    assert(got.toSeq == Seq(("srcA", "srcB", 1L, 2L, 2L, 333333L)))
  }
  test("q144 sorted-neighborhood finds the adjacent near-dup, skips far docs") {
    val tmp = java.nio.file.Files.createTempDirectory("snm").toString
    Seq(
      (1L, "a b c d e f"),   // shingles {abc,bcd,cde,def}
      (2L, "a b c d e g"),   // shingles {abc,bcd,cde,deg}: inter 3, union 5
      (3L, "z y x w v u")    // disjoint
    ).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = Dedup.q144SortedNeighborhood(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, 2L, 600000L)), s"got ${got.toSeq}")
  }

  test("q145 prefix-filtered join returns exactly the >=0.5 Jaccard pairs") {
    val tmp = java.nio.file.Files.createTempDirectory("ppj").toString
    Seq(
      (1L, "a b c d e f"),   // pair (1,2): jac 3/5 = 0.6 -> kept
      (2L, "a b c d e g"),
      (3L, "a b c x y z"),   // vs 1: inter 1, union 7 -> 0.14 -> dropped
      (4L, "p q r s t u")    // disjoint
    ).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = Dedup.q145PrefixJaccard(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, 2L, 600000L)), s"got ${got.toSeq}")
  }

  test("q145 matches brute-force exact pairs on the harness corpus (no recall loss)") {
    val t = 500000L
    val docs = graft.Tables.documents(spark, sf0001)
      .select($"doc_id", graft.ops.TextOps.shingleHashes(
        graft.ops.TextOps.tokens($"text")).as("sh"))
      .filter(size($"sh") > 0)
    val brute = docs.as("a").join(docs.as("b"),
        $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("da"), $"b.doc_id".as("db"),
        size(array_intersect($"a.sh", $"b.sh")).cast("long").as("i"),
        size($"a.sh").cast("long").as("ma"), size($"b.sh").cast("long").as("mb"))
      .filter($"i" * 1000000L >= lit(t) * ($"ma" + $"mb" - $"i"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Dedup.q145PrefixJaccard(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == brute, s"prefix join must be exact: missing=${brute -- got} extra=${got -- brute}")
    assert(got.nonEmpty, "harness corpus has planted near-dups")
  }

  test("q145 positional filter keeps candidate verification output-sized") {
    // the PPJoin efficiency contract on the planted corpus: the pairs
    // surviving prefix + length + positional filters (what the exact
    // intersect must verify) stay within a small factor of the true
    // output — with only prefix + length filters this corpus yields
    // 30x (856 candidates vs 28 verified at sf0.001, measured r8).
    val t = 500000L
    val (_, cands) = Dedup.q145Parts(spark, sf0001, t)
    val nCands = cands.count()
    val nOut = Dedup.q145PrefixJaccard(spark, sf0001, t).count()
    info(s"candidates=$nCands verified=$nOut")
    assert(nOut > 0, "harness corpus has planted near-dups")
    assert(nCands <= 8L * nOut,
      s"candidates ($nCands) must stay within 8x the verified output ($nOut)")
  }
  test("q178 merges a planted 3-window contiguous duplicate into one maximal span") {
    // both docs embed the same 10-token region at different offsets:
    // with n = 8 that region yields exactly 3 consecutive duplicated
    // window positions per doc, which must come back as ONE span of
    // span_tokens = 10 — not three overlapping window rows (q176's
    // report shape). The boundary-crossing windows mix in each doc's
    // private prefix, so nothing else is cross-doc duplicated.
    val tmp = java.nio.file.Files.createTempDirectory("mspan").toString
    val region = (1 to 10).map(i => s"r$i").mkString(" ")
    Seq(
      (1L, s"a1 a2 a3 $region"), // dup windows at positions 4..6
      (2L, s"b1 b2 $region"),    // dup windows at positions 3..5
      (3L, "z1 z2 z3 z4 z5 z6 z7 z8 z9")
    ).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = Dedup.q178MaxSpans(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
                 r.getLong(4)))
    assert(got.toSeq == Seq((1L, 4L, 6L, 3L, 10L), (2L, 3L, 5L, 3L, 10L)),
      s"got ${got.toSeq}")
  }

  test("q164 bag-of-words groups are exactly the sorted-token-multiset dups") {
    // the harness corpus has no exact-multiset dups at any SF, so plant
    // a corpus: token permutations (BOW-dup but not byte-dup), one exact
    // dup, a multiset that differs only by count, and singletons
    val tmp = java.nio.file.Files.createTempDirectory("bow").toString
    Seq(
      (1L, "a b c d"), (2L, "d c b a"), (3L, "b a d c"), // permutation group
      (4L, "x y"), (5L, "x y"),                          // exact-dup group
      (6L, "a a b c d"),                                 // count differs -> alone
      (7L, "lone wolf")
    ).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = Dedup.q164BowDedup(spark, tmp).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(got == Map(
      1L -> ((3L, 1L, 0L)), 2L -> ((3L, 1L, 1L)), 3L -> ((3L, 1L, 1L)),
      4L -> ((2L, 4L, 0L)), 5L -> ((2L, 4L, 1L))))
    // the sf corpus side must agree with a driver-side replay (empty == empty)
    val sfDocs = graft.Tables.documents(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val expected = sfDocs.groupBy { case (_, t) => t.split(" ", -1).sorted.toSeq }
      .values.filter(_.length >= 2).flatMap { g =>
        val canon = g.map(_._1).min
        g.map { case (id, _) => id -> ((g.length.toLong, canon, id != canon)) }
      }.toMap
    val gotSf = Dedup.q164BowDedup(spark, sf0001).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getLong(4) == 1L)))
      .toMap
    assert(gotSf == expected)
  }

  test("q168 bloom decontamination: no false negatives vs exact q70, near-zero FPR") {
    val exact = Dedup.q70Decontaminate(spark, sf0001).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3) == 1L))).toMap
    val bloom = Dedup.q168BloomDecontaminate(spark, sf0001).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3) == 1L))).toMap
    assert(bloom.keySet == exact.keySet, "candidate doc sets must match")
    // bloom guarantee: no false negatives, per-doc AND per-gram
    exact.foreach { case (doc, (nShared, contaminated)) =>
      val (nMaybe, flagged) = bloom(doc)
      assert(nMaybe >= nShared,
        s"doc $doc: bloom lost grams ($nMaybe < exact $nShared)")
      if (contaminated) assert(flagged, s"doc $doc: false negative")
    }
    // measured FPR at the default 2^20-bit sizing is negligible:
    // allow at most 1% of clean docs to be falsely flagged
    val clean = exact.collect { case (doc, (_, false)) => doc }
    val falseFlags = clean.count(bloom(_)._2)
    assert(falseFlags <= math.max(1, clean.size / 100),
      s"$falseFlags of ${clean.size} clean docs falsely flagged")
  }

  test("q228 replayable bloom: no false negatives, fp accounting consistent") {
    val rows = Dedup.q228BloomReplay(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nShared, nMaybe, fp) = (r.getLong(2), r.getLong(3), r.getLong(4))
      // bloom guarantee: every exact-shared gram tests positive
      assert(nMaybe >= nShared, s"doc ${r.getLong(0)}: bloom lost grams")
      assert(fp == nMaybe - nShared)
    }
    // the exact audit column must agree with q70's exact counts
    val exact = Dedup.q70Decontaminate(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    rows.foreach(r => assert(exact(r.getLong(0)) == r.getLong(2)))
    // 2^20-bit sizing: corpus-level FPR stays negligible
    val totFp = rows.map(_.getLong(4)).sum
    val totGrams = rows.map(_.getLong(1)).sum
    assert(totFp <= math.max(1L, totGrams / 100),
      s"$totFp false-positive grams across $totGrams")
  }

  test("q176 duplicated spans match an exact driver replay") {
    val n = 8
    val docs = graft.Tables.documents(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val perDoc = scala.collection.mutable.Map[(String, Long), Long]()
    docs.foreach { case (id, text) =>
      val toks = text.split(" ", -1)
      (0 to toks.length - n).foreach { i =>
        val span = toks.slice(i, i + n).mkString(" ")
        perDoc((span, id)) = perDoc.getOrElse((span, id), 0L) + 1L
      }
    }
    val agg = perDoc.groupBy(_._1._1).map { case (span, m) =>
      (span, m.values.sum, m.size.toLong, m.keys.map(_._2).min)
    }
    val want = agg.filter(_._3 >= 2).toSeq
      .sortBy { case (span, occ, _, _) => (-occ, span) }.take(20)
    val got = graft.ops.Dedup.q176DupSpans(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == want, s"top duplicated spans diverge:\n$got\n$want")
  }

  test("q201 winnowing: density near 2/(w+1), invariants hold corpus-wide") {
    val rows = Dedup.q201Winnowing(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
                 r.getLong(4), r.getLong(5)))
    assert(rows.length == 500)
    rows.foreach { case (id, nk, nw, nSel, nFp, dens) =>
      assert(nw == math.max(nk - 3, 0L), s"doc $id window count")
      assert(nSel <= nw && nFp <= nSel, s"doc $id selection bounds")
      // every w-window selects SOMETHING, and one selection covers at
      // most w windows -> at least ceil(nw / w) selections
      assert(nSel >= (nw + 3) / 4, s"doc $id under-selects: $nSel of $nw")
      assert(dens == (if (nw > 0) nSel * 1000000L / nw else 0L))
    }
    // the paper's expected density 2/(w+1) = 0.4 on random text
    val mean = rows.map(_._6).sum / rows.length
    assert(mean > 350000L && mean < 500000L, s"mean density $mean")
    spark.catalog.clearCache()
  }

  test("q202 winnowing guarantee: a shared token run is always detected") {
    val tmp = java.nio.file.Files.createTempDirectory("win").toString
    val shared = (1 to 30).map(i => s"run$i").mkString(" ")
    val padA = (1 to 20).map(i => s"pa$i").mkString(" ")
    val padB = (1 to 25).map(i => s"pb$i").mkString(" ")
    Seq(
      (1L, s"$padA $shared"),         // shared run at the END
      (2L, s"$shared $padB"),         // shared run at the START
      (3L, (1 to 40).map(i => s"solo$i").mkString(" ")) // unrelated
    ).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = Dedup.q202WinnowPairs(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // winnowing's guarantee: any shared run of >= w + k - 1 = 6 tokens
    // shares a selected fingerprint wherever the run sits; a 30-token
    // run yields 25 full windows -> comfortably >= 2 shared
    assert(got.contains((1L, 2L)), s"planted pair missed: $got")
    assert(got((1L, 2L)) >= 2L)
    assert(!got.keys.exists { case (a, b) => a == 3L || b == 3L },
      s"unrelated doc paired: $got")
    spark.catalog.clearCache()
  }

  test("q202 identical docs reach containment 1.0") {
    val tmp = java.nio.file.Files.createTempDirectory("win2").toString
    val body = (1 to 35).map(i => s"tw$i").mkString(" ")
    Seq((1L, body), (2L, body))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val r = Dedup.q202WinnowPairs(spark, tmp).collect()
    assert(r.length == 1)
    assert((r.head.getLong(0), r.head.getLong(1)) == ((1L, 2L)))
    assert(r.head.getLong(2) == r.head.getLong(3)) // shared == nf_a
    assert(r.head.getLong(5) == 1000000L, "identical docs must contain fully")
    spark.catalog.clearCache()
  }

  test("q207 novelty: first occurrence wins, repeats score zero") {
    val tmp = java.nio.file.Files.createTempDirectory("nov").toString
    // doc_ids 0..9 -> m = 10, decile = doc_id; docs 1..4, 6..8 empty-ish
    Seq((0L, "a b c"),   // gram "a b c" first seen here -> novel
        (5L, "a b c"),   // exact repeat -> novelty 0
        (9L, "x y z"))   // fresh gram -> novel
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = Dedup.q207NoveltyCurve(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
                 r.getLong(4))).toSeq
    assert(got == Seq((0L, 1L, 1L, 1L, 1000000L),
                      (5L, 1L, 1L, 0L, 0L),
                      (9L, 1L, 1L, 1L, 1000000L)), s"got $got")
  }

  test("q207 decile novelty decays monotonically-ish on the ordered corpus") {
    val rows = Dedup.q207NoveltyCurve(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(4)))
    assert(rows.length == 10)
    // Heaps'-law decay: the first decile is far more novel than the
    // last (the exact curve is data, the direction is the law)
    assert(rows.head._2 > rows.last._2 * 2,
      s"novelty must decay along ingest order: ${rows.toSeq}")
  }
  test("q216 containment: full-subset doc scores 1e6 one-way, Jaccard-low") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("cont").toString
    Seq(
      (1L, "apple banana cherry", "en", "s1", 19L),
      (2L, "apple banana cherry date egg fig grape", "en", "s1", 39L),
      (3L, "zebra yak xray", "en", "s1", 14L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = Dedup.q216Containment(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
                 r.getLong(4), r.getLong(5), r.getLong(6)))
    // doc1 is one 3-gram ("apple banana cherry") fully inside doc2
    // (7 tokens -> 5 shingles): containment 1/1 = 1e6 from doc1's
    // side, 1/5 from doc2's; the pair's Jaccard (1/5) sits far below
    // any near-dup bar. doc3 shares nothing: no candidate, no row.
    assert(got.toSeq == Seq((1L, 2L, 1L, 1L, 5L, 1000000L, 200000L)),
      s"got ${got.mkString(", ")}")
    spark.catalog.clearCache()
  }
  test("q223 recall matches a driver-side truth/candidate intersection") {
    val truth = Dedup.q185SimhashPairs(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val (_, candsDf) = Dedup.minhashDocsAndCands(spark, sf0001, 4, 4)
    val cands = candsDf.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits = truth intersect cands
    val got = Dedup.q223LshRecall(spark, sf0001).collect().head
    assert(got.getLong(0) == truth.size.toLong, "truth size")
    assert(got.getLong(1) == cands.size.toLong, "candidate volume")
    assert(got.getLong(2) == hits.size.toLong, "hits")
    val want = if (truth.isEmpty) 1000000L
               else hits.size.toLong * 1000000L / truth.size
    assert(got.getLong(3) == want, s"recall ${got.getLong(3)} != $want")
    spark.catalog.clearCache()
  }

  test("q233 incremental ingest: planted dup / near / new verdicts") {
    val tmp = java.nio.file.Files.createTempDirectory("ingestfix").toString
    // Corpus (doc_id % 10 != 0): doc 1 the near-source, doc 2 the
    // dup-source, doc 3 unrelated. Batch (doc_id % 10 == 0):
    //  - doc 10 copies doc 2 verbatim -> 'dup' at Jaccard 1.0;
    //  - doc 20 shares doc 1's 11-token prefix (9 of 21 union
    //    shingles -> exact 428571 micro < 500000) with filler chosen
    //    OFFLINE against the fixed affine family so band 0's four
    //    slot-minima all land on shared shingles -> a banded
    //    candidate that fails the verify -> 'near';
    //  - doc 30 shares nothing -> no band collision -> 'new'.
    import spark.implicits._
    val c1 = (0 to 16).map(i => s"s1c$i").mkString(" ")
    val d2 = (0 to 5).map(i => s"dup$i src$i").mkString(" ")
    val u3 = (0 to 7).map(i => s"corpusonly$i").mkString(" ")
    val b20 = (0 to 10).map(i => s"s1c$i").mkString(" ") + " " +
      (0 to 5).map(k => s"s1z1x$k").mkString(" ")
    val b30 = (0 to 8).map(i => s"brandnew$i").mkString(" ")
    Seq((1L, c1), (2L, d2), (3L, u3), (10L, d2), (20L, b20), (30L, b30))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = Dedup.q233IngestDedup(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getString(1),
                 if (r.isNullAt(2)) -1L else r.getLong(2),
                 if (r.isNullAt(3)) -1L else r.getLong(3)))
    assert(got.toSeq == Seq(
        (10L, "dup", 2L, 1000000L),
        (20L, "near", 1L, 428571L),
        (30L, "new", -1L, -1L)),
      s"got ${got.mkString(", ")}")
    spark.catalog.clearCache()
  }
}
