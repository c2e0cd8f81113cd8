package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.Column
import org.apache.spark.sql.execution.{GenerateExec, WholeStageCodegenExec}
import org.apache.spark.sql.functions._

/** DotF32: interpreted eval == codegen == the HOF reference
  * formulation; SQL registration path works. */
class VectorExpressionsSpec extends SparkSpec {
  import spark.implicits._

  private val df = Seq(
    (1L, Seq(1.0f, 2.0f, 3.0f), Seq(4.0f, 5.0f, 6.0f)),
    (2L, Seq(0.5f, -1.5f), Seq(2.0f, 2.0f)),
    (3L, Seq.empty[Float], Seq.empty[Float])
  ).toDF("id", "a", "b")

  test("dot_f32 equals the HOF reference formulation") {
    val hof = aggregate(zip_with($"a", $"b", (x, y) => x.cast("double") * y.cast("double")),
                        lit(0.0), (acc, x) => acc + x)
    val rows = df.select($"id", VectorFunctions.dotF32($"a", $"b").as("fast"), hof.as("ref"))
      .collect()
    rows.foreach(r => assert(r.getDouble(1) == r.getDouble(2)))
    val byId = rows.map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(byId(1L) == 4.0 + 10.0 + 18.0)
    assert(byId(2L) == 1.0 - 3.0)
    assert(byId(3L) == 0.0)
  }

  test("sqdist_l64 equals the HOF reference formulation") {
    val ldf = Seq(
      (1L, Seq(1L, 2L, 3L), Seq(4L, 6L, 3L)),
      (2L, Seq(-1000L, 1000L), Seq(1000L, -1000L)),
      (3L, Seq.empty[Long], Seq.empty[Long]),
      (4L, Seq(7L), Seq(7L))
    ).toDF("id", "a", "b")
    val hof = aggregate(zip_with($"a", $"b", (x, y) => (x - y) * (x - y)),
                        lit(0L), (acc, x) => acc + x)
    val rows = ldf.select($"id",
        VectorFunctions.sqDistL64($"a", $"b").as("fast"), hof.as("ref"))
      .collect()
    rows.foreach(r => assert(r.getLong(1) == r.getLong(2)))
    val byId = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byId(1L) == 9L + 16L + 0L)
    assert(byId(2L) == 4000000L + 4000000L)
    assert(byId(3L) == 0L)
    assert(byId(4L) == 0L)
    // length mismatch and null elements null out, like the HOF
    val edge = Seq((Seq(1L, 2L), Seq(1L))).toDF("a", "b")
      .select(VectorFunctions.sqDistL64($"a", $"b").as("d")).collect()
    assert(edge(0).isNullAt(0))
  }

  test("rolling_hash31 equals the split+ascii HOF formulation") {
    val M = 1000000007L
    val texts = Seq(
      (1L, "the quick brown fox"),
      (2L, ""),
      (3L, "a"),
      (4L, "punctuation: yes, nums 12345 & symbols #@!"),
      (5L, "café naïve résumé"), // non-ASCII BMP chars
      (6L, "x" * 5000)
    ).toDF("id", "text")
    val hof = aggregate(
      transform(split($"text", ""), ch => ascii(ch).cast("long")),
      lit(0L), (acc, c) => (acc * 31L + c) % M)
    val rows = texts
      .select($"id", VectorFunctions.rollingHash31($"text").as("fast"), hof.as("ref"))
      .collect()
    rows.foreach(r =>
      assert(r.getLong(1) == r.getLong(2), s"id ${r.getLong(0)} diverged"))
    // and on the real corpus
    val docs = graft.Tables.documents(spark, sf0001)
      .select(VectorFunctions.rollingHash31($"text").as("fast"), hof.as("ref"))
      .collect()
    docs.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("ahash60 equals the 3-pass HOF aHash chain") {
    val texts = Seq(
      (1L, "A" * 64),                            // uniform: no bit set (60b > sum never)
      (2L, ('!' to 'Z').mkString + "abcdefghij"), // mixed codes, full frame
      (3L, ""),                                   // empty: ascii('') = 0 everywhere
      (4L, "short"),                              // shorter than 60 chars
      (5L, "café naïve résumé — smart ‘quotes’"), // non-ASCII BMP
      (6L, "z" * 59 + " "),                       // boundary at position 60
      (7L, (0 until 64).map(i => ('0' + i % 10).toChar).mkString)
    ).toDF("id", "f")
    val hof = expr(
      """aggregate(zip_with(
           transform(sequence(1, 60), i -> CAST(ascii(substring(f, i, 1)) AS BIGINT)),
           sequence(0, 59),
           (b, i) -> IF(60L * b > aggregate(
             transform(sequence(1, 60), j -> CAST(ascii(substring(f, j, 1)) AS BIGINT)),
             0L, (a, x) -> a + x), shiftleft(1L, i), 0L)),
           0L, (a, x) -> a + x)""")
    val rows = texts
      .select($"id", VectorFunctions.ahash60($"f").as("fast"), hof.as("ref"))
      .collect()
    rows.foreach(r =>
      assert(r.getLong(1) == r.getLong(2), s"id ${r.getLong(0)} diverged"))
    // and on every 64-char frame of the real corpus (the q220/q208 slices)
    val frames = graft.Tables.documents(spark, sf0001)
      .select(explode(expr(
        """transform(sequence(0, (length(text) div 64 - 1) div 2),
           j -> substring(text, j * 128 + 1, 64))""")).as("f"))
    val docs = frames
      .select(VectorFunctions.ahash60($"f").as("fast"), hof.as("ref"))
      .collect()
    assert(docs.nonEmpty)
    docs.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("seq_triples equals the nested-transform + array_distinct chain") {
    val rows = Seq(
      (1L, Seq("a", "b", "c", "d")),
      (2L, Seq("x", "x", "x", "x")),          // dedup to one pattern
      (3L, Seq("a", "b")),                     // under 3: empty
      (4L, Seq.empty[String]),
      (5L, Seq("b", "a", "c", "a", "b")),      // repeats, order matters
      (6L, (1 to 20).map(i => s"e${i % 5}"))   // the q211 cap shape
    ).toDF("id", "sq")
    val hof = when(size($"sq") >= 3, expr(
      """array_distinct(flatten(flatten(
           transform(sequence(1, size(sq) - 2), i ->
             transform(sequence(i + 1, size(sq) - 1), j ->
               transform(sequence(j + 1, size(sq)), k ->
                 concat(sq[i-1], '>', sq[j-1], '>', sq[k-1])))))))"""))
      .otherwise(typedLit(Seq.empty[String]))
    val got = rows.select($"id",
        VectorFunctions.seqTriples($"sq").as("fast"), hof.as("ref"))
      .collect()
    got.foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2),
        s"id ${r.getLong(0)} diverged")
    }
  }

  test("long_pairs rows equal posexplode of both HOF pair expansions") {
    val inputs = Seq(
      (1L, Seq(5L, 2L, 9L)),                  // unsorted (q91/q216 shape)
      (2L, Seq(1L, 2L, 3L, 4L)),              // sorted distinct (q200/q249)
      (3L, Seq(7L)),                          // single: no pairs
      (4L, Seq.empty[Long]),
      (5L, Seq(3L, 3L, 1L)),                  // duplicates never pair equal
      (6L, (1L to 20L).toSeq))                // the dfCap shape, C(20,2)
    // the value-filtered y > x expansion, and the index-sliced i < j
    // expansion, which agrees with it on sorted-distinct arrays only
    val hofGt = """flatten(transform(xs,
           x -> transform(filter(xs, y -> y > x),
                          y -> struct(x AS a, y AS b))))"""
    val hofSlice = """flatten(transform(xs,
           (x, i) -> transform(slice(xs, i + 2, size(xs)),
                               y -> struct(x AS a, y AS b))))"""
    inBothModes { codegen =>
      // an RDD source keeps the generator out of a folded local relation
      val rows = spark.sparkContext.parallelize(inputs, 4).toDF("id", "xs")
      val gen = rows.select($"id", VectorFunctions.longPairs($"xs"))
      val plan = gen.queryExecution.executedPlan
      val inCodegen = plan.exists {
        case w: WholeStageCodegenExec => w.child.exists(_.isInstanceOf[GenerateExec])
        case _ => false
      }
      assert(inCodegen == codegen, plan.toString)
      // rows of one id leave its partition in emission order
      val got = gen.collect().toSeq
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      def pairsOf(id: Long) = got.filter(_._1 == id).map(_._2)
      Seq(hofGt -> Seq(1L, 2L, 3L, 4L, 5L, 6L), hofSlice -> Seq(2L, 3L, 4L, 6L))
        .foreach { case (hof, ids) =>
          val ref = rows.filter($"id".isin(ids: _*))
            .select($"id", posexplode(expr(hof)))
            .collect().toSeq
            .map(r => (r.getLong(0), r.getInt(1),
                       (r.getStruct(2).getLong(0), r.getStruct(2).getLong(1))))
          ids.foreach { id =>
            val want = ref.filter(_._1 == id).sortBy(_._2).map(_._3)
            assert(pairsOf(id) == want, s"codegen=$codegen id $id vs $hof")
          }
        }
      assert(pairsOf(6L).size == 190)
    }
  }

  test("trigram_stats equals the array formulation") {
    val texts = Seq(
      (1L, "spam spam spam spam spam"),
      (2L, "all words differ in this doc"),
      (3L, "two words"),
      (4L, ""),
      (5L, "a b a b a b a b")
    ).toDF("id", "text")
    val toks = split($"text", " ")
    val tri = when(size(toks) >= 3,
      transform(sequence(lit(1), size(toks) - lit(2)),
        j => concat_ws(" ", element_at(toks, j), element_at(toks, j + lit(1)),
                       element_at(toks, j + lit(2)))))
      .otherwise(array().cast("array<string>"))
    val rows = texts.select($"id",
        VectorFunctions.trigramStats(toks).as("packed"),
        size(tri).cast("long").as("ref_n"),
        size(array_distinct(tri)).cast("long").as("ref_d"))
      .collect()
    rows.foreach { r =>
      val (packed, refN, refD) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(packed >>> 32 == refN, s"id ${r.getLong(0)} total")
      assert((packed & 0xFFFFFFFFL) == refD, s"id ${r.getLong(0)} distinct")
    }
    // and on the real corpus
    val docs = graft.Tables.documents(spark, sf0001)
      .select(VectorFunctions.trigramStats(split($"text", " ")).as("packed"),
              size(tri).cast("long").as("ref_n"),
              size(array_distinct(tri)).cast("long").as("ref_d"))
      .collect()
    docs.foreach { r =>
      assert(r.getLong(0) >>> 32 == r.getLong(1))
      assert((r.getLong(0) & 0xFFFFFFFFL) == r.getLong(2))
    }
  }

  test("null inputs propagate") {
    val withNull = Seq((Option(Seq(1.0f)), Option.empty[Seq[Float]])).toDF("a", "b")
    val r = withNull.select(VectorFunctions.dotF32($"a", $"b")).collect().head
    assert(r.isNullAt(0))
  }

  test("length mismatch and null elements null out, matching the HOF (ADVICE r1)") {
    val tricky = Seq(
      (1L, Seq(Option(1.0f), Option(2.0f)), Seq(Option(3.0f))),           // mismatch
      (2L, Seq(Option(1.0f), None), Seq(Option(3.0f), Option(4.0f))),     // null elem
      (3L, Seq(Option(1.0f), Option(2.0f)), Seq(Option(3.0f), Option(4.0f)))
    ).toDF("id", "a", "b")
    val hof = aggregate(zip_with($"a", $"b", (x, y) => x.cast("double") * y.cast("double")),
                        lit(0.0), (acc, x) => acc + x)
    val rows = tricky.select($"id", VectorFunctions.dotF32($"a", $"b").as("fast"), hof.as("ref"))
      .collect()
    rows.foreach { r =>
      assert(r.isNullAt(1) == r.isNullAt(2), s"contract diverges from HOF on id=${r.getLong(0)}")
      if (!r.isNullAt(1)) assert(r.getDouble(1) == r.getDouble(2))
    }
    assert(rows.count(_.isNullAt(1)) == 2)
  }

  test("pq_encode equals the slice + HOF-distance + argmin formulation") {
    val M = 2; val K = 4; val subDim = 3
    // codebook: cb(m)(k) distinct enough to make argmins unambiguous,
    // plus one exact tie (k=1 and k=2 equal in subspace 1) to pin the
    // first-minimum rule
    val cb: Array[Array[Array[Double]]] = Array(
      Array(Array(0.0, 0.0, 0.0), Array(1.0, 1.0, 1.0),
            Array(2.0, 2.0, 2.0), Array(3.0, 3.0, 3.0)),
      Array(Array(5.0, 0.0, 0.0), Array(0.0, 5.0, 0.0),
            Array(0.0, 5.0, 0.0), Array(0.0, 0.0, 5.0)))
    val vecs = Seq(
      (0L, Seq(0.9f, 1.2f, 1.0f, 0.1f, 4.9f, 0.2f)),  // -> k=1, tie k=1(not 2)
      (1L, Seq(3.2f, 2.8f, 3.0f, 4.8f, 0.0f, 0.1f)),  // -> k=3, k=0
      (2L, Seq(0.0f, 0.0f, 0.0f, 0.0f, 0.0f, 0.0f)))  // -> k=0, first min
      .toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val hofCodes = array((0 until M).map { m =>
      val sub = slice($"embedding", m * subDim + 1, subDim)
      val dists = array((0 until K).map { k =>
        aggregate(zip_with(sub, typedLit(cb(m)(k).toSeq),
                    (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
                  lit(0.0), (acc, x) => acc + x)
      }: _*)
      (array_position(dists, array_min(dists)) - 1).cast("int")
    }: _*)
    val rows = vecs.select($"vec_id",
        VectorFunctions.pqEncode($"embedding", cb, subDim).as("fast"),
        hofCodes.as("ref"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Int](1) == r.getSeq[Int](2),
        s"codes diverge for vec ${r.getLong(0)}")
    }
    val byId = rows.map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(byId(0L) == Seq(1, 1))
    assert(byId(1L) == Seq(3, 0))
    assert(byId(2L) == Seq(0, 0))
    // short input nulls out, mirroring the HOF chain's null-padded zip
    val shortIn = Seq((9L, Seq(1.0f, 2.0f))).toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    assert(shortIn.select(VectorFunctions.pqEncode($"embedding", cb, subDim))
      .collect().head.isNullAt(0))
  }

  test("pq_encode: seeded-random sweep, codegen == interpreted == HOF") {
    val rnd = new scala.util.Random(42)
    val M = 4; val K = 8; val subDim = 4
    val cb: Array[Array[Array[Double]]] = Array.fill(M, K, subDim) {
      math.rint(rnd.nextGaussian() * 1e6) / 1e6
    }
    val vecs = (0 until 200).map { i =>
      (i.toLong, Seq.fill(M * subDim)(
        (math.rint(rnd.nextGaussian() * 1e6) / 1e6).toFloat))
    }.toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val hofCodes = array((0 until M).map { m =>
      val sub = slice($"embedding", m * subDim + 1, subDim)
      val dists = array((0 until K).map { k =>
        aggregate(zip_with(sub, typedLit(cb(m)(k).toSeq),
                    (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
                  lit(0.0), (acc, x) => acc + x)
      }: _*)
      (array_position(dists, array_min(dists)) - 1).cast("int")
    }: _*)
    val rows = vecs.select($"vec_id",
        VectorFunctions.pqEncode($"embedding", cb, subDim).as("fast"),
        hofCodes.as("ref")).collect()
    rows.foreach(r => assert(r.getSeq[Int](1) == r.getSeq[Int](2),
      s"codegen vs HOF diverge at vec ${r.getLong(0)}"))
    // interpreted path (nullSafeEval via a Literal child, no codegen)
    val flat = cb.flatten.flatten
    vecs.collect().foreach { r =>
      val emb = r.getSeq[Float](1).toArray
      val lit = org.apache.spark.sql.catalyst.expressions.Literal
        .create(emb, org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType, containsNull = false))
      val interp = PqEncode(lit, flat, M, K, subDim).eval(null)
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toIntArray.toSeq
      val fromDf = rows.find(_.getLong(0) == r.getLong(0)).get.getSeq[Int](1)
      assert(interp == fromDf,
        s"interpreted vs codegen diverge at vec ${r.getLong(0)}")
    }
  }

  test("affine_minhash_sig: seeded sweep, codegen == interpreted == per-slot HOF") {
    val rnd = new scala.util.Random(42)
    val p = 1000000007L
    val as = Seq(31L, 131L, 1031L, 10007L, 100003L, 999983L, 31337L, 65537L)
    val bs = Seq(7L, 101L, 997L, 10009L, 100019L, 999979L, 31357L, 65539L)
    val rows = (0 until 100).map { i =>
      (i.toLong, Seq.fill(1 + rnd.nextInt(40))(math.abs(rnd.nextLong()) % p))
    }
    val df = rows.toDF("id", "hs")
    // the SQL-oracle formulation: one array_min(transform) per slot
    val ref = array(as.indices.map { j =>
      array_min(transform($"hs", h => (h * lit(as(j)) + lit(bs(j))) % lit(p)))
    }: _*)
    val got = df.select($"id",
        VectorFunctions.affineMinhashSig($"hs", as, bs, p).as("fast"),
        ref.as("ref")).collect()
    got.foreach(r => assert(r.getSeq[Long](1) == r.getSeq[Long](2),
      s"codegen vs HOF diverge at row ${r.getLong(0)}"))
    // interpreted path (nullSafeEval via a Literal child, no codegen)
    rows.foreach { case (id, hs) =>
      val lit = org.apache.spark.sql.catalyst.expressions.Literal
        .create(hs.toArray, org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType, containsNull = false))
      val interp = AffineMinHashSig(lit, as, bs, p).eval(null)
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toLongArray.toSeq
      val fromDf = got.find(_.getLong(0) == id).get.getSeq[Long](1)
      assert(interp == fromDf, s"interpreted vs codegen diverge at row $id")
    }
    // constants outside [0, p) or mismatched lists are rejected loudly
    intercept[IllegalArgumentException] {
      AffineMinHashSig(org.apache.spark.sql.catalyst.expressions.Literal
        .create(Array(1L), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType, containsNull = false)),
        Seq(p), Seq(0L), p)
    }
  }

  test("zorder2: seeded-random sweep, codegen == interpreted == unrolled shifts") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(4242)
    val keys = Seq.tabulate(256)(i =>
      (i.toLong, rnd.nextInt(1 << 16).toLong, rnd.nextInt(1 << 16).toLong)) ++
      Seq((256L, 0L, 0L), (257L, 0xFFFFL, 0xFFFFL), // corners
          (258L, 0x12345L, 7L))                     // beyond 16 bits: masked
    val df2 = keys.toDF("id", "a", "b")
    // unrolled Column formulation (what the DuckDB oracle replays)
    val unrolled = (0 until 16).map { i =>
      shiftleft(shiftright($"a", i).bitwiseAND(1), 2 * i).cast("long") +
      shiftleft(shiftright($"b", i).bitwiseAND(1), 2 * i + 1).cast("long")
    }.reduce(_ + _)
    val rows = df2.select($"id", $"a", $"b",
        VectorFunctions.zorder2($"a", $"b").as("fast"), unrolled.as("ref"))
      .collect()
    rows.foreach { r =>
      assert(r.getLong(3) == r.getLong(4),
        s"codegen vs unrolled diverge at id ${r.getLong(0)}")
      val interp = ZOrder2(
        org.apache.spark.sql.catalyst.expressions.Literal(r.getLong(1)),
        org.apache.spark.sql.catalyst.expressions.Literal(r.getLong(2)))
        .eval(null).asInstanceOf[Long]
      assert(interp == r.getLong(3),
        s"interpreted vs codegen diverge at id ${r.getLong(0)}")
    }
    // adjacent keys in z-order space share a quadrant: spot geometry
    assert(ZOrder2.key(0L, 0L) == 0L && ZOrder2.key(1L, 0L) == 1L &&
           ZOrder2.key(0L, 1L) == 2L && ZOrder2.key(1L, 1L) == 3L)
  }

  test("nfc_normalize composes decomposed sequences; ASCII is identity") {
    import org.apache.spark.sql.functions._
    val cases = Seq(
      (1L, "plain ascii stays"),          // fast path
      (2L, "café"),            // cafe + combining acute -> café
      (3L, "é already composed"),    // composed input unchanged
      (4L, "Å ring")                // A + combining ring -> Å
    ).toDF("id", "t")
    val got = cases
      .select($"id", VectorFunctions.nfcNormalize($"t").as("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "plain ascii stays")
    assert(got(2L) == "café", s"got ${got(2L).map(_.toInt)}")
    assert(got(3L) == "é already composed")
    assert(got(4L) == "Å ring")
    // matches the JDK reference implementation on every case
    cases.collect().foreach { r =>
      val s = r.getString(1)
      assert(got(r.getLong(0)) ==
        java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
    }
  }

  test("registered SQL function and extensions builder") {
    VectorFunctions.register(spark)
    df.createOrReplaceTempView("vex")
    val r = spark.sql("SELECT id, dot_f32(a, b) AS d FROM vex ORDER BY id")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(r(1L) == 32.0)
    // every registered function is callable from SQL and agrees with
    // its Column form
    val sqlRow = spark.sql(
      """SELECT zorder2(3L, 1L) AS z, nfc_normalize('ok') AS n,
         rolling_hash31('abc') AS h,
         simhash64(array(1L, 2L)) AS sh,
         trigram_stats(array('a', 'b', 'c')) AS ts""").collect().head
    assert(sqlRow.getLong(0) == ZOrder2.key(3L, 1L))
    assert(sqlRow.getString(1) == "ok")
    assert(sqlRow.getLong(2) ==
      RollingHash31.hash(org.apache.spark.unsafe.types.UTF8String.fromString("abc")))
    // the extensions class wires the same builders without throwing
    new GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions)
    // bloom build + probe round-trip in pure SQL: members always hit
    // (no false negatives), and a disjoint probe set at this sizing
    // misses (bits >> items so FPR is ~0 for a 3-value probe)
    // the bloom side must be a constant or scalar subquery (Spark's
    // might_contain contract — the same constraint q168 satisfies by
    // shipping the built filter as a literal)
    val bloomRows = spark.sql(
      """SELECT x, bloom_might_contain(
           (SELECT bloom_agg(xxhash64(CAST(y AS STRING)), 100L, 8192L)
            FROM range(0, 50) s(y)),
           xxhash64(CAST(x AS STRING))) AS hit
         FROM range(0, 100) t(x) ORDER BY x""").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert((0L until 50L).forall(bloomRows(_)), "bloom false negative")
    assert((50L until 100L).count(bloomRows(_)) <= 2,
      "bloom FPR implausibly high at 8192 bits / 50 items")
    // r8 registrations: the shingle/distance/scatter family callable
    // from SQL, each agreeing with its Column form (n/d as foldable
    // int literals)
    val sq = spark.sql(
      "SELECT sqdist_l64(array(1L, 2L), array(4L, 6L)) AS d").collect().head
    assert(sq.getLong(0) == 9L + 16L)
    val sh2 = spark.sql(
      """SELECT word_shingles(array('a','b','c','a','b'), 2) AS s,
                word_shingle_positions(array('a','b','c','a','b'), 2) AS p,
                word_shingle_hashes(array('a','b','c','a','b'), 2) AS h""")
      .collect().head
    assert(sh2.getSeq[String](0) == Seq("a b", "b c", "c a", "a b").distinct)
    assert(sh2.getSeq[String](1) == Seq("a b", "b c", "c a", "a b"))
    assert(sh2.getSeq[Long](2).length == 3) // distinct hash set
    val sc = spark.sql(
      """SELECT scatter_matrix_agg(q, 2) AS buf
         FROM VALUES (array(2L, 3L)), (array(5L, 7L)) t(q)""").collect().head
    assert(sc.getSeq[Long](0) == Seq(29L, 41L, 41L, 58L, 7L, 10L, 2L))
    // non-foldable n fails loudly at analysis, never misparses
    intercept[Exception] {
      spark.sql("SELECT word_shingles(array('a','b'), CAST(rand()*2 AS INT))")
        .collect()
    }
  }

  /** The Column-chain shingle formulations the codegen'd expressions
    * replaced (and which the DuckDB oracles still mirror) — kept here
    * verbatim as the equivalence reference. */
  private def hofShingles(toks: Column, n: Int, distinct: Boolean): Column = {
    val raw = transform(
      sequence(lit(1), size(toks) - lit(n - 1)),
      j => concat_ws(" ", (0 until n).map(off => element_at(toks, j + lit(off))): _*))
    when(size(toks) >= n, if (distinct) array_distinct(raw) else raw)
      .otherwise(array().cast("array<string>"))
  }

  private def hofShingleHashes(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      array_distinct(transform(
        sequence(lit(1), size(toks) - lit(n - 1)),
        j => xxhash64((0 until n).map(off => element_at(toks, j + lit(off))): _*))))
      .otherwise(array().cast("array<bigint>"))

  test("word_shingles / positions / hashes equal the HOF formulations") {
    val toks = Seq(
      (1L, Seq("a", "b", "c", "d")),
      (2L, Seq("a", "a", "a", "a", "a")), // dup grams → distinct collapses
      (3L, Seq("x", "y")),                // shorter than wide n
      (4L, Seq.empty[String]),
      (5L, Seq("a", null, "b", "c", "b", "c")), // null token: concat_ws skips
      (6L, Seq("café", "naïve", "日本語", "x")), // non-ASCII
      (7L, null.asInstanceOf[Seq[String]])      // null array → empty
    ).toDF("id", "toks")
    for (n <- Seq(1, 2, 3, 5)) {
      val rows = toks.select(
        $"id",
        VectorFunctions.wordShingles($"toks", n).as("s_fast"),
        hofShingles($"toks", n, distinct = true).as("s_ref"),
        VectorFunctions.wordShinglePositions($"toks", n).as("p_fast"),
        hofShingles($"toks", n, distinct = false).as("p_ref"),
        VectorFunctions.wordShingleHashes($"toks", n).as("h_fast"),
        hofShingleHashes($"toks", n).as("h_ref")).collect()
      rows.foreach { r =>
        assert(r.getSeq[String](1) == r.getSeq[String](2),
          s"shingles diverged at n=$n id=${r.getLong(0)}")
        assert(r.getSeq[String](3) == r.getSeq[String](4),
          s"positions diverged at n=$n id=${r.getLong(0)}")
        assert(r.getSeq[Long](5) == r.getSeq[Long](6),
          s"hashes diverged at n=$n id=${r.getLong(0)}")
      }
    }
    // and on the real corpus, at the dedup operators' widths
    for (n <- Seq(3, 5)) {
      val t = split(col("text"), " ")
      val bad = graft.Tables.documents(spark, sf0001)
        .select(
          VectorFunctions.wordShingles(t, n).as("s_fast"),
          hofShingles(t, n, distinct = true).as("s_ref"),
          VectorFunctions.wordShingleHashes(t, n).as("h_fast"),
          hofShingleHashes(t, n).as("h_ref"))
        .filter(col("s_fast") =!= col("s_ref") || col("h_fast") =!= col("h_ref"))
        .count()
      assert(bad == 0L, s"corpus divergence at n=$n")
    }
  }

  test("bloom_count_contains equals the filter+might_contain HOF chain") {
    // build a filter over half the corpus's 3-gram hashes
    val t = split(col("text"), " ")
    val docs = graft.Tables.documents(spark, sf0001)
      .select(col("doc_id"), VectorFunctions.wordShingles(t, 3).as("grams"))
    val bytes = docs.filter(col("doc_id") % 2 === 0)
      .select(explode(col("grams")).as("g"))
      .select(xxhash64(col("g")).as("h")).distinct()
      .agg(VectorFunctions.bloomAgg(col("h"), 1000L, 1L << 16).as("bf"))
      .first().getAs[Array[Byte]]("bf")
    val rows = docs.select(
      col("doc_id"),
      VectorFunctions.bloomCountContains(col("grams"), lit(bytes)).as("fast"),
      size(filter(col("grams"),
        g => VectorFunctions.bloomMightContain(lit(bytes), xxhash64(g))))
        .cast("long").as("ref")).collect()
    rows.foreach(r => assert(r.getLong(1) == r.getLong(2),
      s"doc ${r.getLong(0)} diverged"))
    // null grams element: both sides hash it as xxhash64(NULL) == seed
    val edge = Seq((1L, Seq("a", null, "b"))).toDF("id", "grams")
    val e = edge.select(
      VectorFunctions.bloomCountContains($"grams", lit(bytes)).as("fast"),
      size(filter($"grams",
        g => VectorFunctions.bloomMightContain(lit(bytes), xxhash64(g))))
        .cast("long").as("ref")).collect().head
    assert(e.getLong(0) == e.getLong(1))
    // null bloom literal → NULL out, matching might_contain semantics
    val nb = edge.select(VectorFunctions.bloomCountContains(
      $"grams", lit(null).cast("binary")).as("c")).collect().head
    assert(nb.isNullAt(0))
    // SQL registration path agrees with the Column form
    VectorFunctions.register(spark)
    docs.limit(50).createOrReplaceTempView("bcc_docs")
    val sqlBad = spark.sql(
      s"SELECT bloom_count_contains(grams, ${literalHex(bytes)}) AS c FROM bcc_docs")
      .collect().map(_.getLong(0))
    val colSide = docs.limit(50)
      .select(VectorFunctions.bloomCountContains(col("grams"), lit(bytes)))
      .collect().map(_.getLong(0))
    assert(sqlBad.sorted.sameElements(colSide.sorted))
  }

  private def literalHex(b: Array[Byte]): String =
    "X'" + b.map("%02X".format(_)).mkString + "'"

  test("scatter_matrix_agg skips null / ragged / null-element rows whole") {
    // the documented whole-row-skip contract (ADVICE r7): a vector
    // with a null ELEMENT must not contribute its count sentinel or
    // any partial terms — only fully-valid d-wide rows aggregate
    import spark.implicits._
    val d = 2
    val rows = Seq(
      Some(Seq(Some(2L), Some(3L))),   // valid
      Some(Seq(Some(5L), Some(7L))),   // valid
      None,                            // null array
      Some(Seq(Some(1L))),             // ragged (d=1)
      Some(Seq(Some(9L), None))        // null element
    ).toDF("q")
    // flat buffer layout: [i*d+j] products, [d*d+i] linear, [d*d+d] count
    val buf = rows
      .select(VectorFunctions.scatterMatrixAgg($"q", d).as("buf"))
      .collect().head.getSeq[Long](0)
    assert(buf.length == d * d + d + 1)
    assert(buf(d * d + d) == 2L, s"count must see only the 2 valid rows: $buf")
    assert(buf(d * d) == 2L + 5L)           // linear sums
    assert(buf(d * d + 1) == 3L + 7L)
    assert(buf(0) == 4L + 25L)              // quadratic cells
    assert(buf(1) == 6L + 35L)
    assert(buf(3) == 9L + 49L)
  }
  test("jaro_winkler reproduces DuckDB's built-in on the reference pairs") {
    import spark.implicits._
    // expected values are DuckDB 1.0's jaro_winkler_similarity output
    // (probed directly) — the oracle q225 gates against
    val cases = Seq(
      ("MARTHA", "MARHTA", 0.9611111111),
      ("DIXON", "DICKSONX", 0.8133333333),
      ("JELLYFISH", "SMELLYFISH", 0.8962962963),
      ("abc", "abc", 1.0),
      ("", "abc", 0.0),
      ("", "", 0.0),          // DuckDB convention: empty -> 0, even both
      ("a", "b", 0.0),
      ("CRATE", "TRACE", 0.7333333333),
      ("DWAYNE", "DUANE", 0.84),
      ("apple", "applet", 0.9666666667),
      ("ab", "ba", 0.0),
      ("abcdefgh", "abzzzzzz", 0.5),       // j = 0.5 <= 0.7: no boost
      ("ab", "abcdefghijklmnop", 0.7666666667),
      ("prefix_same_tail_differs", "prefix_X", 0.8333333333)) // prefix cap 4
    val got = cases.map { case (a, b, _) => (a, b) }
      .toDF("a", "b")
      .select(graft.functions.VectorFunctions.jaroWinkler($"a", $"b"))
      .collect().map(_.getDouble(0))
    cases.zip(got).foreach { case ((a, b, want), g) =>
      assert(math.abs(g - want) < 1e-9, s"jw($a, $b) = $g, want $want")
    }
    // SQL registration path evaluates identically
    VectorFunctions.register(spark)
    val viaSql = spark.sql(
      "SELECT jaro_winkler('MARTHA', 'MARHTA')").collect().head.getDouble(0)
    assert(math.abs(viaSql - 0.9611111111) < 1e-9)
  }
}
