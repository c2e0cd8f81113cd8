package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Multimodal plumbing: the decode/frame-sample STUBS are
  * deterministic fakes, but the Spark-side shapes — schema, partition
  * parallelism, one-row-to-N-frames explode — are real and asserted
  * here. */
class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "x" * 4096),   // 4 frames at 256B x stride 4
    (2L, "y" * 1000),   // 0 full strides -> 0 frames
    (3L, "")            // empty payload
  ).toDF("doc_id", "payload")
    .withColumn("payload", $"payload".cast("binary"))

  test("decodeImages: deterministic fake decode, correct schema") {
    val out = Multimodal.decodeImages(docs, "payload", "doc_id")
    assert(out.schema ==
      org.apache.spark.sql.Encoders.product[Multimodal.DecodedImage].schema)
    val rows = out.collect().map(r => r.getLong(0) ->
      (r.getLong(1), r.getInt(2), r.getInt(3), r.getDouble(4))).toMap
    assert(rows(1L)._1 == 4096L)
    assert(rows(1L)._2 == 64 + (4096 % 1856))
    assert(rows(3L) == ((0L, 64, 64, 0.0)))
    // deterministic: second run identical
    val again = Multimodal.decodeImages(docs, "payload", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again.keySet == rows.keySet)
  }

  test("resizeMeta: aspect preserved, never upscales") {
    val meta = Seq((3840, 2160), (640, 480), (100, 2000)).toDF("width", "height")
    val out = Multimodal.resizeMeta(meta, maxEdge = 1024)
      .select("width", "height", "target_width", "target_height")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    assert(out.contains((3840, 2160, 1024, 576)))
    assert(out.contains((640, 480, 640, 480)))   // under the bound: untouched
    assert(out.contains((100, 2000, 51, 1024)))
  }

  test("q97 frame dedup flags shared frames across videos") {
    val tmp = java.nio.file.Files.createTempDirectory("fdd").toString
    val shared = "A" * 64
    Seq(
      (1L, shared + ("B" * 64)),  // 128 chars -> 1 frame = the shared block
      (2L, shared + ("C" * 64)),  // same frame content -> both dup
      (3L, ("D" * 64) + ("E" * 64)), // unique frame
      (4L, "short")               // no full stride -> 0 frames
    ).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = Multimodal.q97FrameDedup(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == Seq(
      (1L, 1L, 1L, 1000000L),
      (2L, 1L, 1L, 1000000L),
      (3L, 1L, 0L, 0L),
      (4L, 0L, 0L, 0L)))
  }

  test("sampleFrames: one row per sampled frame, empty payloads drop") {
    val frames = Multimodal.sampleFrames(docs, "payload", "doc_id",
      frameBytes = 256, stride = 4)
    val byDoc = frames.groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byDoc == Map(1L -> 4L))
    val lens = frames.select(octet_length($"frame")).collect().map(_.getInt(0))
    assert(lens.forall(_ == 256))
    // frame_no is 0-based consecutive
    val nos = frames.filter($"doc_id" === 1L).select("frame_no")
      .collect().map(_.getInt(0)).sorted.toSeq
    assert(nos == Seq(0, 1, 2, 3))
  }

  test("q208 aHash: one-sample flip pairs at hamming 1, inverse never pairs") {
    val tmp = java.nio.file.Files.createTempDirectory("ph").toString
    // 'az' x 32: a-samples sit far below the frame mean, z-samples far
    // above -> wide margins, so single-sample edits move exactly the
    // edited bit (the mean shift of ±25/60 cannot cross any margin)
    val base = "az" * 32
    val flipped = "zz" + base.drop(2)          // sample 0: a -> z, bit 0 flips
    val inverse = "za" * 32                    // complement hash, hamming 60
    Seq((1L, base), (2L, flipped), (3L, inverse), (4L, base))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = Multimodal.q208FramePhash(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(got.get((1L, 2L)).contains((1L, 1L)), s"flip must pair at h=1: $got")
    assert(got.get((1L, 4L)).contains((1L, 0L)), s"identical frames at h=0: $got")
    assert(got.get((2L, 4L)).contains((1L, 1L)), s"transitive flip pair: $got")
    assert(!got.keys.exists { case (a, b) => a == 3L || b == 3L },
      s"the complement hash must never pair: $got")
    spark.catalog.clearCache()
  }
  test("q220 keyframes: first frame always keeps; identical frames never re-key") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("keyf").toString
    // doc 1: two IDENTICAL 64-char frames (hamming 0 < 30) with a
    // 64-char gap slice between (q208's every-other-slice convention:
    // frames are slices at 0 and 128) -> 2 frames, 1 keyframe.
    // doc 2: frame 1 = 30 'a' then 30 'z' (aHash 30 zeros, 30 ones);
    // frame 2 reverses the halves -> every one of the 60 bits flips
    // (hamming 60 >= 30) -> 2 keyframes.
    val a = "abcdefgh" * 8          // 64 chars
    val gap = "x" * 64
    val f1 = "a" * 30 + "z" * 30 + "mmmm"
    val f2 = "z" * 30 + "a" * 30 + "mmmm"
    Seq(
      (1L, a + gap + a, "en", "s1", 192L),
      (2L, f1 + gap + f2, "en", "s1", 192L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = Multimodal.q220Keyframes(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((1L, 2L, 1L, 500000L), (2L, 2L, 2L, 1000000L)),
      s"got ${got.mkString(", ")}")
  }

  test("dhash64 matches a hand-computed gradient-sign pack") {
    import graft.functions.VectorFunctions
    // 72 cells, row-major 8x9: cell(r*9+c) = (r*9+c) * 7 % 97 — an
    // irregular but deterministic luminance surface
    val cells = Seq.tabulate(72)(i => (i * 7 % 97).toLong)
    var want = 0L
    for (r <- 0 until 8; c <- 0 until 8)
      if (cells(r * 9 + c) < cells(r * 9 + c + 1))
        want |= (1L << (r * 8 + c))
    val got = Seq(Tuple1(cells)).toDF("cells")
      .select(VectorFunctions.dhash64($"cells").as("fp"))
      .collect().head.getLong(0)
    assert(got == want, f"dhash64 got $got%x want $want%x")
    // malformed (short) frame yields null, never a bogus fingerprint
    val short = Seq(Tuple1(Seq(1L, 2L, 3L))).toDF("cells")
      .select(VectorFunctions.dhash64($"cells").as("fp"))
      .collect().head
    assert(short.isNullAt(0), "short cell array must yield null")
  }

  test("q248 codec round trip: PNG encode->decode returns the exact " +
       "integer tensor (cells match the codec-free replay)") {
    // the property the q248 gate rides: PNG is lossless, so the
    // decoded luminance grid equals the grid computed straight from
    // the pixel formula with no codec in the path
    for (id <- Seq(0L, 7L, 123L)) {
      val png = Multimodal.encodePng(id, 0)
      assert(png.length > 8 &&
        (png.take(4).map(_ & 0xFF).toSeq == Seq(0x89, 0x50, 0x4E, 0x47)),
        "payload must be a real PNG (magic bytes)")
      val (w, h, cells) = Multimodal.decodeCells(png)
      assert(w == 18 && h == 16)
      def lum(x: Int, y: Int): Long =
        (299L * Multimodal.pixelChannel(id, x, y, 0, 0) +
         587L * Multimodal.pixelChannel(id, x, y, 1, 0) +
         114L * Multimodal.pixelChannel(id, x, y, 2, 0)) / 1000L
      val expected = for (r <- 0 until 8; c <- 0 until 9) yield
        (lum(2 * c, 2 * r) + lum(2 * c + 1, 2 * r) +
         lum(2 * c, 2 * r + 1) + lum(2 * c + 1, 2 * r + 1)) / 4
      assert(cells == expected, s"codec round trip diverged for doc $id")
    }
  }

  test("q248: a known gradient image fingerprints to all-ones; a " +
       "brightness shift leaves the fingerprint unchanged") {
    import graft.functions.VectorFunctions
    // hand-computable pin on a REAL decoded image: luminance strictly
    // increasing in x => every gradient bit set => fp == -1 (64 ones)
    def gradPng(shift: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        18, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 16; x <- 0 until 18) {
        val v = math.min(255, x * 13 + shift) // 0..221 (+shift), no clamp
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    def fpOf(png: Array[Byte]): Long = {
      val (_, _, cells) = Multimodal.decodeCells(png)
      Seq(cells).toDF("cells")
        .select(VectorFunctions.dhash64(col("cells")).as("fp"))
        .head().getLong(0)
    }
    val base = fpOf(gradPng(0))
    assert(base == -1L, s"strict x-gradient must set all 64 bits, got $base")
    // +9 global brightness: every luminance shifts together, gradient
    // signs (and so the fingerprint) are invariant — the perceptual
    // property an exact byte hash cannot offer
    assert(fpOf(gradPng(9)) == base, "brightness shift must not move the dHash")
  }

  test("q246 dHash pairs a +1-brightness copy; exact hash would miss it") {
    val tmp = java.nio.file.Files.createTempDirectory("dh").toString
    // one 144-char frame with an irregular profile; doc 2 is the SAME
    // frame one brightness step up (every char +1): pooled cells all
    // shift by exactly +1, so every gradient sign — and the dHash —
    // is preserved while the exact text (q97's key) differs. Doc 3
    // reverses the frame: a different gradient profile, no pair.
    val base = (0 until 144).map(i => ('a' + i * 5 % 20).toChar).mkString
    val brighter = base.map(ch => (ch + 1).toChar)
    val reversed = base.reverse
    Seq((1L, base), (2L, brighter), (3L, reversed))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    assert(base != brighter, "fixture must differ textually")
    val got = Multimodal.q246FrameDhash(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.get((1L, 2L)).contains(1L),
      s"brightness-shifted frame must share the dHash: $got")
    assert(!got.keys.exists { case (a, b) => a == 3L || b == 3L },
      s"reversed-gradient frame must not pair: $got")
    spark.catalog.clearCache()
  }
}
