package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Multimodal-column plumbing: media (image/audio/video) payloads are
  * opaque `binary` columns with typed metadata alongside. The Spark
  * side — schema, partition-parallel batch processing, deterministic
  * metadata derivation — is real; the actual codec is STUBBED with a
  * deterministic fake (this container has no image/audio libraries),
  * clearly marked below.
  */
object Multimodal {

  /** q32 — binary-column metadata extraction: payload bytes (here the
    * document text re-encoded, standing in for media bytes), byte
    * length, sha-256 content fingerprint, and fake decoded dimensions
    * derived deterministically from the metadata — all expressible in
    * the oracle. */
  def q32BinaryMeta(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
              octet_length(col("text")).cast("long").as("n_bytes"),
              sha2(col("text"), 256).as("fingerprint"),
              (lit(64) + col("n_chars") % 1856).cast("long").as("fake_width"),
              (lit(64) + (col("n_chars") * 7) % 1016).cast("long").as("fake_height"))
      .orderBy(col("doc_id"))

  /** Typed decode-stage record (keeps [[decodeImages]] in Tungsten via
    * the product encoder, which makes every field non-nullable). */
  final case class DecodedImage(doc_id: Long, n_bytes: Long, width: Int,
                                height: Int, mean_luma: Double)

  /** Resize planning over decoded image metadata: target dimensions
    * preserving aspect ratio with a max-edge bound — pure column
    * arithmetic over the (width, height) metadata the decode stage
    * emitted; the byte-level resample would run inside the decode
    * stub's partition pass. */
  def resizeMeta(df: DataFrame, maxEdge: Int): DataFrame = {
    val w = col("width").cast("double")
    val h = col("height").cast("double")
    val scale = least(lit(1.0), lit(maxEdge) / greatest(w, h))
    df.withColumn("target_width", floor(w * scale).cast("int"))
      .withColumn("target_height", floor(h * scale).cast("int"))
  }

  /** Frame sampling over "video" payloads: every `stride`-th fixed-
    * size block of the binary becomes one frame row (doc_id, frame_no,
    * frame bytes). Pure column expressions — slice/transform on
    * binary — so it stays distributed and codegen-friendly; the
    * per-frame decode would chain [[decodeImages]] behind it.
    *
    * ===== STUB ===== Real frame extraction needs a container/codec
    * parser; the fixed-block slicing stands in for it. The operator
    * SHAPE (one input row → N frame rows, schema, ordering) is real.
    *
    * Cross-engine length semantics (ADVICE r10): this byte-sliced
    * family (q64/q66/q97) is BYTE-addressed on the Spark side
    * (octet_length + binary substr) and its oracles use DuckDB
    * strlen (bytes) for offsets but char-based substr for the slice
    * — identical only while the corpus is ASCII, which the fixtures
    * guarantee and q36 pins. The char-addressed family (q208/q220)
    * uses length()/substr() (characters) in BOTH engines and carries
    * no such assumption. */
  def sampleFrames(df: DataFrame, payloadCol: String, idCol: String,
                   frameBytes: Int = 256, stride: Int = 4): DataFrame = {
    val payload = col(payloadCol).cast("binary")
    val nFrames = floor(octet_length(payload) / (frameBytes.toLong * stride)).cast("int")
    val frames = when(nFrames >= 1,
        transform(sequence(lit(1), nFrames),
          i => payload.substr((i - lit(1)) * lit(frameBytes * stride) + lit(1),
                              lit(frameBytes))))
      .otherwise(array().cast("array<binary>"))
    df.select(col(idCol).cast("long").as("doc_id"),
              posexplode(frames).as(Seq("frame_no", "frame")))
  }

  /** q64 — the decode stage under the oracle gate: run the
    * partition-parallel decode over the documents' bytes and check
    * every derived field against DuckDB (byte length, fake dims,
    * mean byte value — the corpus is ASCII, q36 already proves the
    * per-char arithmetic matches). This upgrades the decode from
    * "plumbing with a spec" to an oracle-checked distributed pass:
    * the mapPartitions path, encoder round-trip, and batch shape all
    * sit on the verified path even though the codec is a stub. */
  def q64DecodeMeta(s: SparkSession, dir: String): DataFrame =
    decodeImages(
        Tables.documents(s, dir)
          .select(col("doc_id"), col("text").cast("binary").as("payload")),
        "payload", "doc_id")
      .select(col("doc_id"), col("n_bytes"),
              col("width").cast("long").as("width"),
              col("height").cast("long").as("height"),
              round(col("mean_luma"), 6).as("mean_luma"))
      .orderBy(col("doc_id"))

  /** q65 — resize planning under the oracle gate: chain [[resizeMeta]]
    * behind the decode stage and verify the target-dimension
    * arithmetic (aspect-preserving max-edge bound) against DuckDB. */
  def q65ResizePlan(s: SparkSession, dir: String, maxEdge: Int = 512): DataFrame =
    resizeMeta(
        decodeImages(
          Tables.documents(s, dir)
            .select(col("doc_id"), col("text").cast("binary").as("payload")),
          "payload", "doc_id"),
        maxEdge)
      .select(col("doc_id"),
              col("width").cast("long").as("width"),
              col("height").cast("long").as("height"),
              col("target_width").cast("long").as("target_width"),
              col("target_height").cast("long").as("target_height"))
      .orderBy(col("doc_id"))

  /** q66 — frame sampling under the oracle gate: every stride-th
    * fixed-size block of the payload becomes a frame row; the corpus
    * is ASCII so DuckDB's string slicing replays the byte slicing
    * and the per-frame md5 matches bit-for-bit. Only (doc, frame_no,
    * md5) ever move. */
  def q66FrameSample(s: SparkSession, dir: String): DataFrame =
    sampleFrames(
        Tables.documents(s, dir)
          .select(col("doc_id"), col("text").cast("binary").as("payload")),
        "payload", "doc_id", frameBytes = 64, stride = 2)
      .select(col("doc_id"), col("frame_no").cast("long").as("frame_no"),
              md5(col("frame")).as("frame_md5"))
      .orderBy(col("doc_id"), col("frame_no"))

  /** q97 — frame-level dedup across videos: sample frames exactly as
    * q66, fingerprint each, and report per video how many of its
    * frames also occur elsewhere in the corpus (same video or
    * another) — the keyframe-dedup signal a video-heavy training
    * pipeline uses to drop intros/outros/test-cards before paying
    * for feature extraction. `dup_micro` = (n_dup · 1e6) div n_frames
    * — exact integer division, no float share.
    *
    * Scale shape: identical to q74's word-gram coverage but over
    * binary frame hashes: ONE map pass samples + fingerprints (only
    * (doc, md5) ever leave the scan — never frame bytes), collapse to
    * per-(video, hash) counts with map-side combine, corpus totals as
    * a second aggregate over the collapsed set, hash-keyed join back.
    * The persisted set is the collapsed counts, not the frames. */
  def q97FrameDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val perVideoFrame = sampleFrames(
        docs.select(col("doc_id"), col("text").cast("binary").as("payload")),
        "payload", "doc_id", frameBytes = 64, stride = 2)
      .select(col("doc_id"), md5(col("frame")).as("h"))
      .groupBy(col("doc_id"), col("h"))
      .agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val totals = perVideoFrame.groupBy(col("h")).agg(sum(col("c")).as("tot"))
    val perVideo = perVideoFrame
      .join(totals, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).cast("long").as("n_frames"),
           sum(when(col("tot") >= 2, col("c")).otherwise(0L))
             .cast("long").as("n_dup"))
    docs.select(col("doc_id"))
      .join(perVideo, Seq("doc_id"), "left")
      .select(col("doc_id"),
              coalesce(col("n_frames"), lit(0L)).as("n_frames"),
              coalesce(col("n_dup"), lit(0L)).as("n_dup"),
              when(col("n_frames").isNull || col("n_frames") === 0, 0L)
                .otherwise(expr("(n_dup * 1000000L) div n_frames"))
                .as("dup_micro"))
      .orderBy(col("doc_id"))
  }

  /** Partition-parallel "decode" over binary payloads: the real
    * engine shape (mapPartitions over an iterator of rows, batch-
    * friendly, no driver collect).
    *
    * ===== STUB =====
    * A real deployment would decode image/audio bytes here (e.g. via
    * a JNI codec); this container has no media libraries, so the
    * decode is a deterministic fake derived from the payload bytes.
    * The Spark plumbing (schema, signature, partitioning) is real and
    * tested.
    */
  def decodeImages(df: DataFrame, payloadCol: String, idCol: String): DataFrame = {
    val session = df.sparkSession
    import session.implicits._
    // Dataset.mapPartitions, NOT .rdd (VERDICT r1 #8): same iterator
    // shape, but rows stay UnsafeRow/Tungsten and the surrounding plan
    // keeps whole-stage codegen on both sides of the decode stage.
    df.select(col(idCol).cast("long"), col(payloadCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, bytes) =>
          // deterministic fake decode: dims + luma from byte stats
          val n = bytes.length
          val w = 64 + (n % 1856)
          val h = 64 + ((n * 7) % 1016)
          var sum = 0L
          var i = 0
          while (i < n) { sum += (bytes(i) & 0xff); i += 1 }
          val luma = if (n == 0) 0.0 else sum.toDouble / n / 255.0
          DecodedImage(id, n.toLong, w, h, luma)
        }
      }.toDF()
  }

  /** q208 — perceptual-hash frame NEAR-dup across videos: q97 catches
    * bit-identical frames (md5); this catches re-encoded /
    * slightly-corrupted copies the way image dedup actually does it —
    * an average-hash (aHash) fingerprint per sampled frame (bit i =
    * sample i above the frame mean, the content-adaptive threshold
    * that survives uniform brightness shifts) and Hamming-distance
    * pairing via q185's pigeonhole-complete 4×15-bit chunk banding
    * (exact for hamming ≤ 3). The fingerprint is 60 bits over the
    * frame's first 60 samples so the whole hash packs one long and
    * the chunk arithmetic is shared with the SimHash path. Frames are
    * every 2nd 64-byte block (q66's stride discipline); videos pair
    * on the count of near-dup DISTINCT frame-hash pairs.
    *
    * Scale shape: fingerprinting is one map pass (only (doc, fp)
    * longs leave the scan — never frame bytes); the per-video
    * distinct collapses map-side; the only corpus exchange is the
    * chunk-key self-join, whose buckets are capped at
    * [[PhashDfCap]] members (the q202 stop-fingerprint rule — a
    * test-card frame shared by hundreds of videos carries no pair
    * signal and would quadratic-blow its bucket); verification is a
    * single XOR+popcount per candidate. Top-30 video pairs plan as
    * TakeOrderedAndProject. */
  def q208FramePhash(s: SparkSession, dir: String,
                     maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3,
      s"4x15 chunk banding is complete only for hamming <= 3, got $maxHamming")
    // widen ahead of the frame explode + aHash HOF passes — q220's
    // measured stage-1 bottleneck, same kernel (OPTIMIZATION_r14.md)
    val frames = Tables.widen(Tables.documents(s, dir)
        .select(col("doc_id"), col("text"))
        .filter(length(col("text")) >= 64))
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, (length(text) div 64 - 1) div 2),
           j -> substring(text, j * 128 + 1, 64))""")).as("f"))
    // codegen'd aHash ([[graft.functions.AHash60]], bit-identical to
    // the former 3-pass HOF chain — guide step 4)
    // no persist: the r15 bucket shape leaves fp with ONE consumer
    // (the chunk explode), so caching would only pay a store+read tax
    val fp = frames
      .select(col("doc_id"),
              graft.functions.VectorFunctions.ahash60(col("f")).as("fp"))
      .distinct()
    // banded pairing WITHOUT the bucket self-join (r15, the q91
    // posting-list move): one explicit hash exchange on the chunk
    // key, REUSED by the bucket-population count, the rare semi-join
    // and the member collect (count-then-collect keeps every buffer
    // ≤ PhashDfCap by construction — the r10 #2 discipline); pairs
    // then expand MAP-SIDE from each ≤ 20-member bucket instead of
    // re-shuffling both sides of a chunk-keyed self-join. Pair set
    // identical: same buckets, same doc_a < doc_b orientation, same
    // distinct + Hamming verify.
    val ck = fp.select(col("doc_id"), col("fp"),
      posexplode(expr(
        "transform(sequence(0, 3), c -> (fp >> (15 * c)) & 32767)"))
        .as(Seq("c", "ckey")))
      .repartition(col("c"), col("ckey"))
    val rareKeys = ck.groupBy(col("c"), col("ckey"))
      .agg(count(lit(1)).as("bn"))
      .filter(col("bn") <= PhashDfCap).select(col("c"), col("ckey"))
    val cand = ck.join(rareKeys, Seq("c", "ckey"), "left_semi")
      .groupBy(col("c"), col("ckey"))
      .agg(collect_list(struct(col("doc_id").as("d"), col("fp").as("f")))
        .as("ms"))
      .select(explode(expr(
        """flatten(transform(ms,
             x -> transform(filter(ms, y -> y.d > x.d),
                            y -> struct(x.d AS doc_a, y.d AS doc_b,
                                        x.f AS fp_a, y.f AS fp_b))))""")).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"),
              col("p.fp_a").as("fp_a"), col("p.fp_b").as("fp_b"))
      .distinct()
      .filter(bit_count(expr("fp_a ^ fp_b")) <= maxHamming)
    cand.groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_pairs"),
           min(bit_count(expr("fp_a ^ fp_b")).cast("long")).as("min_hamming"))
      .orderBy(col("n_pairs").desc, col("doc_a"), col("doc_b"))
      .limit(30)
  }

  /** Chunk-bucket population cap for [[q208FramePhash]]. */
  private[ops] val PhashDfCap = 20L

  /** DuckDB oracle for q208 — identical frame slices, aHash bits,
    * chunk keys, bucket cap, and XOR/popcount verify. */
  def q208OracleSql(maxHamming: Int = 3): String = {
    require(maxHamming <= 3,
      s"4x15 chunk banding is complete only for hamming <= 3, got $maxHamming")
    s"""WITH fr AS (SELECT doc_id, u AS f FROM (
         SELECT doc_id, unnest(list_transform(
           generate_series(0, (length(text) // 64 - 1) // 2),
           j -> substr(text, j * 128 + 1, 64))) AS u
         FROM documents WHERE length(text) >= 64)),
       ar AS (SELECT doc_id, f, list_transform(generate_series(1, 60),
           i -> ascii(substr(f, i, 1))::BIGINT) AS arr FROM fr),
       sm AS (SELECT doc_id, arr, list_sum(arr) AS ssum FROM ar),
       fp AS (SELECT DISTINCT doc_id,
           list_sum(list_transform(generate_series(0, 59),
             i -> CASE WHEN 60 * arr[i + 1] > ssum
                  THEN (1::BIGINT << i) ELSE 0 END))::BIGINT AS fp
         FROM sm),
       ck AS (SELECT doc_id, fp, c, (fp >> (15 * c)) & 32767 AS ckey
         FROM fp, unnest([0, 1, 2, 3]) AS u(c)),
       bc AS (SELECT c, ckey FROM (SELECT c, ckey, count(*) AS bn
         FROM ck GROUP BY c, ckey) WHERE bn <= $PhashDfCap),
       rare AS (SELECT ck.doc_id, ck.fp, ck.c, ck.ckey
         FROM ck JOIN bc USING (c, ckey)),
       cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
           x.fp AS fp_a, y.fp AS fp_b
         FROM rare x JOIN rare y ON x.c = y.c AND x.ckey = y.ckey
           AND x.doc_id < y.doc_id
         WHERE bit_count(xor(x.fp, y.fp)) <= $maxHamming)
       SELECT doc_a, doc_b, count(*)::BIGINT AS n_pairs,
         min(bit_count(xor(fp_a, fp_b)))::BIGINT AS min_hamming
       FROM cand GROUP BY doc_a, doc_b
       ORDER BY n_pairs DESC, doc_a, doc_b LIMIT 30"""
  }

  /** q220 — KEYFRAME SELECTION by scene change: within each video
    * (the q208 fake-decode convention: a document's text is the
    * byte stream, frames are its 64-char slices in order), a frame
    * is a KEYFRAME iff it is the first frame or its aHash hamming
    * distance to the PREVIOUS frame is ≥ `minDist` — the standard
    * shot-boundary heuristic (a large perceptual-hash jump marks a
    * cut), expressed as one per-video lag window over integer
    * fingerprints. Emitted per video: frame count, keyframe count,
    * and the keep ratio in exact micros — the sampling-rate audit a
    * video-curation pipeline logs before deciding decode budgets.
    *
    * Scale shape: frame explode and aHash are map-side (the q208
    * kernel); the only shuffle is the per-video window (key = video
    * id, partition size = frames per video — bounded by clip length,
    * not corpus size) and the per-video rollup that follows it.
    * Swapping the fake decode for a real codec changes only the
    * frame-bytes expression, as with q64/q66/q208. */
  def q220Keyframes(s: SparkSession, dir: String,
                    minDist: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // widen BEFORE the frame explode + per-frame aHash HOFs — the
    // whole fingerprint build is stage-1 map work that a single-
    // row-group fixture scan would otherwise run on one core
    // (OPTIMIZATION_r14.md; no-op on multi-split scans)
    val frames = Tables.widen(Tables.documents(s, dir)
        .select(col("doc_id"), col("text"))
        .filter(length(col("text")) >= 64))
      .select(col("doc_id"), posexplode(expr(
        """transform(sequence(0, (length(text) div 64 - 1) div 2),
           j -> substring(text, j * 128 + 1, 64))""")).as(Seq("idx", "f")))
    // codegen'd aHash ([[graft.functions.AHash60]], bit-identical to
    // the former 3-pass HOF chain — guide step 4, no interpreted
    // lambdas or per-frame arrays in the hot map stage)
    val fp = frames
      .select(col("doc_id"), col("idx"),
              graft.functions.VectorFunctions.ahash60(col("f")).as("fp"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("idx"))
    fp
      .withColumn("prev", lag(col("fp"), 1).over(w))
      .withColumn("is_key",
        when(col("prev").isNull ||
             bit_count(expr("fp ^ prev")) >= minDist, 1L).otherwise(0L))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_frames"), sum(col("is_key")).as("n_key"))
      .select(col("doc_id"), col("n_frames"), col("n_key"),
              expr("n_key * 1000000L div n_frames").as("key_ratio_micro"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB oracle for q220 — identical frame slices, aHash bits,
    * lag window, and threshold. */
  def q220OracleSql(minDist: Int = 30): String =
    s"""WITH fr AS (SELECT doc_id, j AS idx,
         substr(text, j * 128 + 1, 64) AS f
         FROM documents,
           unnest(generate_series(0, (length(text) // 64 - 1) // 2)) t(j)
         WHERE length(text) >= 64),
       ar AS (SELECT doc_id, idx, list_transform(generate_series(1, 60),
           i -> ascii(substr(f, i, 1))::BIGINT) AS arr FROM fr),
       sm AS (SELECT doc_id, idx, arr, list_sum(arr) AS ssum FROM ar),
       fp AS (SELECT doc_id, idx,
           list_sum(list_transform(generate_series(0, 59),
             i -> CASE WHEN 60 * arr[i + 1] > ssum
                  THEN (1::BIGINT << i) ELSE 0 END))::BIGINT AS fp FROM sm),
       lg AS (SELECT doc_id, idx, fp,
           lag(fp) OVER (PARTITION BY doc_id ORDER BY idx) AS prev FROM fp),
       k AS (SELECT doc_id,
           CASE WHEN prev IS NULL
                     OR bit_count(xor(fp, prev)) >= $minDist
                THEN 1 ELSE 0 END AS is_key FROM lg)
       SELECT doc_id, count(*)::BIGINT AS n_frames,
         sum(is_key)::BIGINT AS n_key,
         CAST(sum(is_key) * 1000000 // count(*) AS BIGINT)
           AS key_ratio_micro
       FROM k GROUP BY doc_id ORDER BY doc_id"""

  /** Fingerprint-bucket population cap for [[q246FrameDhash]] — the
    * same envelope as q208's [[PhashDfCap]]: a degenerate hash value
    * shared by > cap frames is stopword-class mass whose quadratic
    * pair space a near-dup pass must prune, not enumerate. */
  private[ops] val DhashDfCap = 20L

  /** q246 — perceptual dHash frame dedup (VERDICT r12 #7, the first
    * multimodal operator with real signal-processing semantics):
    * each video's frames (144-char slices of the byte stream, the
    * q208/q220 fake-decode convention) are average-pooled to an
    * 8×9 luminance grid (cell = 2-byte mean, the "resize" step of
    * the classic dHash recipe) and packed to a 64-bit GRADIENT-SIGN
    * fingerprint by the codegen'd [[graft.functions.DHash64]] — bit
    * r·8+c says "row r brightens from column c to c+1". Unlike
    * q97's exact frame hash, the gradient signs survive global
    * brightness shifts and monotone contrast maps (MultimodalSpec
    * plants a +1-brightness copy and pins the match), so re-encoded
    * near-identical frames still pair. Cross-video pairs sharing a
    * fingerprint are counted per doc pair — q97's frame-dedup join
    * shape riding the perceptual key.
    *
    * Scale shape: frames, pooling and the fingerprint are map-side
    * expression work (one scan, no UDF); the self-join runs on the
    * 64-bit key with hot fingerprints pruned by [[DhashDfCap]]
    * BEFORE the join (the df-cap envelope every fingerprint family
    * on this board carries), so candidates stay O(n·cap), never
    * quadratic in a stopword-class bucket. */
  def q246FrameDhash(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions
    // widen ahead of the frame explode + pooling HOFs — the q220/q208
    // stage-1 kernel (OPTIMIZATION_r14.md)
    val frames = Tables.widen(Tables.documents(s, dir)
        .select(col("doc_id"), col("text"))
        .filter(length(col("text")) >= 144))
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, length(text) div 144 - 1),
           j -> substring(text, j * 144 + 1, 144))""")).as("f"))
    val fp = frames
      .withColumn("cells", expr(
        """transform(sequence(0, 71), i ->
           (ascii(substring(f, 2 * i + 1, 1)) +
            ascii(substring(f, 2 * i + 2, 1))) div 2)"""))
      .select(col("doc_id"), VectorFunctions.dhash64(col("cells")).as("fp"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val capped = fp.join(
        fp.groupBy(col("fp")).agg(count(lit(1)).as("bn"))
          .filter(col("bn") <= DhashDfCap).select(col("fp")),
        Seq("fp"))
      .select(col("fp"), col("doc_id"))
    capped.select(col("fp"), col("doc_id").as("doc_a"))
      .join(capped.select(col("fp").as("fp2"), col("doc_id").as("doc_b")),
            col("fp") === col("fp2") && col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy(col("n_shared").desc, col("doc_a"), col("doc_b"))
      .limit(30)
  }

  /** DuckDB oracle for q246 — identical frames, pooled cells, and
    * gradient-sign pack; bits 0–62 sum in BIGINT, the sign bit folds
    * in as −2⁶³ (a BIGINT `1 << 63` overflows in DuckDB). */
  def q246OracleSql: String =
    s"""WITH fr AS (SELECT doc_id, u AS f FROM (
         SELECT doc_id, unnest(list_transform(
           generate_series(0, length(text) // 144 - 1),
           j -> substr(text, j * 144 + 1, 144))) AS u
         FROM documents WHERE length(text) >= 144)),
       cl AS (SELECT doc_id, list_transform(generate_series(0, 71),
           i -> (ascii(substr(f, 2 * i + 1, 1))
                 + ascii(substr(f, 2 * i + 2, 1))) // 2) AS cells
         FROM fr),
       fpt AS (SELECT DISTINCT doc_id,
           (list_sum(list_transform(generate_series(0, 62),
              b -> CASE WHEN cells[(b // 8) * 9 + (b % 8) + 1]
                             < cells[(b // 8) * 9 + (b % 8) + 2]
                   THEN (1::BIGINT << b) ELSE 0 END))
            + CASE WHEN cells[71] < cells[72]
                   THEN -9223372036854775807 - 1 ELSE 0 END)::BIGINT AS fp
         FROM cl),
       bc AS (SELECT fp FROM (SELECT fp, count(*) AS bn
         FROM fpt GROUP BY fp) WHERE bn <= $DhashDfCap),
       capped AS (SELECT f.doc_id, f.fp FROM fpt f JOIN bc USING (fp))
       SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
         count(*)::BIGINT AS n_shared
       FROM capped x JOIN capped y
         ON x.fp = y.fp AND x.doc_id < y.doc_id
       GROUP BY 1, 2 ORDER BY n_shared DESC, doc_a, doc_b LIMIT 30"""

  /** Real-byte image plumbing (VERDICT r13 #8): an 18×16 RGB tensor
    * derived DETERMINISTICALLY from a doc_id — every channel value is
    * pure integer arithmetic, so the DuckDB oracle can regenerate the
    * exact pixels without touching a codec. `bright` models a global
    * brightness shift (re-encode/gamma-ish corruption), clamped at
    * 255 like a real 8-bit pipeline. */
  private[ops] def pixelChannel(docId: Long, x: Int, y: Int,
                                c: Int, bright: Int): Int = {
    val v = ((docId * 1315423911L + (y.toLong * 18 + x) * 2654435761L +
              c.toLong * 97531L) % 256L).toInt
    math.min(255, v + bright)
  }

  /** javax.imageio's DEFAULT stream cache is a temp FILE created and
    * deleted per encode and per decode — 4 filesystem round-trips per
    * document for a 1 KB image whose deflate work is microseconds.
    * Measured on the r14 baseline this dominated q248 (6.07 s; see
    * OPTIMIZATION_r14.md). One-time switch to the in-memory stream
    * cache; referenced by both codec helpers so any entry path flips
    * it before first use. */
  private lazy val imageIoMemCache: Unit =
    javax.imageio.ImageIO.setUseCache(false)

  /** Per-thread PNG writer/reader instances: `ImageIO.write/read`
    * walk the service registry and construct a fresh plugin instance
    * per CALL — per-task state that guide §4.5 says to initialize
    * once and amortize. Thread-local because Spark local-mode tasks
    * share the JVM across 32 executor threads and plugin instances
    * are not thread-safe. */
  private val pngWriter =
    new ThreadLocal[javax.imageio.ImageWriter] {
      override def initialValue(): javax.imageio.ImageWriter =
        javax.imageio.ImageIO.getImageWritersByFormatName("png").next()
    }
  private val pngReader =
    new ThreadLocal[javax.imageio.ImageReader] {
      override def initialValue(): javax.imageio.ImageReader =
        javax.imageio.ImageIO.getImageReadersByFormatName("png").next()
    }

  /** Encode the deterministic tensor as a REAL PNG via the JDK codec
    * (javax.imageio) — actual compressed image bytes, the binary
    * column shape a multimodal corpus carries. Pixels land through
    * one bulk setRGB (the TYPE_INT_RGB fast path), not 288 per-pixel
    * calls through the color model. */
  private[ops] def encodePng(docId: Long, bright: Int): Array[Byte] = {
    imageIoMemCache
    val img = new java.awt.image.BufferedImage(
      18, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val px = new Array[Int](18 * 16)
    var y = 0
    while (y < 16) {
      var x = 0
      while (x < 18) {
        px(y * 18 + x) =
          (pixelChannel(docId, x, y, 0, bright) << 16) |
          (pixelChannel(docId, x, y, 1, bright) << 8) |
          pixelChannel(docId, x, y, 2, bright)
        x += 1
      }
      y += 1
    }
    img.setRGB(0, 0, 18, 16, px, 0, 18)
    val bos = new java.io.ByteArrayOutputStream()
    val out = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    val w = pngWriter.get()
    w.setOutput(out)
    w.write(img)
    out.flush()
    bos.toByteArray
  }

  /** Decode REAL image bytes through the JDK codec and pool to the
    * 72-cell (8 rows × 9 cols) luminance grid [[DHash64]] consumes:
    * integer BT.601 luma (299·R + 587·G + 114·B) div 1000 per pixel,
    * 2×2 average pool per cell — all truncating integer ops, so the
    * oracle's codec-free replay is exact (PNG is lossless). Pixels
    * come back through one bulk getRGB, not 288 color-model calls. */
  private[ops] def decodeCells(png: Array[Byte]): (Int, Int, Seq[Long]) = {
    imageIoMemCache
    val rd = pngReader.get()
    rd.setInput(new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(png)))
    val img = rd.read(0)
    val w = img.getWidth
    val px = img.getRGB(0, 0, w, img.getHeight, null, 0, w)
    def lum(x: Int, y: Int): Long = {
      val rgb = px(y * w + x)
      (299L * ((rgb >> 16) & 0xFF) + 587L * ((rgb >> 8) & 0xFF) +
       114L * (rgb & 0xFF)) / 1000L
    }
    val cells = for (r <- 0 until 8; c <- 0 until 9) yield
      (lum(2 * c, 2 * r) + lum(2 * c + 1, 2 * r) +
       lum(2 * c, 2 * r + 1) + lum(2 * c + 1, 2 * r + 1)) / 4
    (img.getWidth, img.getHeight, cells)
  }

  /** q248 — perceptual dHash over REAL image bytes (VERDICT r13 #8):
    * the q246 recipe with the fake-decode convention replaced by an
    * actual codec round-trip. Per document, an 18×16 RGB tensor
    * (deterministic integer function of doc_id) is encoded to real
    * PNG bytes and a +1-brightness variant of it — the binary image
    * column a multimodal corpus carries — then DECODED back through
    * javax.imageio, pooled to the 8×9 integer luminance grid (BT.601
    * luma, 2×2 average pool), and fingerprinted by the codegen'd
    * [[graft.functions.DHash64]]. Because PNG is lossless and every
    * pixel is integer-derived, the DuckDB oracle regenerates the
    * pixels codec-free and replays luma/pool/pack bit-for-bit — the
    * gate therefore proves the ENCODE→DECODE round trip preserved
    * every channel byte (a lossy or channel-swapping codec path would
    * hash-diverge), which is exactly the property multimodal ingest
    * needs pinned. MultimodalSpec pins the hand-computable gradient
    * fingerprint and brightness-shift invariance on known images.
    *
    * Scale shape: the codec is genuine per-partition imperative work
    * (the one place the mandate's mapPartitions escape hatch is the
    * right tool — a pixel codec is not expressible as Catalyst
    * expressions); both stages stay in Tungsten via product encoders,
    * the tensor/codec cost is O(docs) map work with no shuffle before
    * the final cosmetic sort, and the emitted frame is
    * (doc_id, variant, fp, lum_sum) — bytes never cross a stage
    * boundary. Swapping the deterministic tensor for a real corpus's
    * binary column changes only the first `select`. */
  def q248ImageDhash(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions
    val spark = s
    import spark.implicits._
    // encode → REAL PNG bytes → decode, fused into ONE per-partition
    // typed stage: the bytes exist only between the two codec calls,
    // so they never pay a Tungsten serialize/deserialize round trip
    // (the r14 baseline plan carried them across a
    // SerializeFromObject/DeserializeToObject boundary for nothing —
    // guide §2.3, don't move bytes a stage doesn't need). The round
    // trip itself is unchanged and still proven by the codec-free
    // oracle replay.
    val cells = Tables.widen(Tables.documents(s, dir).select(col("doc_id")))
      .as[Long]
      .mapPartitions(_.flatMap { id =>
        Seq(("base", 0), ("bright", 1)).map { case (variant, b) =>
          val (w, h, cs) = decodeCells(encodePng(id, b))
          (id, variant, w.toLong, h.toLong, cs)
        }
      })
      .toDF("doc_id", "variant", "w", "h", "cells")
    cells
      .select(col("doc_id"), col("variant"), col("w"), col("h"),
              VectorFunctions.dhash64(col("cells")).as("fp"),
              expr("aggregate(cells, 0L, (a, x) -> a + x)").as("lum_sum"))
      .orderBy(col("doc_id"), col("variant"))
  }

  /** DuckDB oracle for q248 — the codec-free pixel replay: identical
    * integer tensor, BT.601 luma, 2×2 pool, and gradient-sign pack
    * (bit 63 folds in as −2⁶³, the q246 convention); w/h are the
    * fixed tensor dims the codec round-trip must preserve. */
  def q248OracleSql: String = {
    // luma of pixel (x, y) for the current (doc_id, bshift) row — the
    // exact integer form of pixelChannel + the BT.601 combine
    def lum(xE: String, yE: String): String = {
      def ch(c: Int) =
        s"least(255, (doc_id * 1315423911 + (($yE) * 18 + ($xE)) * 2654435761" +
        s" + $c * 97531) % 256 + bshift)"
      s"((299 * ${ch(0)} + 587 * ${ch(1)} + 114 * ${ch(2)}) // 1000)"
    }
    val cell =
      s"""(${lum("2 * (i % 9)", "2 * (i // 9)")} +
          ${lum("2 * (i % 9) + 1", "2 * (i // 9)")} +
          ${lum("2 * (i % 9)", "2 * (i // 9) + 1")} +
          ${lum("2 * (i % 9) + 1", "2 * (i // 9) + 1")}) // 4"""
    s"""WITH v(variant, bshift) AS (VALUES ('base', 0), ('bright', 1)),
       base AS (SELECT doc_id, variant, bshift FROM documents CROSS JOIN v),
       cl AS (SELECT doc_id, variant,
           list_transform(generate_series(0, 71), i -> $cell) AS cells
         FROM base)
       SELECT doc_id, variant, 18::BIGINT AS w, 16::BIGINT AS h,
         (list_sum(list_transform(generate_series(0, 62),
            b -> CASE WHEN cells[(b // 8) * 9 + (b % 8) + 1]
                           < cells[(b // 8) * 9 + (b % 8) + 2]
                 THEN (1::BIGINT << b) ELSE 0 END))
          + CASE WHEN cells[71] < cells[72]
                 THEN -9223372036854775807 - 1 ELSE 0 END)::BIGINT AS fp,
         list_sum(cells)::BIGINT AS lum_sum
       FROM cl ORDER BY doc_id, variant"""
  }
}
