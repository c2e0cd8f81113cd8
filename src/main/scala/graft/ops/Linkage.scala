package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Probabilistic record linkage (entity resolution) over the document
  * corpus — the Fellegi–Sunter model [Fellegi & Sunter 1969, "A theory
  * for record linkage", JASA]: candidate pairs from cheap blocking,
  * per-field agreement weights from log-likelihood ratios
  * ln(m/u) / ln((1−m)/(1−u)), pair score = sum of field weights,
  * thresholded into match / possible-match verdicts. BOTH parameter
  * families are estimated from the data (full FS, VERDICT r13 #5):
  * the m- and u-probabilities come from an EM fit over the 2⁴
  * agreement-pattern contingency of the candidate pairs [Winkler 1988,
  * "Using the EM algorithm for weight computation in the
  * Fellegi-Sunter model"], run in exact integer micro arithmetic so
  * the DuckDB oracle replays it bit-for-bit. A field that happens to
  * be uninformative in the corpus — agreeing as often between
  * non-matches as between matches — earns m ≈ u and so ~zero weight,
  * with no prior to override the data.
  */
object Linkage {

  /** Fixed EM iteration count — both engines run the identical
    * truncating integer recurrence, so the gate is bit-exact (the
    * q234 Jacobi convention: determinism beats adaptive stopping). */
  private[ops] val EmIters = 25
  private val Mi = BigInt(1000000)

  /** EM fit of the 2-class (match / non-match) latent mixture over an
    * agreement-pattern contingency, in exact integer micro arithmetic
    * (all probabilities are integers in [1, 10⁶−1]; every division
    * truncates; BigInt throughout — intermediate products reach 10³⁶,
    * mirrored by HUGEINT in the oracle).
    *
    * `patterns`: (bits per field, pair count); `uInit`: initial
    * u-probability per field in micro (the corpus chance-agreement
    * ratio — an informative start that breaks the label symmetry
    * toward "matches are the rare, high-agreement class");
    * m starts at 0.9, the class prior p at 0.1.
    *
    * Per iteration, E-step posterior per pattern γ:
    *   a(γ) = p·Π_f (γ_f ? m_f : M−m_f);  b(γ) = (M−p)·Π_f (γ_f ? u_f : M−u_f)
    *   g(γ) = a·M div (a+b)
    * M-step (all sums exact integers, so order-free):
    *   p  ← Σc·g div Σc
    *   m_f ← Σ_{γ_f=1} c·g·M div Σc·g
    *   u_f ← Σ_{γ_f=1} c·(M−g)·M div (Σc·M − Σc·g)
    * each clamped to [1, M−1] (keeps the final ln weights finite when
    * a class degenerates). Returns (p, m per field, u per field) in
    * micro. */
  private[ops] def emFit(patterns: Seq[(Seq[Int], Long)],
                         uInit: Seq[Long],
                         iters: Int = EmIters): (Long, Seq[Long], Seq[Long]) = {
    val nf = uInit.size
    require(patterns.forall(_._1.size == nf), "pattern arity != field count")
    def clamp(x: BigInt): BigInt = x.max(BigInt(1)).min(Mi - 1)
    var p = BigInt(100000)
    var m = Vector.fill(nf)(BigInt(900000))
    var u = uInit.map(v => clamp(BigInt(v))).toVector
    val c = patterns.map { case (_, n) => BigInt(n) }
    val cTot = c.sum
    for (_ <- 1 to iters) {
      val g = patterns.zipWithIndex.map { case ((bits, _), i) =>
        val a = bits.indices.foldLeft(p)((acc, f) =>
          acc * (if (bits(f) == 1) m(f) else Mi - m(f)))
        val b = bits.indices.foldLeft(Mi - p)((acc, f) =>
          acc * (if (bits(f) == 1) u(f) else Mi - u(f)))
        a * Mi / (a + b) // a+b ≥ 2: p and every factor are clamped ≥ 1
      }
      val s = patterns.indices.map(i => c(i) * g(i)).sum
      val sBar = cTot * Mi - s
      p = if (cTot > 0) clamp(s / cTot) else p
      m = Vector.tabulate(nf) { f =>
        val num = patterns.indices
          .collect { case i if patterns(i)._1(f) == 1 => c(i) * g(i) }.sum
        if (s > 0) clamp(num * Mi / s) else m(f)
      }
      u = Vector.tabulate(nf) { f =>
        val num = patterns.indices
          .collect { case i if patterns(i)._1(f) == 1 => c(i) * (Mi - g(i)) }.sum
        if (sBar > 0) clamp(num * Mi / sBar) else u(f)
      }
    }
    (p.toLong, m.map(_.toLong), u.map(_.toLong))
  }

  private val Q247MaxBlock = 1024
  private val Q247TMatch = 10.0
  private val Q247TPossible = 4.0

  /** q247 — FULL Fellegi–Sunter probabilistic record linkage on
    * `documents` [Fellegi & Sunter 1969; Winkler 1988]: multi-pass
    * blocked candidate pairs, an integer-micro EM fit of BOTH the m-
    * and u-probabilities over the candidates' 2⁴ agreement-pattern
    * contingency, and per-field log-likelihood weights from the
    * fitted parameters, thresholded into match / possible-match
    * verdicts — the entity-resolution step a training-data pipeline
    * runs when "same record" is probabilistic, not an equality key.
    *
    * Comparison vector per candidate pair (4 fields, each agree/
    * disagree): first token `ft`, md5 of the first-8-token prefix
    * `p8` (an appended-suffix duplicate — the corpus's planted dup
    * shape — keeps the whole prefix, so p8 is the high-precision
    * identity field), 25-char length bucket `cb`, 5-word count
    * bucket `wb`. Null text coalesces to '' in BOTH engines before
    * tokenizing (ADVICE r13: Spark's concat_ws over a null array
    * yields md5("") while DuckDB's array_to_string(NULL) is NULL —
    * the coalesce makes the engines agree on null-text docs instead
    * of silently dropping them from pass B's equi-join).
    *
    * Parameter estimation: u initializes from the corpus
    * chance-agreement ratio u_f = Σ_v n_v(n_v−1) / N(N−1) (exact
    * integer micro), m from 0.9, prior p from 0.1; [[emFit]] then
    * runs [[EmIters]] fixed truncating-integer iterations over the
    * ≤ 16-row pattern contingency (a driver-bounded read — the q234
    * bounded-scalar pattern; the contingency is counted by one
    * map-side-combining aggregate over the candidate pairs). The
    * DuckDB oracle replays the identical recurrence in HUGEINT, so
    * weights derive from bit-equal integers in both engines (the ln
    * inputs are identical integer ratios; ln itself is the
    * established q214/q231 cross-engine surface). Estimating on the
    * blocked candidate set (not the full N² pair space) is the
    * standard FS deployment [Winkler 1988] — u then means "chance
    * agreement among co-blocked non-matches", which is the
    * population the scores rank.
    *
    * Blocking is MULTI-PASS (the standard FS deployment shape
    * [Hernández & Stolfo 1998]: no single key survives every
    * corruption): pass A blocks on (lang, source, 100-char length
    * bucket); pass B blocks on p8 — the corpus's planted duplicates
    * re-draw lang AND source (measured at sf0.01), so the metadata
    * pass alone splits nearly every true match while the shared
    * prefix survives by construction. Pair rows from the two passes
    * are union-DISTINCT'd before the contingency count and scoring.
    * Each pass's oversized blocks are deterministically sub-split at
    * maxBlock — the q23/q78 O(n·maxBlock) bound on the quadratic
    * pair space. Verdicts: score ≥ tMatch → 'match', ≥ tPossible →
    * 'possible', below → not emitted (FS pipelines only materialize
    * the review queue). Score is emitted in round-4; the threshold
    * compares run on the unrounded double in BOTH engines.
    *
    * Scale shape: one map pass to the compact per-doc comparison
    * frame (ids + 4 small fields — text never enters the join), a
    * block-keyed self-join with enforced ≤ maxBlock blocks, the
    * agreement bits projected in the join (pairs never carry field
    * values downstream), ONE map-side-combining aggregate to the
    * ≤ 16-row contingency (the only extra action vs a fixed-weight
    * scorer — the candidate frame is persisted and reused), the EM
    * on ≤ 16 driver rows, and the fitted weights folded back in as
    * LITERALS — scoring is a pure projection, no weight join at all.
    * u-init is two rounds of map-side aggregates per field. */
  def q247RecordLinkage(s: SparkSession, dir: String,
                        maxBlock: Int = Q247MaxBlock,
                        tMatch: Double = Q247TMatch,
                        tPossible: Double = Q247TPossible): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
      .withColumn("toks", split(coalesce(col("text"), lit("")), " "))
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
              element_at(col("toks"), 1).as("ft"),
              md5(concat_ws(" ", slice(col("toks"), 1, 8))).as("p8"),
              expr("n_chars div 25").as("cb"),
              expr("size(toks) div 5").as("wb"))
    val fields = Seq("ft", "p8", "cb", "wb")
    // u-INIT numerators as exact integers: Σ n_v(n_v−1) per field over
    // the GLOBAL value distribution (two map-side aggregates each);
    // denominator N(N−1) from one scalar count. One bounded driver
    // read (1 row, 5 longs).
    def uNum(c: String): DataFrame =
      docs.groupBy(col(c)).agg(count(lit(1)).as("n"))
        .agg(sum(expr("n * (n - 1)")).as(s"u_$c"))
    val uRow = docs.agg(count(lit(1)).as("n_docs"))
      .crossJoin(uNum("ft")).crossJoin(uNum("p8"))
      .crossJoin(uNum("cb")).crossJoin(uNum("wb"))
      .first()
    val nDocs = uRow.getLong(0)
    val uDen = BigInt(nDocs) * BigInt(nDocs - 1) max BigInt(1)
    val uInit = fields.indices.map { i =>
      val num = if (uRow.isNullAt(i + 1)) 0L else uRow.getLong(i + 1)
      (BigInt(num) * Mi / uDen).toLong
    }
    // candidate pairs: two blocking passes, agreement bits projected
    // IN the join (a pair's bits are functions of its two docs, so
    // DISTINCT over (ids, bits) equals DISTINCT over the raw pair)
    def sides(blocked: DataFrame, keys: Seq[String]) = {
      val cols = ("doc_id" +: keys) ++ fields.filterNot(keys.contains)
      val a = blocked.select(cols.map(col): _*)
        .toDF(cols.map(_ + "_a"): _*)
      val b = blocked.select(cols.map(col): _*)
        .toDF(cols.map(_ + "_b"): _*)
      val cond = keys.map(k => col(s"${k}_a") === col(s"${k}_b"))
        .reduce(_ && _) && col("doc_id_a") < col("doc_id_b")
      a.join(b, cond).select(
        col("doc_id_a").as("doc_a") +: col("doc_id_b").as("doc_b") +:
        fields.map(f => (col(s"${f}_a") === col(s"${f}_b"))
          .cast("long").as(s"agree_$f")): _*)
    }
    val passA = docs
      .withColumn("lb", expr("n_chars div 100"))
      .withColumn("cnt", count(lit(1)).over(
        Window.partitionBy(col("lang"), col("source"), col("lb"))))
      .withColumn("sub",
        pmod(col("doc_id"), ceil(col("cnt") / lit(maxBlock.toDouble))))
    val passB = docs
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("p8"))))
      .withColumn("sub",
        pmod(col("doc_id"), ceil(col("cnt") / lit(maxBlock.toDouble))))
    val cand = sides(passA, Seq("lang", "source", "lb", "sub"))
      .unionByName(sides(passB, Seq("p8", "sub")))
      .distinct()
      .persist()
    // the 2⁴ agreement-pattern contingency: ≤ 16 rows, the bounded
    // driver read the EM consumes
    val patterns = cand
      .groupBy(fields.map(f => col(s"agree_$f")): _*)
      .agg(count(lit(1)).as("c"))
      .collect()
      .map(r => (fields.indices.map(i => r.getLong(i).toInt),
                 r.getLong(fields.size)))
      .toSeq
    val (_, mHat, uHat) = emFit(patterns, uInit)
    def wa(f: Int): Double = math.log(mHat(f).toDouble / uHat(f).toDouble)
    def wd(f: Int): Double =
      math.log((1000000L - mHat(f)).toDouble / (1000000L - uHat(f)).toDouble)
    val score = fields.indices.map { f =>
      when(col(s"agree_${fields(f)}") === 1, lit(wa(f))).otherwise(lit(wd(f)))
    }.reduce(_ + _)
    cand
      .withColumn("s", score)
      .filter(col("s") >= tPossible)
      .select(col("doc_a"), col("doc_b"), col("agree_ft"), col("agree_p8"),
              col("agree_cb"), col("agree_wb"), round(col("s"), 4).as("score"),
              when(col("s") >= tMatch, lit("match"))
                .otherwise(lit("possible")).as("verdict"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** DuckDB oracle for q247 — identical blocking, integer u-init,
    * the IDENTICAL truncating integer-micro EM recurrence unrolled
    * one MATERIALIZED CTE per iteration (the q234 technique) in
    * HUGEINT (products reach 10³⁶), and in-engine ln weights +
    * unrounded threshold compares over bit-equal integers. */
  def q247OracleSql: String = {
    val fields = Seq("ft", "p8", "cb", "wb")
    val clampLo = "GREATEST(1::HUGEINT, LEAST(999999::HUGEINT, "
    def emIter(k: Int): String = {
      val prev = s"em_${k - 1}"
      val mPrev = fields.map(f => s"e.m_$f AS m0_$f").mkString(", ")
      val uPrev = fields.map(f => s"e.u_$f AS u0_$f").mkString(", ")
      val aProd = fields.map(f =>
        s"(CASE WHEN pt.agree_$f = 1 THEN e.m_$f ELSE 1000000::HUGEINT - e.m_$f END)")
        .mkString(" * ")
      val bProd = fields.map(f =>
        s"(CASE WHEN pt.agree_$f = 1 THEN e.u_$f ELSE 1000000::HUGEINT - e.u_$f END)")
        .mkString(" * ")
      val bits = fields.map(f => s"pt.agree_$f").mkString(", ")
      val mNew = fields.map(f =>
        s"""CASE WHEN sum(c * g) > 0
            THEN $clampLo sum(agree_$f * c * g) * 1000000 // sum(c * g)))
            ELSE max(m0_$f) END AS m_$f""").mkString(",\n         ")
      val uNew = fields.map(f =>
        s"""CASE WHEN sum(c) * 1000000 - sum(c * g) > 0
            THEN $clampLo sum(agree_$f * c * (1000000 - g)) * 1000000
                 // (sum(c) * 1000000 - sum(c * g))))
            ELSE max(u0_$f) END AS u_$f""").mkString(",\n         ")
      s"""em_$k AS MATERIALIZED (SELECT
         CASE WHEN sum(c) > 0 THEN $clampLo sum(c * g) // sum(c)))
              ELSE max(p0) END AS p,
         $mNew,
         $uNew
       FROM (SELECT *, a * 1000000 // (a + b) AS g FROM (
         SELECT $bits, pt.c::HUGEINT AS c, e.p AS p0, $mPrev, $uPrev,
           e.p * $aProd AS a,
           (1000000::HUGEINT - e.p) * $bProd AS b
         FROM pat pt CROSS JOIN $prev e)))"""
    }
    val emChain = (1 to EmIters).map(emIter).mkString(",\n       ")
    val uInitCols = fields.map(f =>
      s"$clampLo (u_$f::HUGEINT * 1000000) // u_den)) AS u_$f").mkString(", ")
    val mInitCols = fields.map(f => s"900000::HUGEINT AS m_$f").mkString(", ")
    val wCols = fields.map(f =>
      s"""ln(m_$f::DOUBLE / u_$f::DOUBLE) AS wa_$f,
          ln((1000000::HUGEINT - m_$f)::DOUBLE /
             (1000000::HUGEINT - u_$f)::DOUBLE) AS wd_$f""").mkString(",\n         ")
    val scoreExpr = fields.map(f =>
      s"CASE WHEN agree_$f = 1 THEN wa_$f ELSE wd_$f END").mkString(" +\n          ")
    s"""WITH d AS (SELECT doc_id, lang, source, n_chars,
         str_split(coalesce(text, ''), ' ') AS toks FROM documents),
       f AS (SELECT doc_id, lang, source, n_chars,
         toks[1] AS ft,
         md5(array_to_string(list_slice(toks, 1, 8), ' ')) AS p8,
         n_chars // 25 AS cb,
         len(toks) // 5 AS wb,
         n_chars // 100 AS lb FROM d),
       nn AS (SELECT count(*)::BIGINT AS n_docs FROM f),
       uft AS (SELECT coalesce(sum(n * (n - 1)), 0)::BIGINT AS u_ft FROM
         (SELECT count(*)::BIGINT AS n FROM f GROUP BY ft)),
       up8 AS (SELECT coalesce(sum(n * (n - 1)), 0)::BIGINT AS u_p8 FROM
         (SELECT count(*)::BIGINT AS n FROM f GROUP BY p8)),
       ucb AS (SELECT coalesce(sum(n * (n - 1)), 0)::BIGINT AS u_cb FROM
         (SELECT count(*)::BIGINT AS n FROM f GROUP BY cb)),
       uwb AS (SELECT coalesce(sum(n * (n - 1)), 0)::BIGINT AS u_wb FROM
         (SELECT count(*)::BIGINT AS n FROM f GROUP BY wb)),
       blka AS (SELECT f.*, doc_id % CAST(ceil(count(*) OVER
           (PARTITION BY lang, source, lb) / $Q247MaxBlock.0) AS BIGINT)
           AS sub FROM f),
       blkb AS (SELECT f.*, doc_id % CAST(ceil(count(*) OVER
           (PARTITION BY p8) / $Q247MaxBlock.0) AS BIGINT) AS sub FROM f),
       cand AS MATERIALIZED (
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           (a.ft = b.ft)::BIGINT AS agree_ft,
           (a.p8 = b.p8)::BIGINT AS agree_p8,
           (a.cb = b.cb)::BIGINT AS agree_cb,
           (a.wb = b.wb)::BIGINT AS agree_wb
         FROM blka a JOIN blka b
           ON a.lang = b.lang AND a.source = b.source
          AND a.lb = b.lb AND a.sub = b.sub AND a.doc_id < b.doc_id
         UNION
         SELECT a.doc_id, b.doc_id,
           (a.ft = b.ft)::BIGINT, (a.p8 = b.p8)::BIGINT,
           (a.cb = b.cb)::BIGINT, (a.wb = b.wb)::BIGINT
         FROM blkb a JOIN blkb b
           ON a.p8 = b.p8 AND a.sub = b.sub AND a.doc_id < b.doc_id),
       pat AS MATERIALIZED (SELECT agree_ft, agree_p8, agree_cb, agree_wb,
         count(*)::BIGINT AS c FROM cand GROUP BY 1, 2, 3, 4),
       em_0 AS (SELECT 100000::HUGEINT AS p, $mInitCols, $uInitCols
         FROM (SELECT GREATEST(n_docs * (n_docs - 1), 1)::HUGEINT AS u_den,
                 u_ft, u_p8, u_cb, u_wb
               FROM nn, uft, up8, ucb, uwb)),
       $emChain,
       w AS (SELECT
         $wCols
         FROM em_$EmIters),
       p AS (SELECT doc_a, doc_b, agree_ft, agree_p8, agree_cb, agree_wb,
         ($scoreExpr) AS s
         FROM cand CROSS JOIN w)
       SELECT doc_a, doc_b, agree_ft, agree_p8, agree_cb, agree_wb,
         round(s, 4) AS score,
         CASE WHEN s >= $Q247TMatch THEN 'match' ELSE 'possible' END AS verdict
       FROM p WHERE s >= $Q247TPossible
       ORDER BY doc_a, doc_b"""
  }
}
