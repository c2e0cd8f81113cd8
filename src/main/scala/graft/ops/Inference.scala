package graft.ops

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Batched model-inference plumbing. A production quality/reward
  * model scores documents through a batched runtime call (ONNX, a
  * TF/Torch serving endpoint, a JNI encoder): per-call overhead is
  * amortized by assembling FIXED-SIZE batches inside each partition,
  * and memory is bounded by the batch size — never by the partition.
  * No ML runtime ships in this container, so the "model" is a
  * deterministic stub (an md5-derived pseudo-logit both engines can
  * compute), exactly the q64 decode pattern: the distributed
  * plumbing — partition iteration, batch assembly, per-row
  * alignment, encoder round-trip — is real and oracle-verified, and
  * swapping a real model changes one function body.
  */
object Inference {

  /** The stub "model": one batch in, one score per row out, order
    * preserved — the contract a real batched scorer must meet.
    * Scores are md5-slice integers so the DuckDB oracle replays them
    * textually. A real implementation would run the batch through
    * its runtime here. */
  private[ops] def scoreBatch(texts: Seq[String]): Seq[Long] =
    texts.map { t =>
      val hex = MessageDigest.getInstance("MD5")
        .digest(t.getBytes(StandardCharsets.UTF_8))
        .map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex.take(13), 16) % 1000000L
    }

  private val Q124BatchSize = 64

  /** q124 — score every document through the batched-inference path.
    * Output is per-doc and layout-independent (batch boundaries
    * affect only call grouping, never values), which is what makes
    * the plumbing oracle-checkable under any partitioning.
    *
    * Scale shape: a pure partition-parallel map pass —
    * `Dataset.mapPartitions` with `grouped(batchSize)` — no shuffle
    * before the gate's ORDER BY, memory bounded by one batch of
    * texts per core. */
  def q124BatchScore(s: SparkSession, dir: String,
                     batchSize: Int = Q124BatchSize): DataFrame = {
    val docs = Tables.documents(s, dir)
    import docs.sparkSession.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          val scores = scoreBatch(batch.map(_._2))
          batch.iterator.zip(scores.iterator).map {
            case ((id, _), sc) => (id, sc)
          }
        }
      }
      .toDF("doc_id", "score_micro")
      .orderBy(col("doc_id"))
  }

  /** Shared scored-and-labeled frame for the eval metrics (q193,
    * q194): every vector except the probe gets an integer micro
    * cosine score against the PROBE (vec_id 0) and a binary ground
    * truth y = [label == probe's label] — the "retrieval as a
    * classifier" framing: a good embedding space should score
    * same-label vectors above different-label ones. One broadcast
    * probe, one map-side corpus pass, no shuffle. */
  private def probeScored(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"), col("embedding"),
              Similarity.l2norm(col("embedding")).as("nrm"))
    val probe = broadcast(e.filter(col("vec_id") === 0)
      .select(col("embedding").as("p_emb"), col("nrm").as("p_nrm"),
              col("label").as("p_label")))
    e.filter(col("vec_id") =!= 0).crossJoin(probe)
      .select(
        floor(Similarity.dot(col("embedding"), col("p_emb")) /
                (col("nrm") * col("p_nrm")) * lit(1000000.0) + lit(0.5))
          .cast("long").as("score"),
        when(col("label") === col("p_label"), 1L).otherwise(0L).as("y"))
  }

  /** Oracle CTE chain producing the identical (score, y) frame. */
  private def probeScoredSql: String =
    s"""e AS (SELECT vec_id, label, embedding,
         sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm
         FROM embeddings),
       p AS (SELECT embedding AS p_emb, nrm AS p_nrm, label AS p_label
         FROM e WHERE vec_id = 0),
       scored AS (SELECT
           CAST(floor(list_sum(list_transform(list_zip(c.embedding, p.p_emb),
             x -> x[1]::DOUBLE * x[2]::DOUBLE)) / (c.nrm * p.p_nrm)
             * 1000000.0 + 0.5) AS BIGINT) AS score,
           CASE WHEN c.label = p.p_label THEN 1 ELSE 0 END AS y
         FROM e c, p WHERE c.vec_id <> 0)"""

  /** q193 — exact ROC-AUC of the probe-similarity classifier via the
    * rank-sum (Mann-Whitney) identity with proper tie handling:
    * AUC = (R⁺ − P(P+1)/2) / (P·N) where R⁺ is the sum of the
    * positives' AVERAGE ranks. Everything is integer: ranks come
    * from cumulative counts over the score-collapsed frame (a tied
    * group spanning exclusive-prefix C with c members has
    * 2·avg_rank = 2C + c + 1), so the reported
    * auc_micro = (2R⁺ − P(P+1))·1e6 div (2PN) is exact and the
    * DuckDB oracle replays it bit-for-bit — no trapezoids, no float
    * thresholds. The threshold-free companion to q102's fixed-k
    * recall.
    *
    * Scale shape: one map-side scoring pass, one groupBy collapsing
    * the corpus to DISTINCT SCORES, and the cumulative count via the
    * two-phase distributed prefix (bucketed by score band — never a
    * single-partition window over the score spine); the AUC itself
    * is a 3-term aggregate of the collapsed frame. Rank-sum terms
    * stay under 2^63 while P·T < 4.6e12 — five orders of magnitude
    * above the bench corpus, and a 100 TB run would widen the two
    * rank products to DECIMAL(38). */
  def q193RetrievalAuc(s: SparkSession, dir: String): DataFrame = {
    val g = probeScored(s, dir)
      .groupBy(col("score"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("y")).as("pos"))
      .withColumn("source", lit("all"))
    // ~2000 order-contiguous score bands: the local prefix windows
    // distribute across bands, and the totals window runs over the
    // 2001-row band frame (constant-source caveat documented on the
    // helper: the literal folds out of the window spec, costing one
    // extra exchange of the already-collapsed frame only)
    val pre = Sampling.distributedPrefix(
      g, bucket = expr("(score + 1000000L) div 1000"),
      tieOrder = Seq(col("score")))
    pre.agg(sum(col("pos") * (lit(2L) * col("cum_before") +
                              col("n_tokens") + lit(1L))).as("r2"),
            sum(col("pos")).as("p"), sum(col("n_tokens")).as("t"))
      .select(col("p").as("n_pos"), (col("t") - col("p")).as("n_neg"),
              expr("(r2 - p * (p + 1)) * 1000000L div (2 * p * (t - p))")
                .as("auc_micro"))
  }

  /** DuckDB oracle for q193 — same collapsed-score rank algebra. */
  def q193OracleSql: String =
    s"""WITH $probeScoredSql,
       g AS (SELECT score, count(*)::BIGINT AS cnt, sum(y)::BIGINT AS pos
         FROM scored GROUP BY score),
       cg AS (SELECT score, cnt, pos,
           coalesce(sum(cnt) OVER (ORDER BY score
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cb
         FROM g),
       a AS (SELECT sum(pos * (2 * cb + cnt + 1))::BIGINT AS r2,
           sum(pos)::BIGINT AS p, sum(cnt)::BIGINT AS t FROM cg)
       SELECT p AS n_pos, (t - p) AS n_neg,
         ((r2 - p * (p + 1)) * 1000000) // (2 * p * (t - p)) AS auc_micro
       FROM a"""

  /** q194 — calibration / reliability bins for the same probe
    * classifier: the score axis [-1, 1] splits into twenty 0.1-wide
    * bins and each bin reports its population, positive rate, and
    * mean score — the reliability-diagram table that shows WHERE a
    * scorer is trustworthy, complementing q193's single ranking
    * number. Bin ids and means are computed on the SHIFTED
    * (non-negative) score so integer division floors identically in
    * both engines. One map pass + one 20-group aggregate; nothing in
    * the plan grows with anything but the corpus scan. */
  def q194CalibrationBins(s: SparkSession, dir: String): DataFrame = {
    probeScored(s, dir)
      .select(expr("(score + 1000000L) div 100000").as("bin"),
              col("score"), col("y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"),
           sum(col("score") + lit(1000000L)).as("shift_sum"))
      .select(col("bin"), col("n"), col("n_pos"),
              expr("n_pos * 1000000L div n").as("pos_rate_micro"),
              expr("shift_sum div n - 1000000L").as("avg_score_micro"))
      .orderBy(col("bin"))
  }

  /** DuckDB oracle for q194 — identical shifted-integer binning. */
  def q194OracleSql: String =
    s"""WITH $probeScoredSql
       SELECT (score + 1000000) // 100000 AS bin, count(*)::BIGINT AS n,
         sum(y)::BIGINT AS n_pos,
         (sum(y) * 1000000 // count(*))::BIGINT AS pos_rate_micro,
         (sum(score + 1000000) // count(*) - 1000000)::BIGINT AS avg_score_micro
       FROM scored GROUP BY bin ORDER BY bin"""

  private val Q196Tau = 450000L

  /** q196 — thresholded classification report for the probe scorer:
    * the confusion matrix at τ = 0.45 (q35's near-dup band) plus the
    * derived accuracy, precision, recall, F1 and Cohen's κ — the
    * single-row summary a labeling/filtering deployment tracks per
    * release, closing the eval family next to q193's threshold-free
    * AUC and q194's calibration table.
    *
    * Every metric is an exact integer division over the four counts:
    * F1 comes straight from 2·tp div (2·tp + fp + fn) (never from
    * pre-divided precision/recall), and κ is computed on the SHIFTED
    * numerator ((p_o−p_e) + (1−p_e) ≥ 0 because κ ≥ −1), so
    * trunc-vs-floor division can never disagree across engines.
    * Degenerate guards (no predicted positives, single-class p_e = 1)
    * clamp denominators with greatest(·, 1) identically in both
    * engines. Rank products stay under 2^63 while the eval slice is
    * below ~2 B rows — an eval set, not a corpus.
    *
    * Scale shape: one map-side scoring pass into ONE partial+final
    * aggregate of four conditional counts; the metric arithmetic runs
    * on the single aggregate row. */
  def q196ClassificationReport(s: SparkSession, dir: String): DataFrame = {
    def cnt(c: Column) = sum(when(c, 1L).otherwise(0L))
    probeScored(s, dir)
      .agg(cnt(col("y") === 1L && col("score") >= Q196Tau).as("tp"),
           cnt(col("y") === 0L && col("score") >= Q196Tau).as("fp"),
           cnt(col("y") === 1L && col("score") < Q196Tau).as("fn"),
           cnt(col("y") === 0L && col("score") < Q196Tau).as("tn"))
      .select(col("tp"), col("fp"), col("fn"), col("tn"),
        expr("(tp + tn) * 1000000L div (tp + fp + fn + tn)").as("accuracy_micro"),
        expr("tp * 1000000L div greatest(tp + fp, 1)").as("precision_micro"),
        expr("tp * 1000000L div greatest(tp + fn, 1)").as("recall_micro"),
        expr("2 * tp * 1000000L div greatest(2 * tp + fp + fn, 1)").as("f1_micro"),
        expr("""((tp + tn) * (tp + fp + fn + tn)
                 - ((tp + fp) * (tp + fn) + (fn + tn) * (fp + tn))
                 + ((tp + fp + fn + tn) * (tp + fp + fn + tn)
                    - ((tp + fp) * (tp + fn) + (fn + tn) * (fp + tn))))
                * 1000000L
                div greatest((tp + fp + fn + tn) * (tp + fp + fn + tn)
                   - ((tp + fp) * (tp + fn) + (fn + tn) * (fp + tn)), 1)
                - 1000000L""").as("kappa_micro"))
  }

  /** DuckDB oracle for q196 — identical counts, guards, and shifted
    * κ algebra. */
  def q196OracleSql: String =
    s"""WITH $probeScoredSql,
       m AS (SELECT
           sum(CASE WHEN y = 1 AND score >= $Q196Tau THEN 1 ELSE 0 END)::BIGINT AS tp,
           sum(CASE WHEN y = 0 AND score >= $Q196Tau THEN 1 ELSE 0 END)::BIGINT AS fp,
           sum(CASE WHEN y = 1 AND score < $Q196Tau THEN 1 ELSE 0 END)::BIGINT AS fn,
           sum(CASE WHEN y = 0 AND score < $Q196Tau THEN 1 ELSE 0 END)::BIGINT AS tn
         FROM scored)
       SELECT tp, fp, fn, tn,
         (tp + tn) * 1000000 // (tp + fp + fn + tn) AS accuracy_micro,
         tp * 1000000 // greatest(tp + fp, 1) AS precision_micro,
         tp * 1000000 // greatest(tp + fn, 1) AS recall_micro,
         2 * tp * 1000000 // greatest(2 * tp + fp + fn, 1) AS f1_micro,
         ((tp + tn) * (tp + fp + fn + tn)
           - ((tp + fp) * (tp + fn) + (fn + tn) * (fp + tn))
           + ((tp + fp + fn + tn) * (tp + fp + fn + tn)
              - ((tp + fp) * (tp + fn) + (fn + tn) * (fp + tn))))
          * 1000000
          // greatest((tp + fp + fn + tn) * (tp + fp + fn + tn)
             - ((tp + fp) * (tp + fn) + (fn + tn) * (fp + tn)), 1)
          - 1000000 AS kappa_micro
       FROM m"""

  /** Bootstrap replicates of q243. */
  private val Q243B = 40

  /** q243 — POISSON-BOOTSTRAP confidence intervals [Efron 1979;
    * Chamandy, Muralidharan, Najmi & Naidu 2012, "Estimating
    * uncertainty for massive data streams"]: per-type
    * mean event value with a nonparametric CI from B = 40 bootstrap
    * replicates computed in ONE distributed pass — the trick that
    * makes the bootstrap feasible when the data cannot be shuffled
    * into B resamples: replicate b weights each row Poisson(1)-many
    * times. The "randomness" is a DETERMINISTIC md5-derived uniform
    * per (row, replicate) inverted through a fixed integer-micro
    * Poisson(1) CDF table (cumulative 367879, 735759, 919699,
    * 981012, 996340, 999406, 999917, 999990, then 8 — exact micros
    * of e⁻¹·Σ1/k!), so both engines replay every weight bit-for-bit;
    * q140's normal-approximation CI is the parametric twin this
    * replaces when the sampling distribution can't be assumed.
    * Replicate means are exact integer-micro ratios; the CI is
    * nearest-rank (ceil(p·B) → ranks 1 and 39 at 2.5 %/97.5 %) over
    * each type's sorted replicate means — a B-bounded sort_array,
    * never a data-sized collect. An all-zero-weight replicate (P ≈
    * e^−n per type, unreachable beyond toy groups) yields a NULL
    * mean via nullif and is dropped in BOTH engines before the rank
    * select (ADVICE r12); precondition: ≥ ceil(0.975·B) surviving
    * replicates per type, i.e. group sizes past the toy regime.
    *
    * Scale shape: the ×B explode collapses MAP-SIDE to (type, b)
    * partial sums — B·|types| rows cross the wire, not B·n — and the
    * rank-select runs on 40-element arrays. The naive alternative is
    * B shuffled resample passes; this is one pass. */
  def q243PoissonBootstrap(s: SparkSession, dir: String): DataFrame = {
    val u = conv(substring(md5(concat(col("event_id"), lit(":"), col("b"))),
                           1, 13), 16, 10).cast("long") % 1000000L
    val w = when(u < 367879L, 0L).when(u < 735759L, 1L)
      .when(u < 919699L, 2L).when(u < 981012L, 3L)
      .when(u < 996340L, 4L).when(u < 999406L, 5L)
      .when(u < 999917L, 6L).when(u < 999990L, 7L).otherwise(8L)
    val ev = Tables.events(s, dir)
      .select(col("event_type"), col("event_id"),
              floor(col("value") * 1000000d + 0.5d).cast("long").as("v"))
    // round-robin repartition BEFORE the ×B explode: the input is one
    // byte-small scan split, but the stage after it is compute-bound
    // (B md5s per row) — the q78 lesson: bytes are the wrong load
    // metric for this stage, so spread the rows first
    val reps = ev.repartition(s.sparkContext.defaultParallelism)
      .select(col("event_type"), col("event_id"), col("v"),
              explode(sequence(lit(0), lit(Q243B - 1))).as("b"))
      .select(col("event_type"), col("b"), w.as("w"), col("v"))
      .groupBy(col("event_type"), col("b"))
      .agg(sum(col("w") * col("v")).as("wv"), sum(col("w")).as("wn"))
      .select(col("event_type"), expr("wv div nullif(wn, 0)").as("mean_b"))
      .where(col("mean_b").isNotNull)
    val ci = reps.groupBy(col("event_type"))
      .agg(sort_array(collect_list(col("mean_b"))).as("ms"))
      .select(col("event_type"),
              element_at(col("ms"), math.ceil(0.025 * Q243B).toInt)
                .as("ci_lo_micro"),
              element_at(col("ms"), math.ceil(0.975 * Q243B).toInt)
                .as("ci_hi_micro"))
    val base = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           expr("sum(v) div count(1)").as("mean_micro"))
    base.join(ci, Seq("event_type")).orderBy(col("event_type"))
  }

  /** DuckDB oracle for q243 — identical md5 uniforms, CDF table,
    * replicate means and nearest-rank selection. */
  def q243OracleSql: String = {
    val lo = math.ceil(0.025 * Q243B).toInt
    val hi = math.ceil(0.975 * Q243B).toInt
    s"""WITH ev AS (SELECT event_type, event_id,
         CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS v FROM events),
       rep AS (SELECT event_type, t.b, v,
           ('0x' || substr(md5(event_id || ':' || t.b), 1, 13))::BIGINT
             % 1000000 AS u
         FROM ev, range(0, $Q243B) t(b)),
       wt AS (SELECT event_type, b, v,
           CASE WHEN u < 367879 THEN 0 WHEN u < 735759 THEN 1
                WHEN u < 919699 THEN 2 WHEN u < 981012 THEN 3
                WHEN u < 996340 THEN 4 WHEN u < 999406 THEN 5
                WHEN u < 999917 THEN 6 WHEN u < 999990 THEN 7
                ELSE 8 END AS w
         FROM rep),
       m AS (SELECT event_type, b,
           CAST(sum(w * v) // nullif(sum(w), 0) AS BIGINT) AS mean_b
         FROM wt GROUP BY 1, 2),
       ci AS (SELECT event_type, list_sort(list(mean_b)) AS ms
         FROM m WHERE mean_b IS NOT NULL GROUP BY 1),
       base AS (SELECT event_type, count(*)::BIGINT AS n_events,
           CAST(sum(v) // count(*) AS BIGINT) AS mean_micro
         FROM ev GROUP BY 1)
       SELECT base.event_type, n_events, mean_micro,
         CAST(ms[$lo] AS BIGINT) AS ci_lo_micro,
         CAST(ms[$hi] AS BIGINT) AS ci_hi_micro
       FROM base JOIN ci USING (event_type) ORDER BY event_type"""
  }
}
