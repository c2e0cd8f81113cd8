package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorFunctions.bottomK

/** Similarity search over the `embeddings` table (Array[Float], dim
  * 64). The dot product / norm are built from `zip_with` +
  * `aggregate` with explicit double casts and strictly sequential
  * accumulation, so the arithmetic is bit-identical to the DuckDB
  * oracle's list_sum/list_transform chain.
  *
  * Scale design: the query set is broadcast, candidates stream
  * map-side (no shuffle for scoring); ranking is a window over q_id.
  * Brute force is the exact baseline (q26); the IVF-style variant
  * (q27, later round) prunes candidates by coarse centroid first.
  */
object Similarity {

  /** Sequential-sum dot product of two float-array columns in double
    * precision — the custom codegen'd expression (graft.functions
    * .DotF32); arithmetic identical to the HOF formulation and the
    * DuckDB oracle chain, ~10× cheaper (primitive loop, no
    * allocation). */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.dotF32(a, b)

  /** L2 norm in double precision. */
  def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** Dot of a float-array column against a double-array column
    * (learned centroids are double): zip, cast-multiply, strictly
    * sequential sum — mirrors the oracle's list_zip chain exactly. */
  def dotFD(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y),
              lit(0.0), (acc, x) => acc + x)

  /** Sequential sum-of-squares norm for a double-array column. */
  def l2normD(a: Column): Column =
    sqrt(aggregate(transform(a, x => x * x), lit(0.0), (acc, x) => acc + x))

  /** The IVF index the q27 family learns (q27, q81, q83, q102, q128,
    * q245, q250): cells, Lloyd rounds, probed cells, the training-sample
    * bound, and the embedding width. */
  private val IvfCells = 16
  private val IvfIters = 2
  private val IvfProbes = 4
  private val TrainSample = 65536
  private val EmbDim = 64

  /** Deterministic spherical k-means for the IVF coarse quantizer
    * (VERDICT r1 #2): Lloyd's with a FIXED iteration count, seeded
    * from the first C vectors, centroid components rounded to 6
    * decimals (HALF_UP, matching Spark's and DuckDB's round) after
    * every averaging step. The rounding pins the centroids to values
    * both engines agree on bit-for-bit, so the DuckDB oracle replays
    * the whole learn+assign pipeline and q27 stays hash-checkable —
    * the usual reason ANN indexes dodge oracles is nondeterminism,
    * and this kills it.
    *
    * Scale shape — the standard IVF recipe: the quantizer trains on a
    * BOUNDED, deterministic sample (`vec_id < trainSample`, one
    * driver-side collect of ≤ trainSample·dim floats) while
    * assignment and probing stay fully distributed over the corpus.
    * Training cost is O(sample·C·iters) driver flops, independent of
    * corpus size — a DataFrame Lloyd's at this C would instead pay
    * ~6 shuffle-stage schedulings per iteration, which dominates
    * everything at bench scale and buys nothing at 100 TB (FAISS
    * trains IVF cells on samples for the same reason).
    *
    * Input `e`: (vec_id, embedding, nrm). Output local DataFrame:
    * (c_id, c_emb: array<double>) — empty cells keep their previous
    * centroid. */
  def learnCentroids(e: DataFrame, C: Int, iters: Int,
                     trainSample: Int = TrainSample): DataFrame = {
    val s = e.sparkSession
    val sample = e.filter(col("vec_id") < trainSample)
      .select(col("vec_id").cast("long"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    def dotFDl(a: Array[Float], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i); i += 1 }; acc
    }
    def nrmF(a: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * a(i).toDouble; i += 1 }
      math.sqrt(acc)
    }
    def nrmD(a: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * a(i); i += 1 }; math.sqrt(acc)
    }
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val nrms = sample.map { case (_, emb) => nrmF(emb) }
    var cent: Array[(Long, Array[Double])] =
      sample.takeWhile(_._1 < C).map { case (id, emb) => (id, emb.map(_.toDouble)) }
    for (_ <- 1 to iters) {
      val cnrms = cent.map { case (_, c) => nrmD(c) }
      // cosine argmax per sample vector; ties pick the smaller c_id
      // (cent is c_id-ascending, strict > keeps the first maximum)
      val cells = sample.indices.map { i =>
        val emb = sample(i)._2
        var best = 0; var bestSim = Double.NegativeInfinity
        var j = 0
        while (j < cent.length) {
          val sim = dotFDl(emb, cent(j)._2) / (nrms(i) * cnrms(j))
          if (sim > bestSim) { bestSim = sim; best = j }
          j += 1
        }
        cent(best)._1
      }
      // element-wise mean per cell, rounded; empty cells carry forward
      val byCell = sample.indices.groupBy(cells)
      cent = cent.map { case (cid, old) =>
        byCell.get(cid) match {
          case Some(members) =>
            val dim = old.length
            val mean = Array.tabulate(dim) { d =>
              var acc = 0.0
              members.foreach(i => acc += sample(i)._2(d).toDouble)
              round6(acc / members.size)
            }
            (cid, mean)
          case None => (cid, old)
        }
      }
    }
    import scala.jdk.CollectionConverters._
    s.createDataFrame(
      cent.map { case (cid, emb) =>
        org.apache.spark.sql.Row(cid, emb.toSeq) }.toSeq.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("c_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("c_emb",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType, containsNull = false)))))
  }

  /** Bounded top-k per query over a (q_id, n_id, sim_exact)
    * candidate frame (columns by position) via the
    * [[graft.functions.BottomK]] aggregate (the q43 pattern): a
    * k-element buffer per q_id combines MAP-SIDE, so the shuffle
    * carries ≤ k rows per query per partition — never the candidate
    * set. The `row_number().over(Window.partitionBy(q_id))`
    * formulation it replaces (VERDICT r8 #1) routed each query's
    * ENTIRE candidate set (the whole corpus for brute force) through
    * one task for a single-task sort — the one corpus-sized
    * non-distributed sort left in the ANN family. Ordering matches the
    * window spec exactly: sim_exact desc (as its exact negation),
    * n_id asc. */
  private def topKPerQuery(cands: DataFrame, k: Int): DataFrame =
    cands.toDF("q_id", "n_id", "sim_exact")
      .groupBy(col("q_id"))
      .agg(bottomK(struct((-col("sim_exact")).as("neg"), col("n_id")), k).as("top"))
      .select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), col("col.n_id").as("n_id"),
              (-col("col.neg")).as("sim_exact"), (col("pos") + 1).as("rn"))

  /** q26 — brute-force cosine top-k: for each query vector (vec_id <
    * 8, broadcast), the 5 nearest neighbors by cosine similarity.
    * Ranking uses the exact similarity with vec_id tiebreaks; the
    * displayed value is rounded. Top-k is the bounded
    * [[topKPerQuery]] aggregator — the corpus-sized scored frame is
    * reduced map-side, never window-sorted (VERDICT r8 #1). */
  def q26AnnTopK(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"), l2norm(col("embedding")).as("nrm"))
    val q = broadcast(e.filter(col("vec_id") < 8).toDF("q_id", "q_emb", "q_nrm"))
    val c = e.toDF("n_id", "c_emb", "c_nrm")
    val sim = dot(col("q_emb"), col("c_emb")) / (col("q_nrm") * col("c_nrm"))
    topKPerQuery(
      q.join(c, col("n_id") =!= col("q_id"))
        .select(col("q_id"), col("n_id"), sim.as("sim_exact")), 5)
      .select(col("q_id"), col("n_id"), round(col("sim_exact"), 6).as("sim"), col("rn"))
      .orderBy(col("q_id"), col("rn"))
  }

  /** Learned IVF centroids with norms, broadcast-ready: (c_id, c_emb,
    * c_nrm). Shared by q27 and the partition-by-cell layout demo. */
  private[graft] def centroidsWithNorm(e: DataFrame, C: Int = IvfCells,
                                       iters: Int = IvfIters): DataFrame =
    broadcast(
      learnCentroids(e, C, iters).withColumn("c_nrm", l2normD(col("c_emb")))
        .toDF("c_id", "c_emb", "c_nrm"))

  /** Distributed IVF cell assignment — cosine argmax against the
    * broadcast centroids, reduced by a map-side partial max_by agg
    * (the shuffle carries (vec_id, cell, emb) once, not C times):
    * (vec_id, cell, embedding, nrm). */
  private[graft] def assignCells(e: DataFrame, cent: DataFrame): DataFrame = {
    val simToC = dotFD(col("embedding"), col("c_emb")) / (col("nrm") * col("c_nrm"))
    e.crossJoin(cent)
      .select(col("vec_id"), col("embedding"), col("nrm"), col("c_id"),
              simToC.as("csim"))
      .groupBy(col("vec_id"))
      .agg(max_by(col("c_id"), struct(col("csim"), -col("c_id"))).as("cell"),
           first(col("embedding")).as("embedding"), first(col("nrm")).as("nrm"))
  }

  /** q27 — IVF approximate top-k: coarse k-means cells prune the
    * candidate set before exact cosine scoring (partition-by-cell
    * layout). The ANN scale path: a k-means-learned coarse quantizer
    * ([[learnCentroids]], C=16, 2 Lloyd iterations), every vector
    * assigned to its nearest centroid by cosine, then search only the
    * query's nprobe=4 best cells. Exact and deterministic given the
    * learn procedure, so fully oracle-checkable — the DuckDB oracle
    * replays the identical learn+assign+probe pipeline.
    *
    * Scale shape: assignment is a broadcast cross-join against the
    * tiny centroid set reduced by a map-side partial max_by agg (the
    * shuffle carries (vec_id, cell, emb) once, not C times); probing
    * joins the small (query × cell) set broadcast against the
    * cell-assigned corpus, so the quadratic scoring touches only
    * nprobe/C of the data. */
  def q27IvfTopK(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"), l2norm(col("embedding")).as("nrm"))
    val cent = centroidsWithNorm(e)
    // argmax cell per vector: map-side partial agg, tiny shuffle
    val asg = assignCells(e, cent)
    // nprobe best cells per query vector
    val wprobe = Window.partitionBy(col("q_id")).orderBy(col("csim").desc, col("c_id"))
    val probes = broadcast(
      e.filter(col("vec_id") < 8).toDF("q_id", "q_emb", "q_nrm")
        .crossJoin(cent)
        .select(col("q_id"), col("q_emb"), col("q_nrm"), col("c_id"),
                (dotFD(col("q_emb"), col("c_emb")) / (col("q_nrm") * col("c_nrm"))).as("csim"))
        .withColumn("pr", row_number().over(wprobe))
        .filter(col("pr") <= IvfProbes)
        .select(col("q_id"), col("q_emb"), col("q_nrm"), col("c_id").as("cell")))
    val sim = dot(col("q_emb"), col("embedding")) / (col("q_nrm") * col("nrm"))
    // bounded top-k over the probed candidates (~nprobe/C of the
    // corpus) — map-side partial, ≤5 rows per query cross the
    // shuffle; no per-query window sort (VERDICT r8 #1)
    topKPerQuery(
      probes.join(asg, "cell")
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("n_id"), sim.as("sim_exact")), 5)
      .select(col("q_id"), col("n_id"), round(col("sim_exact"), 6).as("sim"), col("rn"))
      .orderBy(col("q_id"), col("rn"))
  }

  /** Shared DuckDB CTE chain replaying [[learnCentroids]] +
    * [[assignCells]]: Lloyd iterations unrolled into CTE pairs (same
    * seed, same cosine argmax with (csim DESC, c_id) tie-break, same
    * round-to-6 element-wise mean, same empty-cell carry-forward),
    * ending in `asg(vec_id, embedding, nrm, cell)`. Used by the q27,
    * q81 and q245 oracles so all replay ONE learn+assign definition.
    * `pred` restricts the INDEXED population (training sample, seed
    * centroids and cell assignment) — q245 learns and assigns on the
    * corpus only, with the ingest batch excluded. */
  private def ivfLearnAssignCtes(pred: String = "TRUE"): String = {
    def withNrm(cte: String) =
      s"(SELECT c_id, c_emb, sqrt(list_sum(list_transform(c_emb, x -> x * x))) AS c_nrm FROM $cte)"
    val iterCtes = (1 to IvfIters).map { i =>
      s"""asg_l$i AS (SELECT vec_id, embedding, cell FROM (
           SELECT e.vec_id, e.embedding, c.c_id AS cell,
             row_number() OVER (PARTITION BY e.vec_id ORDER BY
               list_sum(list_transform(list_zip(e.embedding, c.c_emb),
                 p -> p[1]::DOUBLE * p[2])) / (e.nrm * c.c_nrm) DESC,
               c.c_id) AS rn
           FROM et e CROSS JOIN ${withNrm(s"cent${i - 1}")} c) WHERE rn = 1),
         mean$i AS (SELECT cell AS c_id, list(m ORDER BY i) AS m_emb FROM (
           SELECT cell, i, round(avg(embedding[i + 1]::DOUBLE), 6) AS m
           FROM asg_l$i, range($EmbDim) t(i) GROUP BY cell, i) GROUP BY cell),
         cent$i AS (SELECT p.c_id, coalesce(m.m_emb, p.c_emb) AS c_emb
           FROM cent${i - 1} p LEFT JOIN mean$i m USING (c_id))"""
    }.mkString(",\n         ")
    s"""e AS (SELECT vec_id, embedding,
         sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm
         FROM embeddings),
       et AS (SELECT * FROM e WHERE vec_id < $TrainSample AND $pred),
       cent0 AS (SELECT vec_id AS c_id,
         list_transform(embedding, x -> x::DOUBLE) AS c_emb
         FROM embeddings WHERE vec_id < $IvfCells AND $pred),
       $iterCtes,
       cent AS (SELECT c_id, c_emb, c_nrm FROM ${withNrm(s"cent$IvfIters")}),
       asg0 AS (SELECT e.vec_id, e.embedding, e.nrm, c.c_id,
         list_sum(list_transform(list_zip(e.embedding, c.c_emb),
           p -> p[1]::DOUBLE * p[2])) / (e.nrm * c.c_nrm) AS csim
         FROM e CROSS JOIN cent c WHERE $pred),
       asg AS (SELECT vec_id, embedding, nrm, c_id AS cell FROM (
         SELECT *, row_number() OVER (PARTITION BY vec_id
                   ORDER BY csim DESC, c_id) AS rn FROM asg0)
         WHERE rn = 1)"""
  }

  /** DuckDB oracle for q27 — replays learn+assign via
    * [[ivfLearnAssignCtes]], then the nprobe probe and exact
    * re-rank. */
  def q27OracleSql: String = {
    s"""WITH ${ivfLearnAssignCtes()},
       probes AS (SELECT q_id, q_emb, q_nrm, c_id AS cell FROM (
         SELECT q.vec_id AS q_id, q.embedding AS q_emb, q.nrm AS q_nrm, c.c_id,
           list_sum(list_transform(list_zip(q.embedding, c.c_emb),
             p -> p[1]::DOUBLE * p[2])) / (q.nrm * c.c_nrm) AS csim,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY csim DESC, c.c_id) AS pr
         FROM e q CROSS JOIN cent c WHERE q.vec_id < 8)
         WHERE pr <= $IvfProbes),
       scored AS (SELECT p.q_id, a.vec_id AS n_id,
         list_sum(list_transform(list_zip(p.q_emb, a.embedding),
           x -> x[1]::DOUBLE * x[2]::DOUBLE)) / (p.q_nrm * a.nrm) AS sim_exact
         FROM probes p JOIN asg a ON p.cell = a.cell
         WHERE a.vec_id <> p.q_id),
       r AS (SELECT q_id, n_id, sim_exact,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY sim_exact DESC, n_id) AS rn
         FROM scored)
       SELECT q_id, n_id, round(sim_exact, 6) AS sim, rn FROM r
       WHERE rn <= 5 ORDER BY q_id, rn"""
  }

  private val Q245TopK = 5

  /** q245 — INCREMENTAL ANN ingest (VERDICT r12 #5, the embeddings
    * analog of q233's incremental near-dup ingest): a NEW vector
    * batch (`vec_id % 10 = 0` — the next crawl increment) probes the
    * PERSISTED IVF index built over the corpus (`vec_id % 10 ≠ 0`)
    * WITHOUT recomputing it, emitting each batch vector's cell
    * assignment (where it will live once merged) plus its exact
    * top-k neighbors among the indexed corpus — the dedup-before-
    * merge / retrieval-backfill shape a production ingest pipeline
    * runs on every increment. The quantizer trains on the corpus
    * ONLY ([[learnCentroids]] on the corpus frame), so the batch
    * never leaks into its own index — and the DuckDB oracle replays
    * learn+assign+probe bit-for-bit via [[ivfLearnAssignCtes]] with
    * the corpus predicate.
    *
    * Scale shape: the corpus index (cell → vectors) is built once
    * and PERSISTED — both the probe join and a future merge read it
    * (PlanAuditSpec pins the InMemoryTableScan and the no-cartesian
    * probe). The ingest batch is the small side by definition of
    * incremental ingest (an increment against an accumulated
    * corpus), so its nprobe-expanded probe set broadcasts — the
    * stream-static join shape; a deployment whose increments grow
    * corpus-sized chunks them. Scoring touches only nprobe/C of the
    * corpus per batch vector, and top-k rides the bounded
    * [[topKPerQuery]] aggregator — map-side partials, ≤ k rows per
    * batch vector cross the shuffle, never a per-query window sort
    * over candidates. */
  def q245IngestAnn(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val all = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"),
              l2norm(col("embedding")).as("nrm"))
    val corpus = all.filter(pmod(col("vec_id"), lit(10L)) =!= 0L)
    val batch = all.filter(pmod(col("vec_id"), lit(10L)) === 0L)
    val cent = centroidsWithNorm(corpus)
    // THE INDEX: corpus cell assignment, persisted — the batch
    // probes it; nothing corpus-sized is recomputed per batch vector
    val index = assignCells(corpus, cent)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val wprobe = Window.partitionBy(col("q_id"))
      .orderBy(col("csim").desc, col("c_id"))
    val probes = broadcast(
      batch.toDF("q_id", "q_emb", "q_nrm")
        .crossJoin(cent)
        .select(col("q_id"), col("q_emb"), col("q_nrm"), col("c_id"),
                (dotFD(col("q_emb"), col("c_emb")) /
                 (col("q_nrm") * col("c_nrm"))).as("csim"))
        .withColumn("pr", row_number().over(wprobe))
        .filter(col("pr") <= IvfProbes)
        .select(col("q_id"), col("q_emb"), col("q_nrm"),
                col("c_id").as("cell"), col("pr")))
    val ownCell = probes.filter(col("pr") === 1)
      .select(col("q_id"), col("cell").as("assigned_cell"))
    val sim = dot(col("q_emb"), col("embedding")) / (col("q_nrm") * col("nrm"))
    topKPerQuery(
        probes.join(index, "cell")
          .select(col("q_id"), col("vec_id").as("n_id"), sim.as("sim_exact")),
        Q245TopK)
      .join(ownCell, Seq("q_id"))
      .select(col("q_id").as("batch_vec"), col("assigned_cell"),
              col("n_id"), round(col("sim_exact"), 6).as("sim"), col("rn"))
      .orderBy(col("batch_vec"), col("rn"))
  }

  /** DuckDB oracle for q245 — [[ivfLearnAssignCtes]] with the corpus
    * predicate, then the batch probe, own-cell pick and exact
    * re-rank. */
  def q245OracleSql: String = {
    s"""WITH ${ivfLearnAssignCtes(pred = "vec_id % 10 <> 0")},
       q AS (SELECT vec_id, embedding, nrm FROM e WHERE vec_id % 10 = 0),
       pr AS (SELECT q_id, q_emb, q_nrm, c_id AS cell, pr FROM (
         SELECT q.vec_id AS q_id, q.embedding AS q_emb, q.nrm AS q_nrm,
           c.c_id,
           list_sum(list_transform(list_zip(q.embedding, c.c_emb),
             p -> p[1]::DOUBLE * p[2])) / (q.nrm * c.c_nrm) AS csim,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY csim DESC, c.c_id) AS pr
         FROM q CROSS JOIN cent c)
         WHERE pr <= $IvfProbes),
       own AS (SELECT q_id, cell AS assigned_cell FROM pr WHERE pr = 1),
       scored AS (SELECT p.q_id, a.vec_id AS n_id,
         list_sum(list_transform(list_zip(p.q_emb, a.embedding),
           x -> x[1]::DOUBLE * x[2]::DOUBLE)) / (p.q_nrm * a.nrm)
           AS sim_exact
         FROM pr p JOIN asg a ON p.cell = a.cell),
       r AS (SELECT q_id, n_id, sim_exact,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY sim_exact DESC, n_id) AS rn
         FROM scored)
       SELECT r.q_id AS batch_vec, own.assigned_cell, r.n_id,
         round(r.sim_exact, 6) AS sim, r.rn
       FROM r JOIN own ON own.q_id = r.q_id
       WHERE r.rn <= $Q245TopK ORDER BY batch_vec, rn"""
  }

  /** Sign-bit LSH cell key for one band: bit i of the key is
    * [embedding[dims(i)] >= 0]. Sign hyperplanes are exact float
    * comparisons, so both engines compute identical keys — this is
    * what makes an LSH-blocked query oracle-checkable. */
  def signCellKey(emb: Column, dims: Seq[Int]): Column =
    dims.zipWithIndex.foldLeft(lit(0L)) { case (acc, (d, i)) =>
      acc + when(get(emb, lit(d)) >= 0f, lit(1L << i)).otherwise(lit(0L))
    }

  /** Random-hyperplane LSH banding of q35, q190 and q195. */
  private val LshBands = 8
  private val LshBitsPerBand = 8

  /** q35 — embedding-cosine near-dup detection, LSH-celled (VERDICT
    * r1 #4): candidates are pairs sharing a sign-bit cell in any of
    * `bands` bands (4 dims per band), verified with the exact cosine
    * threshold. Cell population — not any data-dependent label —
    * bounds the quadratic pair space, and a vector pairs only within
    * its 2^4-way cells, so candidates stay O(n·cellsize)·bands.
    * Deterministic end to end (sign comparisons are exact), so the
    * DuckDB oracle replays cells, candidates, and verification.
    *
    * The corpus is persisted: it feeds the banding and both candidate
    * join-backs (same single-scan reasoning as q24's docSh). */
  def q35EmbeddingNearDup(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("label"), col("vec_id"), col("embedding"),
              l2norm(col("embedding")).as("nrm"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // union of per-band Projects over the persisted corpus instead of
    // explode(array(...)): Generate evaluates an inlined computed
    // array far slower than the same expressions in a Project (the
    // round-1 shingle trap), and the sign-test chains are non-trivial
    val celled = (0 until LshBands).map { bnd =>
      e.select(col("vec_id"), lit(bnd).as("band"),
               signCellKey(col("embedding"),
                 (bnd * LshBitsPerBand until (bnd + 1) * LshBitsPerBand).map(_ % 64))
                 .as("cell"))
    }.reduce(_ unionByName _)
    val ca = celled.toDF("id_a", "band_a", "cell_a")
    val cb = celled.toDF("id_b", "band_b", "cell_b")
    val cand = ca.join(cb, col("band_a") === col("band_b") &&
                           col("cell_a") === col("cell_b") &&
                           col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
    val sim = dot(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b"))
    // verify FIRST, dedup after the threshold filter: a multi-band
    // collision re-verifies map-side (cheap — the joins broadcast the
    // vector side, so scoring never shuffles the candidate stream),
    // while deduping up front would shuffle every raw candidate pair.
    // Duplicate pairs carry identical columns, so the late dedup
    // changes nothing the oracle can see.
    cand
      .join(broadcast(e.toDF("label_a", "id_a", "emb_a", "nrm_a")), "id_a")
      .join(broadcast(e.toDF("label_b", "id_b", "emb_b", "nrm_b")), "id_b")
      .select(col("label_a"), col("label_b"), col("id_a"), col("id_b"),
              sim.as("sim_exact"))
      .filter(col("sim_exact") >= 0.45)
      .dropDuplicates("id_a", "id_b")
      .select(col("label_a"), col("label_b"), col("id_a"), col("id_b"),
              round(col("sim_exact"), 6).as("sim"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** DuckDB oracle for q35, generated so every sign-LSH band unrolls
    * into a cells-UNION mirroring [[q35EmbeddingNearDup]]: same
    * bands, same bit weights, same `>= 0` sign test (exact float
    * comparison — identical in both engines). */
  def q35OracleSql: String = {
    val bandSelects = (0 until LshBands).map { bnd =>
      val key = (0 until LshBitsPerBand).map { i =>
        val d = (bnd * LshBitsPerBand + i) % 64
        s"(embedding[${d + 1}] >= 0)::BIGINT * ${1L << i}"
      }.mkString(" + ")
      s"SELECT vec_id, $bnd AS band, $key AS cell FROM e"
    }.mkString("\n           UNION ALL ")
    s"""WITH e AS (SELECT label, vec_id, embedding,
         sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm
         FROM embeddings),
       cells AS ($bandSelects),
       cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         FROM cells a JOIN cells b
         ON a.band = b.band AND a.cell = b.cell AND a.vec_id < b.vec_id),
       p AS (SELECT ea.label AS label_a, eb.label AS label_b, c.id_a, c.id_b,
         list_sum(list_transform(list_zip(ea.embedding, eb.embedding),
           x -> x[1]::DOUBLE * x[2]::DOUBLE)) / (ea.nrm * eb.nrm) AS sim_exact
         FROM cand c
         JOIN e ea ON ea.vec_id = c.id_a
         JOIN e eb ON eb.vec_id = c.id_b)
       SELECT label_a, label_b, id_a, id_b, round(sim_exact, 6) AS sim FROM p
       WHERE sim_exact >= 0.45
       ORDER BY id_a, id_b"""
  }

  /** q63 — int8 embedding quantization (per-vector absmax scaling,
    * the standard mixed-precision compression for embedding storage):
    * scale = max|x|/127, q_i = floor(x_i/scale + 0.5) ∈ [-127, 127].
    * One map-side pass; only (vec_id, scale_micro, checksum) move —
    * the quantized payload stays columnar. All outputs are
    * integer-exact: `round()`-on-double is NOT bit-stable across
    * engines at last-ulp halfway-adjacent quotients (r2's one hash
    * mismatch), so the scale is emitted as micro-units via floor and
    * the quantizer uses floor(x/scale + 0.5) — floor of a correctly
    * rounded IEEE double is identical in Spark and DuckDB. */
  def q63QuantizeEmbeddings(s: SparkSession, dir: String): DataFrame = {
    val absMax = aggregate(col("embedding"), lit(0.0),
      (a, x) => greatest(a, abs(x.cast("double"))))
    Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"), absMax.as("amax"))
      .select(col("vec_id"),
              floor(col("amax") / 127.0 * 1e6 + 0.5).cast("long")
                .as("scale_micro"),
              when(col("amax") === 0.0, lit(0L)).otherwise(
                aggregate(
                  transform(col("embedding"),
                    x => floor(x.cast("double") / (col("amax") / 127.0) + 0.5)
                      .cast("long")),
                  lit(0L), (acc, q) => acc + q)).as("qsum"),
              when(col("amax") === 0.0, lit(0L)).otherwise(
                aggregate(
                  transform(col("embedding"),
                    x => abs(floor(x.cast("double") / (col("amax") / 127.0) + 0.5))
                      .cast("long")),
                  lit(0L), (acc, q) => acc + q)).as("ql1"))
      .orderBy(col("vec_id"))
  }

  /** Squared L2 distance of a float-array column against a
    * double-array column: zip, cast-subtract-square, strictly
    * sequential sum — mirrors the oracle's list_zip chain exactly. */
  private def l2sqFD(a: Column, b: Column): Column =
    aggregate(zip_with(a, b,
                (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
              lit(0.0), (acc, x) => acc + x)

  /** Deterministic per-subspace Lloyd's for the PQ codebooks — the
    * classic product-quantization recipe (Jégou et al., TPAMI 2011):
    * the `dim`-dim vector is cut into M contiguous subvectors and
    * each subspace learns its own K codewords by Euclidean k-means.
    * Same determinism contract as [[learnCentroids]]: bounded sample
    * collected to the driver, seeded from the first K vectors, fixed
    * iteration count, means rounded to 6 decimals HALF_UP, empty
    * clusters carry forward, L2 argmin ties pick the smaller code.
    * Returns codebooks(m)(k) = the codeword vector. */
  def learnPqCodebooks(e: DataFrame, M: Int, K: Int, subDim: Int,
                       iters: Int, trainSample: Int = TrainSample)
      : Array[Array[Array[Double]]] = {
    val sample = e.filter(col("vec_id") < trainSample)
      .select(col("vec_id").cast("long"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    Array.tabulate(M) { m =>
      val subs = sample.map { case (id, emb) =>
        (id, emb.slice(m * subDim, (m + 1) * subDim).map(_.toDouble)) }
      var cw: Array[(Long, Array[Double])] =
        subs.takeWhile(_._1 < K).map { case (id, v) => (id, v) }
      for (_ <- 1 to iters) {
        // Euclidean argmin per sample subvector; strict < keeps the
        // first (smallest-k) minimum on ties
        val asg = subs.map { case (_, v) =>
          var best = 0; var bestD = Double.PositiveInfinity
          var k = 0
          while (k < cw.length) {
            var d = 0.0; var i = 0
            while (i < subDim) {
              val t = v(i) - cw(k)._2(i); d += t * t; i += 1 }
            if (d < bestD) { bestD = d; best = k }
            k += 1
          }
          cw(best)._1
        }
        val byCode = subs.indices.groupBy(i => asg(i))
        cw = cw.map { case (cid, old) =>
          byCode.get(cid) match {
            case Some(members) =>
              (cid, Array.tabulate(subDim) { d =>
                var acc = 0.0
                members.foreach(i => acc += subs(i)._2(d))
                round6(acc / members.size)
              })
            case None => (cid, old)
          }
        }
      }
      cw.map(_._2)
    }
  }

  /** q75's product quantizer: subspaces, codewords each, subspace width,
    * k-means rounds, and the exact re-rank depth. */
  private val PqM = 8
  private val PqK = 16
  private val PqSubDim = 8
  private val PqIters = 2
  private val PqR = 64

  /** q75 — product-quantization ANN with exact re-ranking (the
    * IVFADC + re-rank recipe, Jégou et al., TPAMI 2011): learn
    * M=8 × K=16 codebooks ([[learnPqCodebooks]]), encode every
    * vector as M codes, score every candidate against each query
    * (vec_id < 8) through a precomputed (query × subspace ×
    * codeword) asymmetric-distance table, keep the top-R=64
    * shortlist per query, then re-rank the shortlist by EXACT L2 and
    * emit the top-5. Both distances surface as micro-BIGINTs
    * (floor(d·1e6 + 0.5)) so ranking and output are bit-identical in
    * any engine — no double ever crosses an ordering or a hash.
    *
    * Scale shape: codebooks and the distance table are learned
    * before the plan is built, so they embed as LITERALS — encoding
    * is a single zero-shuffle map pass (argmin over K literal
    * codewords per subspace) and the ADC sum is M integer lookups;
    * the only exchanges are the per-query shortlist window and a
    * broadcast join that fetches the R·|Q| shortlist embeddings for
    * re-ranking (at warehouse scale that fetch is the
    * bloom/DPP-prunable id-lookup SCALE.md's runtime bloom-filter
    * bullet measures, commit d2071d8). This is
    * the billion-scale recipe precisely because the coarse scorer
    * reads M bytes per vector and the exact scorer touches only
    * R/N of the corpus. */
  def q75PqTopK(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val cb = learnPqCodebooks(e, PqM, PqK, PqSubDim, PqIters)
    // queries collected driver-side (tiny, fixed set) → distance table
    val queries = e.filter(col("vec_id") < 8).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    val dtab: Seq[Seq[Seq[Long]]] = queries.toSeq.map { case (_, q) =>
      (0 until PqM).map { m =>
        (0 until PqK).map { k =>
          var d = 0.0; var i = 0
          while (i < PqSubDim) {
            val t = q(m * PqSubDim + i).toDouble - cb(m)(k)(i)
            d += t * t; i += 1
          }
          math.floor(d * 1e6 + 0.5).toLong
        }
      }
    }
    val qIds: Seq[Long] = queries.map(_._1).toSeq
    // encode: per subspace, argmin over the K codewords — one
    // codegen'd PqEncode pass (first minimum on ties, arithmetic
    // bit-identical to the M×K HOF-distance formulation it replaced,
    // which cost a >1 MB task binary and interpreted lambdas)
    val codes = graft.functions.VectorFunctions.pqEncode(
      col("embedding"), cb, PqSubDim)
    val dtabLit = typedLit(dtab)
    val qIdsLit = typedLit(qIds)
    val qEmbLit = typedLit(queries.toSeq.map(_._2.toSeq.map(_.toDouble)))
    val adc = (0 until PqM).map(m =>
      element_at(element_at(element_at(dtabLit, col("qi") + 1), m + 1),
                 element_at(col("codes"), m + 1) + 1)).reduce(_ + _)
    val wshort = Window.partitionBy(col("q_id"))
      .orderBy(col("adc_micro").asc, col("n_id").asc)
    // encode BELOW the explode: codes is an attribute by the time the
    // per-query fan-out happens, so each vector is encoded once, not
    // once per query row
    val shortlist = e
      .select(col("vec_id").as("n_id"), codes.as("codes"))
      .select(col("n_id"), col("codes"),
              explode(sequence(lit(0), lit(qIds.size - 1))).as("qi"))
      .select(col("qi"), element_at(qIdsLit, col("qi") + 1).as("q_id"),
              col("n_id"), adc.cast("long").as("adc_micro"))
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("rs", row_number().over(wshort))
      .filter(col("rs") <= PqR)
      .select(col("qi"), col("q_id"), col("n_id"), col("adc_micro"))
    // exact re-rank: fetch shortlist embeddings, exact L2 vs the
    // query literal
    val l2exact = l2sqFD(col("embedding"),
                         element_at(qEmbLit, col("qi") + 1))
    val wtop = Window.partitionBy(col("q_id"))
      .orderBy(col("l2_micro").asc, col("n_id").asc)
    e.join(broadcast(shortlist), col("vec_id") === col("n_id"))
      .select(col("q_id"), col("n_id"), col("adc_micro"),
              floor(l2exact * lit(1000000.0) + lit(0.5))
                .cast("long").as("l2_micro"))
      .withColumn("rn", row_number().over(wtop))
      .filter(col("rn") <= 5)
      .select(col("q_id"), col("n_id"), col("adc_micro"),
              col("l2_micro"), col("rn"))
      .orderBy(col("q_id"), col("rn"))
  }

  /** DuckDB oracle for q75 — replays codebook learning per subspace
    * in unrolled CTEs (same seed, Euclidean argmin with (dist ASC, k)
    * tie-break, round-6 means, empty-code carry-forward — the
    * [[q27OracleSql]] technique), then encodes, builds the micro-int
    * distance table, and sums BIGINTs. */
  def q75OracleSql: String = {
    val l2 = "list_sum(list_transform(list_zip(%s, %s), " +
      "p -> (p[1]::DOUBLE - p[2]) * (p[1]::DOUBLE - p[2])))"
    def dist(a: String, b: String) = l2.format(a, b)
    val perSub = (0 until PqM).map { m =>
      val lo = m * PqSubDim + 1; val hi = (m + 1) * PqSubDim
      val iterCtes = (1 to PqIters).map { i =>
        s"""asg${m}_$i AS (SELECT vec_id, sub, k FROM (
             SELECT s.vec_id, s.sub, c.k,
               row_number() OVER (PARTITION BY s.vec_id ORDER BY
                 ${dist("s.sub", "c.cw")} ASC, c.k) AS rn
             FROM sub$m s CROSS JOIN cw${m}_${i - 1} c) WHERE rn = 1),
           mean${m}_$i AS (SELECT k, list(v ORDER BY d) AS cw FROM (
             SELECT k, d, round(avg(sub[d + 1]::DOUBLE), 6) AS v
             FROM asg${m}_$i, range($PqSubDim) t(d) GROUP BY k, d)
             GROUP BY k),
           cw${m}_$i AS (SELECT p.k, coalesce(m.cw, p.cw) AS cw
             FROM cw${m}_${i - 1} p LEFT JOIN mean${m}_$i m USING (k))"""
      }.mkString(",\n           ")
      s"""sub$m AS (SELECT vec_id, list_slice(embedding, $lo, $hi) AS sub
             FROM et),
           cw${m}_0 AS (SELECT vec_id::BIGINT AS k,
             list_transform(sub, x -> x::DOUBLE) AS cw
             FROM sub$m WHERE vec_id < $PqK),
           $iterCtes"""
    }.mkString(",\n         ")
    val cbUnion = (0 until PqM)
      .map(m => s"SELECT $m AS m, k, cw FROM cw${m}_$PqIters")
      .mkString(" UNION ALL ")
    s"""WITH et AS (SELECT vec_id, embedding FROM embeddings
           WHERE vec_id < $TrainSample),
         $perSub,
         cb AS ($cbUnion),
         allsub AS (SELECT vec_id, m,
             list_slice(embedding, m * $PqSubDim + 1, (m + 1) * $PqSubDim) AS sub
           FROM embeddings, range($PqM) t(m)),
         enc AS (SELECT vec_id, m, k AS code FROM (
           SELECT a.vec_id, a.m, c.k,
             row_number() OVER (PARTITION BY a.vec_id, a.m ORDER BY
               ${dist("a.sub", "c.cw")} ASC, c.k) AS rn
           FROM allsub a JOIN cb c USING (m)) WHERE rn = 1),
         qsub AS (SELECT vec_id AS q_id, m,
             list_slice(embedding, m * $PqSubDim + 1, (m + 1) * $PqSubDim) AS sub
           FROM embeddings, range($PqM) t(m) WHERE vec_id < 8),
         dtab AS (SELECT s.q_id, s.m, c.k,
             CAST(floor(${dist("s.sub", "c.cw")} * 1000000.0 + 0.5)
                  AS BIGINT) AS d_micro
           FROM qsub s JOIN cb c USING (m)),
         adc AS (SELECT d.q_id, e.vec_id AS n_id,
             sum(d.d_micro)::BIGINT AS adc_micro
           FROM enc e JOIN dtab d ON e.m = d.m AND e.code = d.k
           GROUP BY 1, 2),
         short AS (SELECT q_id, n_id, adc_micro FROM (
           SELECT q_id, n_id, adc_micro,
             row_number() OVER (PARTITION BY q_id
               ORDER BY adc_micro, n_id) AS rs
           FROM adc WHERE n_id <> q_id) WHERE rs <= $PqR),
         rr AS (SELECT s.q_id, s.n_id, s.adc_micro,
             CAST(floor(list_sum(list_transform(
               list_zip(en.embedding, qe.embedding),
               p -> (p[1]::DOUBLE - p[2]::DOUBLE) *
                    (p[1]::DOUBLE - p[2]::DOUBLE))) * 1000000.0 + 0.5)
               AS BIGINT) AS l2_micro
           FROM short s
           JOIN embeddings en ON en.vec_id = s.n_id
           JOIN embeddings qe ON qe.vec_id = s.q_id)
         SELECT q_id, n_id, adc_micro, l2_micro, rn FROM (
           SELECT q_id, n_id, adc_micro, l2_micro,
             row_number() OVER (PARTITION BY q_id
               ORDER BY l2_micro, n_id) AS rn
           FROM rr)
         WHERE rn <= 5 ORDER BY q_id, rn"""
  }

  /** q28 — embedding column statistics per label: count, mean norm,
    * mean first component. */
  def q28EmbeddingStats(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("label"), l2norm(col("embedding")).as("nrm"),
              element_at(col("embedding"), 1).cast("double").as("d0"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("cnt"),
           round(avg(col("nrm")), 6).as("avg_norm"),
           round(avg(col("d0")), 6).as("avg_dim0"))
      .orderBy(col("label"))

  private val Q81Tau = 0.45

  /** q81 — SemDeDup (Abbas et al., 2023): semantic deduplication by
    * clustering embeddings with the learned IVF quantizer
    * ([[learnCentroids]], C=16) and dropping, within each cell, every
    * vector that has a ≥ τ cosine neighbor with a smaller vec_id —
    * the keep-the-first-seen rule made deterministic. Emits one row
    * per vector: (vec_id, cell, keep). Fully oracle-checkable because
    * the quantizer is the same deterministic learn+assign pipeline
    * q27 replays in SQL.
    *
    * Scale shape: the pairwise similarity runs ONLY within cells — a
    * cell-keyed self-join, never corpus × corpus; cells are the
    * C-way partition a 100 TB corpus would bucket its embedding store
    * by (the partition-by-cell layout measured in SCALE.md, commit
    * d2071d8), so each executor
    * scores its own cell locally. The assignment frame is persisted:
    * it feeds both join sides and the final verdict, and without the
    * cache the crossJoin-against-centroids assignment would run
    * three times. */
  def q81SemDedup(s: SparkSession, dir: String, tau: Double = Q81Tau): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"), l2norm(col("embedding")).as("nrm"))
    val cent = centroidsWithNorm(e)
    val asg = assignCells(e, cent)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val aa = asg.select(col("cell").as("cell_a"), col("vec_id").as("id_a"),
                        col("embedding").as("emb_a"), col("nrm").as("nrm_a"))
    val bb = asg.select(col("cell").as("cell_b"), col("vec_id").as("id_b"),
                        col("embedding").as("emb_b"), col("nrm").as("nrm_b"))
    val sim = dot(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b"))
    val dropped = aa.join(bb, col("cell_a") === col("cell_b") &&
                              col("id_a") < col("id_b"))
      .select(col("id_b").as("vec_id"), sim.as("s"))
      .filter(col("s") >= tau)
      .select(col("vec_id")).distinct()
      .withColumn("hit", lit(1L))
    asg.join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
              when(col("hit").isNotNull, 0L).otherwise(1L).as("keep"))
      .orderBy(col("vec_id"))
  }

  /** q83 — cell topics: the cluster-then-inspect loop of corpus
    * curation. Documents join their embedding's IVF cell
    * (doc_id = vec_id, inner — docs without an embedding don't
    * participate), then each cell reports its top-5 tokens by count
    * (ties broken by token text). The cross-modal join is the point:
    * the text table and the embedding index meet on the id key, and
    * every downstream aggregate is keyed by the semantic cell.
    *
    * Scale shape: cell assignment is the broadcast-centroid map pass
    * q27 uses; the doc↔cell join is a hash join on the id (both
    * sides corpus-sized, shuffle on the key — at warehouse scale
    * both would be bucketed by id and the join co-located); token
    * counts reduce map-side before the (cell, token) shuffle; top-5
    * per cell is a bounded window. */
  def q83CellTopics(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"), l2norm(col("embedding")).as("nrm"))
    val cent = centroidsWithNorm(e)
    val asg = assignCells(e, cent).select(col("vec_id"), col("cell"))
    val docToks = Tables.documents(s, dir)
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
    val counts = docToks
      .join(asg, docToks("doc_id") === asg("vec_id"))
      .groupBy(col("cell"), col("token"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("cell")).orderBy(col("cnt").desc, col("token"))
    counts.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("cell"), col("rk"), col("token"), col("cnt"))
      .orderBy(col("cell"), col("rk"))
  }

  /** DuckDB oracle for q83 — learn+assign via [[ivfLearnAssignCtes]],
    * then the doc⋈cell token rollup. */
  def q83OracleSql: String =
    s"""WITH ${ivfLearnAssignCtes()},
       dt AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
              FROM documents),
       cnts AS (SELECT a.cell, t.token, count(*)::BIGINT AS cnt
                FROM dt t JOIN asg a ON a.vec_id = t.doc_id
                GROUP BY a.cell, t.token),
       r AS (SELECT cell, token, cnt,
               row_number() OVER (PARTITION BY cell
                 ORDER BY cnt DESC, token) AS rk
             FROM cnts)
       SELECT cell, rk, token, cnt FROM r WHERE rk <= 5
       ORDER BY cell, rk"""

  /** DuckDB oracle for q81 — replays learn+assign via
    * [[ivfLearnAssignCtes]], then the within-cell smaller-id
    * neighbor test. */
  def q81OracleSql: String =
    s"""WITH ${ivfLearnAssignCtes()},
       drops AS (SELECT DISTINCT b.vec_id
         FROM asg a JOIN asg b
         ON a.cell = b.cell AND a.vec_id < b.vec_id
         WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding),
                 p -> p[1]::DOUBLE * p[2]::DOUBLE)) / (a.nrm * b.nrm) >= $Q81Tau)
       SELECT g.vec_id, g.cell,
         CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep
       FROM asg g LEFT JOIN drops d USING (vec_id)
       ORDER BY g.vec_id"""

  /** q102 — index quality evaluation: recall@5 of the IVF index
    * (q27's probe path) against the exact brute-force neighbors
    * (q26), per query — the metric every ANN deployment tracks
    * before trading exactness for speed. Both top-k frames are k
    * rows per query, so the comparison join is broadcast-sized
    * regardless of corpus size; recall is emitted as an integer
    * percentage (k=5 → steps of 20) so the metric is bit-stable
    * across engines. */
  def q102AnnRecall(s: SparkSession, dir: String): DataFrame = {
    val brute = q26AnnTopK(s, dir).select(col("q_id"), col("n_id"))
    val ivf = q27IvfTopK(s, dir)
      .select(col("q_id").as("i_q"), col("n_id").as("i_n"))
    brute
      .join(ivf, col("q_id") === col("i_q") && col("n_id") === col("i_n"),
            "left")
      .groupBy(col("q_id"))
      .agg(count(col("i_n")).as("n_hits"))
      .select(col("q_id"), col("n_hits"),
              (col("n_hits") * lit(20L)).as("recall_pct"))
      .orderBy(col("q_id"))
  }

  /** q106 — k-NN label classification: each query vector takes the
    * majority label of its 5 exact nearest neighbors (q26's truth
    * set), votes tied by smaller label — the standard
    * embedding-space weak-labeling / eval step. The vote frame is k
    * rows per query, so everything after the NN search is
    * broadcast-sized; the label lookup is a hash join on the id key
    * (bucketable at corpus scale). */
  def q106KnnClassify(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nn = q26AnnTopK(s, dir).select(col("q_id"), col("n_id"))
    val lbl = Tables.embeddings(s, dir).select(col("vec_id"), col("label"))
    val votes = nn.join(lbl, nn("n_id") === lbl("vec_id"))
      .groupBy(col("q_id"), col("label"))
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("votes").desc, col("label"))
    votes.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("q_id"), col("label").as("pred_label"), col("votes"))
      .orderBy(col("q_id"))
  }

  /** q128 — IVF index balance report: per-cell population and its
    * share of the corpus in integer micros — the index-health metric
    * an ANN deployment monitors (one hot cell means probes degrade
    * to brute force over it; many empty cells mean wasted training).
    * Reuses q27's exact learn+assign machinery, so the oracle
    * replays the identical quantizer. */
  def q128IvfBalance(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"), l2norm(col("embedding")).as("nrm"))
    val cent = centroidsWithNorm(e)
    // persist: the C-row cell-population frame feeds both the total
    // and the share projection — uncached, the grand total re-runs
    // the whole assign (a second distance pass over every vector).
    val sizes = assignCells(e, cent)
      .groupBy(col("cell")).agg(count(lit(1)).as("n_vecs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tot = sizes.agg(sum(col("n_vecs")).cast("long").as("n_total"))
    sizes.crossJoin(broadcast(tot))
      .select(col("cell"), col("n_vecs"),
              expr("n_vecs * 1000000L div n_total").as("share_micro"))
      .orderBy(col("cell"))
  }

  /** DuckDB oracle for q128 — learn+assign replay, grouped by cell. */
  def q128OracleSql: String =
    s"""WITH ${ivfLearnAssignCtes()},
       sz AS (SELECT cell, count(*) AS n_vecs FROM asg GROUP BY cell),
       t AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS n_total FROM sz)
       SELECT cell, n_vecs,
         CAST(n_vecs * 1000000 // (SELECT n_total FROM t) AS BIGINT)
           AS share_micro
       FROM sz ORDER BY cell"""

  /** q125 — per-label embedding cohesion: every vector's cosine to
    * its label's centroid, averaged per label — the embedding-space
    * quality report (a label whose cohesion drops has drifting or
    * mislabeled members). Cross-engine stability comes from doing
    * ALL accumulation in integers: vectors quantize to micro-ints,
    * per-dim centroid sums are exact integer sums (order-free), and
    * the only float ops are sqrt/multiply/divide on those exact
    * integers — each correctly-rounded IEEE, so both engines produce
    * the identical double before the final floor to micros (the q84
    * sqrt argument extended to cosine).
    *
    * Scale shape: centroids via posexplode → (label, dim) integer
    * sums (map-side partial agg), re-assembled with sort-by-dim
    * collect and broadcast back; the cosine pass is map-side. */
  def q125LabelCohesion(s: SparkSession, dir: String): DataFrame = {
    val micro = transform(col("embedding"),
      x => floor(x * lit(1e6d) + lit(0.5d)).cast("long"))
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"), micro.as("m"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sums = e.select(col("label"), posexplode(col("m")).as(Seq("d", "v")))
      .groupBy(col("label"), col("d"))
      .agg(sum(col("v")).cast("long").as("sv"), count(lit(1)).as("n"))
    val cent = sums
      .select(col("label"), col("d"), expr("sv div n").as("c"))
      .groupBy(col("label"))
      .agg(expr("transform(array_sort(collect_list(struct(d, c))), x -> x.c)")
             .as("cent"))
    val dot = expr(
      "aggregate(zip_with(m, cent, (a, b) -> a * b), 0L, (acc, x) -> acc + x)")
    val nx = expr(
      "sqrt(CAST(aggregate(zip_with(m, m, (a, b) -> a * b), 0L, (acc, x) -> acc + x) AS DOUBLE))")
    val nc = expr(
      "sqrt(CAST(aggregate(zip_with(cent, cent, (a, b) -> a * b), 0L, (acc, x) -> acc + x) AS DOUBLE))")
    e.join(broadcast(cent), Seq("label"))
      .select(col("label"),
              floor(dot.cast("double") / (nx * nc) * lit(1e6d)).cast("long")
                .as("coh"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
           expr("CAST(sum(coh) AS BIGINT) div count(1)")
             .as("avg_cohesion_micro"))
      .orderBy(col("label"))
  }

  /** DuckDB oracle for q125 — the same integer-centroid replay. */
  def q125OracleSql: String =
    s"""WITH e AS (SELECT vec_id, label,
         list_transform(embedding,
           x -> CAST(floor(x * 1e6 + 0.5) AS BIGINT)) AS m
         FROM embeddings),
       s AS (SELECT label, t.d,
               CAST(sum(m[t.d + 1]) AS BIGINT) AS sv, count(*) AS n
             FROM e, range($EmbDim) t(d) GROUP BY label, t.d),
       cent AS (SELECT label, list(sv // n ORDER BY d) AS cent FROM s
                GROUP BY label),
       coh AS (SELECT e.label,
         CAST(floor(
           CAST(list_sum(list_transform(list_zip(e.m, c.cent),
             p -> p[1] * p[2])) AS DOUBLE) /
           (sqrt(CAST(list_sum(list_transform(e.m, x -> x * x)) AS DOUBLE)) *
            sqrt(CAST(list_sum(list_transform(c.cent, x -> x * x)) AS DOUBLE)))
           * 1e6) AS BIGINT) AS coh
         FROM e JOIN cent c USING (label))
       SELECT label, count(*) AS n_vecs,
         CAST(CAST(sum(coh) AS BIGINT) // count(*) AS BIGINT)
           AS avg_cohesion_micro
       FROM coh GROUP BY label ORDER BY label"""

  /** DuckDB oracle for q102 — one WITH chain holding both the exact
    * brute-force top-5 (q26's definition) and the IVF top-5 (q27's
    * learn+assign+probe replay), reduced to hits per query. */
  def q102OracleSql: String =
    s"""WITH ${ivfLearnAssignCtes()},
       bsims AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id,
         list_sum(list_transform(list_zip(q.embedding, c.embedding),
           p -> p[1]::DOUBLE * p[2]::DOUBLE)) / (q.nrm * c.nrm) AS sim_exact
         FROM e q JOIN e c ON c.vec_id <> q.vec_id WHERE q.vec_id < 8),
       brute AS (SELECT q_id, n_id FROM (
         SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
           ORDER BY sim_exact DESC, n_id) AS rn FROM bsims) WHERE rn <= 5),
       probes AS (SELECT q_id, q_emb, q_nrm, c_id AS cell FROM (
         SELECT q.vec_id AS q_id, q.embedding AS q_emb, q.nrm AS q_nrm, c.c_id,
           list_sum(list_transform(list_zip(q.embedding, c.c_emb),
             p -> p[1]::DOUBLE * p[2])) / (q.nrm * c.c_nrm) AS csim,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY csim DESC, c.c_id) AS pr
         FROM e q CROSS JOIN cent c WHERE q.vec_id < 8)
         WHERE pr <= $IvfProbes),
       scored AS (SELECT p.q_id, a.vec_id AS n_id,
         list_sum(list_transform(list_zip(p.q_emb, a.embedding),
           x -> x[1]::DOUBLE * x[2]::DOUBLE)) / (p.q_nrm * a.nrm) AS sim_exact
         FROM probes p JOIN asg a ON p.cell = a.cell
         WHERE a.vec_id <> p.q_id),
       ivf AS (SELECT q_id, n_id FROM (
         SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
           ORDER BY sim_exact DESC, n_id) AS rn FROM scored) WHERE rn <= 5)
       SELECT b.q_id, count(i.n_id) AS n_hits,
         count(i.n_id) * 20 AS recall_pct
       FROM brute b LEFT JOIN ivf i ON i.q_id = b.q_id AND i.n_id = b.n_id
       GROUP BY b.q_id ORDER BY b.q_id"""
  /** q160 — per-vector TOP DIMENSIONS: for each embedding, the 3
    * dimensions with the largest |value| (ties → lower index), as
    * (vec_id, rank, dim, val_micro) rows — the introspection query
    * behind "which features drive this vector" dashboards and
    * sparsification decisions (keep top-k dims ≈ magnitude pruning).
    *
    * Pure array HOFs — zip index+value map-side, sort_array on the
    * (|v| desc, dim asc) composite, slice 3, posexplode — zero
    * shuffles before the output sort, and the full embedding never
    * crosses an exchange (only the 3 winners do). */
  def q160TopDims(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"),
              expr("""slice(array_sort(zip_with(
                        embedding,
                        sequence(0, size(embedding) - 1),
                        (v, i) -> struct(-abs(CAST(v AS DOUBLE)) AS negabs,
                                         i AS dim,
                                         CAST(v AS DOUBLE) AS v))), 1, 3)""")
                .as("top"))
      .select(col("vec_id"), posexplode(col("top")))
      .select(col("vec_id"), (col("pos") + 1).cast("long").as("rank"),
              col("col.dim").cast("long").as("dim"),
              floor(col("col.v") * lit(1000000d) + lit(0.5d)).cast("long")
                .as("val_micro"))
      .orderBy(col("vec_id"), col("rank"))

  /** q163 — per-dimension DECILE PROFILE of the embedding space: for
    * every dimension, the value distribution cut into 10 equal-count
    * bins (ntile over (value, vec_id) — the id tiebreak makes the
    * cut deterministic), with per-bin count and exact micro-int min/
    * max boundaries. This is the feature-distribution audit behind
    * per-dim quantile normalization and scalar-quantizer calibration
    * (each bin's [lo, hi] IS the codebook entry).
    *
    * Scale shape: one explode to (dim, v) then one shuffle
    * partitioned BY DIMENSION — each of the 64 windows sorts its own
    * dim's values independently (embarrassingly parallel, frame =
    * N values per dim), and the output collapses to dims × 10 rows.
    * At 100 TB you'd swap ntile for approx quantile boundaries; the
    * exact form is the calibration-set path. */
  def q163DimDeciles(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("dim")).orderBy(col("v"), col("vec_id"))
    Tables.embeddings(s, dir)
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos").cast("long").as("dim"),
              col("col").cast("double").as("v"))
      .withColumn("decile", ntile(10).over(w).cast("long"))
      .groupBy(col("dim"), col("decile"))
      .agg(count(lit(1)).as("n"),
           floor(min(col("v")) * lit(1000000d) + lit(0.5d)).cast("long")
             .as("lo_micro"),
           floor(max(col("v")) * lit(1000000d) + lit(0.5d)).cast("long")
             .as("hi_micro"))
      .orderBy(col("dim"), col("decile"))
  }

  /** The distributed half of q169: the (i, j) → Σterm scatter frame.
    * Exposed so PlanAuditSpec can pin the shape (buffers aggregated
    * before the explode — the Generate must consume aggregate
    * output, never the raw row stream) — the returned q169 frame
    * itself is a driver-built literal and carries no plan to audit. */
  private[graft] def q169ScatterTerms(s: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val d = EmbDim
    val shards = 64
    val quant = Tables.embeddings(s, dir).select(
      pmod(xxhash64(col("vec_id")), lit(shards)).as("g"),
      transform(col("embedding"),
                x => floor(x.cast("double") * lit(10000d) + lit(0.5d))
                  .cast("long")).as("q"))
    // One flat buffer per (task, shard); posexplode AFTER aggregation
    // unpacks shards·(d²+d+1) rows — bounded, data-size independent.
    quant.groupBy(col("g"))
      .agg(graft.functions.VectorFunctions.scatterMatrixAgg(col("q"), d)
        .as("buf"))
      .select(posexplode(col("buf")).as(Seq("pos", "t")))
      .select(
        when(col("pos") < d * d, floor(col("pos") / lit(d)).cast("int"))
          .when(col("pos") < d * d + d, (col("pos") - d * d).cast("int"))
          .otherwise(lit(-1)).as("i"),
        when(col("pos") < d * d, (col("pos") % d).cast("int"))
          .otherwise(lit(-1)).as("j"),
        col("t"))
      .groupBy(col("i"), col("j"))
      .agg(sum(col("t").cast(dec)).as("s"))
  }

  private val Q169Iters = 8

  /** q169 — top principal component by integer power iteration
    * over the ScatterMatrixAgg scatter matrix (d²+d+1-row tree
    * reduce). A one-pass integer scatter matrix + deterministic
    * integer power iteration is the distributed-PCA primitive behind
    * whitening, anisotropy audits ("is the embedding space collapsing?"), and
    * dominant-direction removal (the all-but-the-top postprocessing
    * trick common for sentence embeddings).
    *
    * Determinism contract (why this is hash-checkable when PCA
    * usually isn't): values quantize to 1e4 micros, the scatter
    * matrix M = (n·Σqᵢqⱼ − Σqᵢ·Σqⱼ) div n is exact integer
    * arithmetic, and the power iteration renormalizes by
    * trunc-toward-zero division (v′ = w·1e6 div max|w|), which
    * Scala BigInt, Spark `div`, and DuckDB `//` all agree on.
    * Fixed start vector (1e6 − 7001·dim, asymmetric so it cannot be
    * orthogonal to a planted direction by symmetry) and a fixed
    * iteration count replace the usual convergence test, mirroring
    * the q27 fixed-Lloyd's recipe. Sign is pinned by the start
    * vector, not by convention.
    *
    * Scale shape — the heavy part is ONE ObjectHashAggregate over
    * [[graft.functions.ScatterMatrixAgg]]: each task folds its rows
    * into a single flat long[d²+d+1] buffer (outer products + linear
    * sums + count), so the shuffle carries one ~33 KB buffer per
    * task — the minimal communication for an exact scatter matrix,
    * with none of the d²-structs-per-row amplification the explode
    * formulation paid (4,161 structs/row; 10× the aggregate's cost
    * at sf0.1). The aggregation shards by hash(vec_id) into 64
    * groups whose long partials are re-summed in decimal(38,0):
    * exact to 64·9·10¹⁰ rows, with addExact failing loudly beyond
    * (see the ScatterMatrixAgg overflow contract). The driver then
    * iterates on a d×d integer matrix — O(T·d²) BigInt flops
    * independent of N (the same bounded-driver-work argument as the
    * IVF quantizer: FAISS trains PCA on one node for the same
    * reason). Dividing M by n keeps matvec magnitudes ≤
    * ~N·3.3e7·1e6·d, inside HUGEINT even at 10¹⁰ rows; BigInt on
    * the engine side is unbounded anyway. */
  def q169PcaPower(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // d²+d+1 rows — bounded collect (4161 for d=64), like the IVF
    // training sample. Everything below is driver-side exact math.
    val rows = q169ScatterTerms(s, dir).collect()
    val d = rows.iterator.map(_.getInt(0)).max + 1
    val n = BigInt(rows.find(r => r.getInt(0) == -1 && r.getInt(1) == -1)
      .get.getDecimal(2).toBigInteger)
    val lin = Array.fill(d)(BigInt(0))
    val m = Array.fill(d, d)(BigInt(0))
    rows.foreach { r =>
      val (i, j, v) = (r.getInt(0), r.getInt(1),
                       BigInt(r.getDecimal(2).toBigInteger))
      if (i >= 0 && j >= 0) m(i)(j) = v else if (i >= 0) lin(i) = v
    }
    for (i <- 0 until d; j <- 0 until d)
      m(i)(j) = (n * m(i)(j) - lin(i) * lin(j)) / n // trunc, both engines
    var v = Array.tabulate(d)(i => BigInt(1000000 - 7001 * i))
    for (_ <- 1 to Q169Iters) {
      val w = Array.tabulate(d)(i =>
        (0 until d).foldLeft(BigInt(0))((acc, j) => acc + m(i)(j) * v(j)))
      val mx = w.iterator.map(_.abs).max
      v = if (mx == 0) Array.fill(d)(BigInt(0))
          else w.map(x => x * 1000000 / mx)
    }
    v.zipWithIndex.map { case (x, i) => (i + 1, x.toLong) }.toSeq
      .toDF("dim", "v_scaled").orderBy(col("dim"))
  }

  /** DuckDB oracle for q169 — replays the identical integer pipeline:
    * positional unnest → micro quantize → exact HUGEINT scatter →
    * `iters` unrolled matvec+renormalize CTE pairs (`//` = trunc
    * division, bit-equal to the engine's BigInt `/`). */
  def q169OracleSql: String = {
    val its = (1 to Q169Iters).map { k =>
      val pv = if (k == 1) "v0" else s"v${k - 1}"
      s"""w$k AS (SELECT m.i AS i, SUM(m.mv * v.v) AS w
            FROM m JOIN $pv v ON v.i = m.j GROUP BY m.i),
          v$k AS (SELECT w.i, CASE WHEN mx.m = 0 THEN CAST(0 AS HUGEINT)
                                   ELSE (w.w * 1000000) // mx.m END AS v
            FROM w$k w, (SELECT MAX(abs(w)) AS m FROM w$k) mx)"""
    }.mkString(",\n")
    s"""WITH q AS (SELECT vec_id, t.i AS i,
           CAST(floor(embedding[t.i]::DOUBLE * 10000 + 0.5) AS BIGINT) AS qv
           FROM embeddings,
                (SELECT unnest(generate_series(1, $EmbDim)) AS i) t),
       nn AS (SELECT (COUNT(*) // $EmbDim)::HUGEINT AS n FROM q),
       s AS (SELECT i, SUM(qv)::HUGEINT AS s FROM q GROUP BY i),
       p AS (SELECT a.i AS i, b.i AS j, SUM(a.qv * b.qv)::HUGEINT AS p
             FROM q a JOIN q b USING (vec_id) GROUP BY a.i, b.i),
       m AS (SELECT p.i, p.j,
                    (nn.n * p.p - sa.s * sb.s) // nn.n AS mv
             FROM p
             JOIN s sa ON sa.i = p.i JOIN s sb ON sb.i = p.j
             CROSS JOIN nn),
       v0 AS (SELECT i, CAST(1000000 - 7001 * (i - 1) AS HUGEINT) AS v
              FROM (SELECT unnest(generate_series(1, $EmbDim)) AS i)),
       $its
       SELECT i AS dim, CAST(v AS BIGINT) AS v_scaled FROM v$Q169Iters
       ORDER BY dim"""
  }

  private val Q174K = 4

  /** q174 — greedy k-center coreset selection (farthest-point
    * traversal, the classic 2-approximation): pick the vector with
    * the smallest id as the seed, then repeatedly add the vector
    * farthest from its nearest already-chosen center. This is the
    * diversity-first curation primitive — a k-row coreset whose
    * covering radius is within 2× optimal, used to seed diverse
    * fine-tuning subsets and k-means++-style initializations.
    *
    * Determinism: distances are EXACT integers — embeddings are
    * milli-quantized (`floor(x·1000 + 0.5)`, the q63/q169 rule) and
    * compared by squared L2, ties broken on vec_id — so engine and
    * oracle agree bit-for-bit with no float-comparison drift.
    *
    * Scale shape: k passes over the table, each a map-side
    * min-over-≤k literal centers (the center set is k·d longs — a few
    * KB broadcast inside the plan as literals) into a
    * TakeOrderedAndProject(1). Nothing shuffles; driver state is the
    * k selected rows. The quantized table is cached across the k
    * scans. Output: one row per selected center in selection order,
    * with the distance that made it the farthest point (the covering
    * radius of the previous set). */
  def q174KCenterCoreset(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val q = Tables.embeddings(s, dir)
      .select(col("vec_id").cast("long").as("vec_id"),
              transform(col("embedding"),
                x => floor(x.cast("double") * 1000d + lit(0.5d)).cast("long"))
                .as("qv"))
      .persist()
    // codegen'd integer kernel; bit-equal to the HOF formulation
    // `aggregate(zip_with(a, b, (x,y) => (x-y)*(x-y)), 0L, +)`
    // (VectorExpressionsSpec pins the equivalence)
    def sqDist(a: Column, b: Column): Column =
      graft.functions.VectorFunctions.sqDistL64(a, b)
    try {
      val seed = q.orderBy(col("vec_id")).limit(1).collect()(0)
      var centers =
        Vector((1L, seed.getLong(0), seed.getSeq[Long](1).toArray, 0L))
      for (step <- 2 to Q174K) {
        val minDist = centers
          .map { case (_, _, cv, _) => sqDist(col("qv"), typedLit(cv.toSeq)) }
          .reduce(least(_, _))
        val far = q.select(col("vec_id"), col("qv"), minDist.as("d"))
          .orderBy(col("d").desc, col("vec_id")).limit(1).collect()(0)
        centers = centers :+
          ((step.toLong, far.getLong(0), far.getSeq[Long](1).toArray,
            far.getLong(2)))
      }
      centers.map { case (st, id, _, d) => (st, id, d) }
        .toDF("step", "vec_id", "dist_sq").orderBy(col("step"))
    } finally q.unpersist()
  }

  /** DuckDB oracle for q174 — the same greedy traversal unrolled to
    * k CTE pairs (candidate distances, then argmax with the vec_id
    * tie-break) over the identical milli-quantized integer vectors. */
  def q174OracleSql: String = {
    val steps = (2 to Q174K).map { j =>
      val prev = if (j == 2) "d1" else s"d${j - 1}"
      s"""c$j AS (SELECT vec_id, qv, d FROM $prev
                  ORDER BY d DESC, vec_id LIMIT 1),
          d$j AS (SELECT p.vec_id, p.qv,
                  least(p.d, list_sum(list_transform(list_zip(p.qv, c.qv),
                    t -> (t[1]-t[2])*(t[1]-t[2])))::BIGINT) AS d
                  FROM $prev p, c$j c)"""
    }.mkString(",\n")
    val sel = (2 to Q174K).map { j =>
      s"UNION ALL SELECT ${j}::BIGINT, vec_id, d FROM c$j"
    }.mkString("\n")
    s"""WITH q AS (SELECT vec_id::BIGINT AS vec_id,
           list_transform(embedding,
             x -> CAST(floor(x::DOUBLE * 1000 + 0.5) AS BIGINT)) AS qv
           FROM embeddings),
       c1 AS (SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT 1),
       d1 AS (SELECT p.vec_id, p.qv,
              list_sum(list_transform(list_zip(p.qv, c.qv),
                t -> (t[1]-t[2])*(t[1]-t[2])))::BIGINT AS d
              FROM q p, c1 c),
       $steps
       SELECT * FROM (
         SELECT 1::BIGINT AS step, vec_id, 0::BIGINT AS dist_sq FROM c1
         $sel
       ) ORDER BY step"""
  }

  private val Q181K = 20
  private val Q181KOut = 10

  /** q181 — HYBRID retrieval with reciprocal-rank fusion, the
    * standard two-tower serving shape (RAG / search): a lexical
    * ranking (q77's BM25 over the fixed term query) and a dense
    * ranking (exact cosine against query vector 0, q26's baseline)
    * each produce a top-k list, fused as
    * RRF(d) = Σ_lists floor(1e6 / (60 + rank_list(d))) — the
    * Cormack/Clarke constant — and the fused top-10 is the answer.
    * Ranks are deterministic (both score ties break by doc_id) and
    * the fusion is integer, so the whole pipeline is hash-gated.
    *
    * Scale shape: each ranking ends in a TakeOrderedAndProject
    * (map-side partial top-k, k rows to one reducer — never a global
    * sort); the rank-assignment windows and the full-outer fusion
    * join run on k-row frames. The corpus-sized stages are exactly
    * q77's one-scan scoring pass and one broadcast-query cosine
    * pass — nothing quadratic, nothing driver-side. */
  def q181HybridRrf(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lexW = Window.orderBy(col("bm25_micro").desc, col("doc_id"))
    val lex = TextOps.q77Bm25(s, dir)
      .orderBy(col("bm25_micro").desc, col("doc_id")).limit(Q181K)
      .withColumn("lex_rank", row_number().over(lexW).cast("long"))
      .select(col("doc_id"), col("lex_rank"))
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"), l2norm(col("embedding")).as("nrm"))
    val q0 = broadcast(e.filter(col("vec_id") === 0)
      .select(col("embedding").as("q_emb"), col("nrm").as("q_nrm")))
    val denseW = Window.orderBy(col("sim").desc, col("doc_id"))
    val dense = e.filter(col("vec_id") =!= 0).crossJoin(q0)
      .select(col("vec_id").as("doc_id"),
              (dot(col("q_emb"), col("embedding")) /
                (col("nrm") * col("q_nrm"))).as("sim"))
      .orderBy(col("sim").desc, col("doc_id")).limit(Q181K)
      .withColumn("dense_rank", row_number().over(denseW).cast("long"))
      .select(col("doc_id"), col("dense_rank"))
    lex.join(dense, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
              coalesce(col("lex_rank"), lit(0L)).as("lex_rank"),
              coalesce(col("dense_rank"), lit(0L)).as("dense_rank"),
              (coalesce(expr("1000000L div (60 + lex_rank)"), lit(0L)) +
               coalesce(expr("1000000L div (60 + dense_rank)"), lit(0L)))
                .as("rrf_micro"))
      .orderBy(col("rrf_micro").desc, col("doc_id")).limit(Q181KOut)
  }

  /** DuckDB oracle for q181 — q77's BM25 CTE and q26's cosine shape
    * restricted to query vector 0, ranked top-k each, RRF-fused. */
  def q181OracleSql: String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       d AS (SELECT doc_id, len(toks)::BIGINT AS dl,
         len(list_filter(toks, x -> x = 'spark'))::BIGINT AS tf0,
         len(list_filter(toks, x -> x = 'join'))::BIGINT AS tf1,
         len(list_filter(toks, x -> x = 'window'))::BIGINT AS tf2,
         len(list_filter(toks, x -> x = 'hash'))::BIGINT AS tf3
         FROM t),
       c AS (SELECT count(*)::BIGINT AS n, sum(dl)::BIGINT AS sdl,
         sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END)::BIGINT AS df0,
         sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END)::BIGINT AS df1,
         sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END)::BIGINT AS df2,
         sum(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END)::BIGINT AS df3
         FROM d),
       bm AS (SELECT doc_id,
         CAST(floor((
           ((n - df0 + 0.5::DOUBLE) / (df0 + 0.5::DOUBLE)) * (tf0 * 2.2::DOUBLE) / (tf0 + 1.2::DOUBLE * (0.25::DOUBLE + 0.75::DOUBLE * dl / (sdl::DOUBLE / n)))
         + ((n - df1 + 0.5::DOUBLE) / (df1 + 0.5::DOUBLE)) * (tf1 * 2.2::DOUBLE) / (tf1 + 1.2::DOUBLE * (0.25::DOUBLE + 0.75::DOUBLE * dl / (sdl::DOUBLE / n)))
         + ((n - df2 + 0.5::DOUBLE) / (df2 + 0.5::DOUBLE)) * (tf2 * 2.2::DOUBLE) / (tf2 + 1.2::DOUBLE * (0.25::DOUBLE + 0.75::DOUBLE * dl / (sdl::DOUBLE / n)))
         + ((n - df3 + 0.5::DOUBLE) / (df3 + 0.5::DOUBLE)) * (tf3 * 2.2::DOUBLE) / (tf3 + 1.2::DOUBLE * (0.25::DOUBLE + 0.75::DOUBLE * dl / (sdl::DOUBLE / n)))
         ) * 1000000.0::DOUBLE + 0.5::DOUBLE) AS BIGINT) AS bm25_micro
         FROM d, c),
       lex AS (SELECT doc_id,
         row_number() OVER (ORDER BY bm25_micro DESC, doc_id) AS lex_rank
         FROM bm ORDER BY bm25_micro DESC, doc_id LIMIT $Q181K),
       e AS (SELECT vec_id, embedding,
         sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm
         FROM embeddings),
       q AS (SELECT embedding AS q_emb, nrm AS q_nrm FROM e WHERE vec_id = 0),
       sims AS (SELECT c.vec_id AS doc_id,
         list_sum(list_transform(list_zip(q_emb, c.embedding),
           p -> p[1]::DOUBLE * p[2]::DOUBLE)) / (c.nrm * q_nrm) AS sim
         FROM q, e c WHERE c.vec_id <> 0),
       dense AS (SELECT doc_id,
         row_number() OVER (ORDER BY sim DESC, doc_id) AS dense_rank
         FROM sims ORDER BY sim DESC, doc_id LIMIT $Q181K)
       SELECT coalesce(l.doc_id, de.doc_id) AS doc_id,
         coalesce(l.lex_rank, 0)::BIGINT AS lex_rank,
         coalesce(de.dense_rank, 0)::BIGINT AS dense_rank,
         (coalesce(1000000 // (60 + l.lex_rank), 0)
          + coalesce(1000000 // (60 + de.dense_rank), 0))::BIGINT AS rrf_micro
       FROM lex l FULL OUTER JOIN dense de ON l.doc_id = de.doc_id
       ORDER BY rrf_micro DESC, doc_id LIMIT $Q181KOut"""

  private val Q189N = 12
  private val Q189KOut = 4

  /** q189 — MMR (maximal-marginal-relevance) diversified re-rank
    * (Carbonell & Goldstein, SIGIR 1998), the standard RAG answer to
    * "the top-k neighbors are five near-copies of the same passage":
    * for each query, retrieve the top-`n` candidates by exact cosine,
    * then greedily select `kOut` of them maximizing
    * λ·rel(c,q) − (1−λ)·max_{s∈S} sim(c,s) with λ = 0.7, ties by
    * candidate id. Similarities are quantized to integer micro-units
    * BEFORE the greedy loop, so the selection arithmetic
    * (score = 7·rel_micro − 3·maxsim_micro) is integer-exact and the
    * DuckDB oracle replays every round bit-for-bit.
    *
    * Scale shape: the ONLY corpus-sized stages are the q26 retrieval
    * pass (broadcast queries, map-side scoring, bounded
    * [[topKPerQuery]] — ≤ n rows per query cross the shuffle) and one
    * broadcast join-back that re-attaches candidate vectors. The
    * pairwise matrix (|Q|·n² rows) and the greedy loop run on
    * candidate-bounded frames: each query's selection is one
    * `flatMapGroups` group of ≤ n rows with its n×n micro-sim map —
    * O(n²) state per group by construction, groups distributed across
    * executors. At 100 TB n stays a serving constant (100s), so the
    * re-rank cost never grows with the corpus. */
  def q189MmrRerank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"), l2norm(col("embedding")).as("nrm"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val q = broadcast(e.filter(col("vec_id") < 4).toDF("q_id", "q_emb", "q_nrm"))
    val c = e.toDF("n_id", "c_emb", "c_nrm")
    val relSim = dot(col("q_emb"), col("c_emb")) / (col("q_nrm") * col("c_nrm"))
    val cands = topKPerQuery(
      q.join(c, col("n_id") =!= col("q_id"))
        .select(col("q_id"), col("n_id"), relSim.as("sim_exact")), Q189N)
      .select(col("q_id"), col("n_id"),
              floor(col("sim_exact") * lit(1000000.0) + lit(0.5))
                .cast("long").as("rel_micro"))
      // two consumers (vector join-back + the greedy-group seed
      // below) — persist the |Q|·n-row frame so the corpus-sized
      // retrieval pass runs exactly once
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // re-attach candidate vectors: broadcast the |Q|·n-row id frame,
    // stream the persisted corpus once
    val cv = e.join(broadcast(cands), col("vec_id") === col("n_id"))
      .select(col("q_id"), col("n_id"), col("rel_micro"),
              col("embedding"), col("nrm"))
    val pa = cv.toDF("q_id", "a_id", "a_rel", "a_emb", "a_nrm")
    val pb = cv.select(col("q_id"), col("n_id"), col("embedding"), col("nrm"))
      .toDF("q_id", "b_id", "b_emb", "b_nrm")
    val pairSim = dot(col("a_emb"), col("b_emb")) / (col("a_nrm") * col("b_nrm"))
    // the greedy groups seed from CANDS, not the a≠b pair frame: a
    // query with exactly one retrieved candidate has no pairs, and
    // seeding from pairs would drop its pick-1 row while the oracle
    // still emits it (ADVICE r9) — left-join the pairwise map and
    // default it empty
    val pairMaps = pa.join(pb, Seq("q_id"))
      .filter(col("a_id") =!= col("b_id"))
      .select(col("q_id"), col("a_id"), col("b_id"),
              floor(pairSim * lit(1000000.0) + lit(0.5))
                .cast("long").as("pm_micro"))
      .groupBy(col("q_id"), col("a_id"))
      .agg(map_from_entries(collect_list(struct(col("b_id"), col("pm_micro"))))
             .as("pm"))
    val rows = cands
      .join(pairMaps, cands("q_id") === pairMaps("q_id") &&
                      cands("n_id") === pairMaps("a_id"), "left")
      .select(cands("q_id"), col("n_id"), col("rel_micro"),
              coalesce(col("pm"), typedLit(Map.empty[Long, Long])).as("pm"))
      .as[(Long, Long, Long, Map[Long, Long])]
    rows.groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        val cs = it.toArray.sortBy(_._2)
        val chosen = scala.collection.mutable.LinkedHashSet[Long]()
        val picked = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
        var round = 1
        while (round <= Q189KOut && chosen.size < cs.length) {
          var bestId = Long.MaxValue; var bestScore = Long.MinValue
          cs.foreach { case (_, id, rel, pm) =>
            if (!chosen.contains(id)) {
              val maxSim =
                if (chosen.isEmpty) 0L else chosen.iterator.map(pm).max
              val score = 7L * rel - 3L * maxSim
              if (score > bestScore || (score == bestScore && id < bestId)) {
                bestScore = score; bestId = id
              }
            }
          }
          chosen += bestId; picked += ((bestId, bestScore)); round += 1
        }
        picked.zipWithIndex.map { case ((id, sc), i) =>
          (qid, (i + 1).toLong, id, sc) }
      }
      .toDF("q_id", "pick", "n_id", "score_micro")
      .orderBy(col("q_id"), col("pick"))
  }

  /** DuckDB oracle for q189 — identical retrieval (q26's cosine chain,
    * top-n per query), identical micro quantization, and the greedy
    * loop unrolled to kOut CTE rounds: round 1 is the per-query
    * relevance argmax; each later round computes, for every
    * not-yet-selected candidate, the max micro-sim to the selected
    * set and the integer MMR score, then takes the per-query
    * (score DESC, n_id) argmax. */
  def q189OracleSql: String = {
    val rounds = (2 to Q189KOut).map { j =>
      s"""c$j AS (SELECT c.q_id, c.n_id,
             7 * c.rel - 3 * max(p.pm) AS score
           FROM cand c
           JOIN pm p ON p.q_id = c.q_id AND p.a_id = c.n_id
           JOIN sel${j - 1} s ON s.q_id = p.q_id AND s.n_id = p.b_id
           WHERE NOT EXISTS (SELECT 1 FROM sel${j - 1} s2
                             WHERE s2.q_id = c.q_id AND s2.n_id = c.n_id)
           GROUP BY c.q_id, c.n_id, c.rel),
         s$j AS (SELECT q_id, $j::BIGINT AS pick, n_id, score FROM (
             SELECT *, row_number() OVER (PARTITION BY q_id
               ORDER BY score DESC, n_id) AS rn FROM c$j) WHERE rn = 1),
         sel$j AS (SELECT q_id, n_id FROM sel${j - 1}
           UNION ALL SELECT q_id, n_id FROM s$j)"""
    }.mkString(",\n       ")
    val sel = (2 to Q189KOut)
      .map(j => s"UNION ALL SELECT q_id, pick, n_id, score FROM s$j")
      .mkString("\n         ")
    s"""WITH e AS (SELECT vec_id, embedding,
         sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm
         FROM embeddings),
       q AS (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm
         FROM e WHERE vec_id < 4),
       scored AS (SELECT q.q_id, c.vec_id AS n_id,
         list_sum(list_transform(list_zip(q.q_emb, c.embedding),
           x -> x[1]::DOUBLE * x[2]::DOUBLE)) / (q.q_nrm * c.nrm) AS sim
         FROM q, e c WHERE c.vec_id <> q.q_id),
       cand AS (SELECT q_id, n_id,
         CAST(floor(sim * 1000000.0 + 0.5) AS BIGINT) AS rel
         FROM (SELECT *, row_number() OVER (PARTITION BY q_id
                 ORDER BY sim DESC, n_id) AS rn FROM scored)
         WHERE rn <= $Q189N),
       pm AS (SELECT a.q_id, a.n_id AS a_id, b.n_id AS b_id,
         CAST(floor(list_sum(list_transform(list_zip(ea.embedding, eb.embedding),
           x -> x[1]::DOUBLE * x[2]::DOUBLE)) / (ea.nrm * eb.nrm)
           * 1000000.0 + 0.5) AS BIGINT) AS pm
         FROM cand a
         JOIN cand b ON a.q_id = b.q_id AND a.n_id <> b.n_id
         JOIN e ea ON ea.vec_id = a.n_id
         JOIN e eb ON eb.vec_id = b.n_id),
       s1 AS (SELECT q_id, 1::BIGINT AS pick, n_id, 7 * rel AS score FROM (
           SELECT *, row_number() OVER (PARTITION BY q_id
             ORDER BY 7 * rel DESC, n_id) AS rn FROM cand) WHERE rn = 1),
       sel1 AS (SELECT q_id, n_id FROM s1),
       $rounds
       SELECT q_id, pick, n_id, score AS score_micro FROM (
         SELECT q_id, pick, n_id, score FROM s1
         $sel
       ) ORDER BY q_id, pick"""
  }

  private val Q190K = 3

  /** q190 — margin-based bitext/pair mining (Artetxe & Schwenk, ACL
    * 2019 — the CCMatrix recipe): the corpus splits into two sides
    * (even vec_ids = side A, odd = side B); candidate cross-side
    * pairs are generated by sign-bit LSH cell blocking (q35's
    * machinery — never the full bipartite product); each pair's
    * cosine is scored against the AVERAGE similarity of its
    * endpoints' k nearest blocked neighbors
    * (margin(a,b) = 2·sim / (avg_fwd(a) + avg_bwd(b))), and each
    * side-A vector reports its best-margin match when that margin
    * clears 1.0 — i.e. the pair is closer than its neighborhoods'
    * average, the signal CCMatrix mines parallel sentences with.
    *
    * Everything after the raw cosine is integer: sims quantize to
    * micro-units before ranking, neighborhood averages stay as
    * (sum, count) pairs, and the margin is one exact integer division
    * margin_micro = 2e6·sim·ca·cb div (fa·cb + fb·ca) — so the DuckDB
    * oracle replays ranking, averaging, and thresholding bit-for-bit
    * (positivity is forced by keeping only sim_micro > 0 candidates,
    * which also makes trunc-vs-floor division moot).
    *
    * Scale shape: cell blocking bounds candidates by cell population
    * (the q35 argument); per-side top-k neighborhoods ride the
    * bounded [[topKPerQuery]] aggregator (≤ k rows per endpoint per
    * partition cross the shuffle); the margin itself is map-side on
    * the candidate frame; the final best-per-a is a map-side partial
    * `max_by`. No corpus-sized sort, no all-pairs stage. */
  def q190MarginMining(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"), l2norm(col("embedding")).as("nrm"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // NOTE (r15): fusing the 8 per-band Projects into one
    // posexplode(array(...)) pass was A/B'd and REJECTED (1.27 →
    // 1.50 s min-of-5, same calib) — Generate evaluates the inlined
    // computed sign-chain array slower than 8 cache-scan Projects,
    // exactly the q35 round-1 finding its comment records.
    val celled = (0 until LshBands).map { bnd =>
      e.select(col("vec_id"), lit(bnd).as("band"),
               signCellKey(col("embedding"),
                 (bnd * LshBitsPerBand until (bnd + 1) * LshBitsPerBand).map(_ % 64))
                 .as("cell"))
    }.reduce(_ unionByName _)
    val ca = celled.filter(col("vec_id") % 2 === 0).toDF("a_id", "band_a", "cell_a")
    val cb = celled.filter(col("vec_id") % 2 === 1).toDF("b_id", "band_b", "cell_b")
    val sim = dot(col("a_emb"), col("b_emb")) / (col("a_nrm") * col("b_nrm"))
    val pairs = ca.join(cb, col("band_a") === col("band_b") &&
                            col("cell_a") === col("cell_b"))
      .select(col("a_id"), col("b_id")).dropDuplicates("a_id", "b_id")
      .join(broadcast(e.toDF("a_id", "a_emb", "a_nrm")), "a_id")
      .join(broadcast(e.toDF("b_id", "b_emb", "b_nrm")), "b_id")
      .select(col("a_id"), col("b_id"),
              floor(sim * lit(1000000.0) + lit(0.5)).cast("long").as("sim_micro"))
      .filter(col("sim_micro") > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // per-endpoint blocked-neighborhood averages as exact integer
    // (sum, count) over the k best quantized sims — bounded BottomK
    // aggregate, (micro DESC, id ASC) order matching the oracle
    def nbhd(src: DataFrame, key: String, other: String) =
      topKPerQuery(src.select(col(key), col(other),
                              col("sim_micro").cast("double")), Q190K)
        .groupBy(col("q_id").as(key))
        .agg(sum(col("sim_exact").cast("long")).as(s"${key}_sum"),
             count(lit(1)).as(s"${key}_cnt"))
    val fwd = nbhd(pairs, "a_id", "b_id")
    val bwd = nbhd(pairs.select(col("b_id"), col("a_id"), col("sim_micro")),
                   "b_id", "a_id")
    pairs.join(fwd, "a_id").join(bwd, "b_id")
      .select(col("a_id"), col("b_id"), col("sim_micro"),
              expr("2 * sim_micro * a_id_cnt * b_id_cnt * 1000000L div " +
                   "(a_id_sum * b_id_cnt + b_id_sum * a_id_cnt)")
                .as("margin_micro"))
      .groupBy(col("a_id"))
      .agg(max_by(struct(col("b_id"), col("sim_micro"), col("margin_micro")),
                  struct(col("margin_micro"), -col("b_id"))).as("best"))
      .select(col("a_id"), col("best.b_id").as("b_id"),
              col("best.sim_micro").as("sim_micro"),
              col("best.margin_micro").as("margin_micro"))
      .filter(col("margin_micro") >= 1000000L)
      .orderBy(col("a_id"))
  }

  /** DuckDB oracle for q190 — q35's sign-cell SQL restricted to
    * even×odd pairs, identical micro quantization, rank-k
    * neighborhood (sum, count) per endpoint, and the same exact
    * integer margin division and ≥ 1e6 threshold. */
  def q190OracleSql: String = {
    val bandSelects = (0 until LshBands).map { bnd =>
      val key = (0 until LshBitsPerBand).map { i =>
        val d = (bnd * LshBitsPerBand + i) % 64
        s"(embedding[${d + 1}] >= 0)::BIGINT * ${1L << i}"
      }.mkString(" + ")
      s"SELECT vec_id, $bnd AS band, $key AS cell FROM e"
    }.mkString("\n           UNION ALL ")
    s"""WITH e AS (SELECT vec_id, embedding,
         sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm
         FROM embeddings),
       cells AS ($bandSelects),
       cand AS (SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
         FROM cells a JOIN cells b
         ON a.band = b.band AND a.cell = b.cell
         WHERE a.vec_id % 2 = 0 AND b.vec_id % 2 = 1),
       p AS (SELECT c.a_id, c.b_id,
         CAST(floor(list_sum(list_transform(list_zip(ea.embedding, eb.embedding),
           x -> x[1]::DOUBLE * x[2]::DOUBLE)) / (ea.nrm * eb.nrm)
           * 1000000.0 + 0.5) AS BIGINT) AS sim_micro
         FROM cand c
         JOIN e ea ON ea.vec_id = c.a_id
         JOIN e eb ON eb.vec_id = c.b_id),
       pp AS (SELECT * FROM p WHERE sim_micro > 0),
       fwd AS (SELECT a_id, sum(sim_micro)::BIGINT AS fa, count(*)::BIGINT AS ca
         FROM (SELECT *, row_number() OVER (PARTITION BY a_id
                 ORDER BY sim_micro DESC, b_id) AS rn FROM pp)
         WHERE rn <= $Q190K GROUP BY a_id),
       bwd AS (SELECT b_id, sum(sim_micro)::BIGINT AS fb, count(*)::BIGINT AS cb
         FROM (SELECT *, row_number() OVER (PARTITION BY b_id
                 ORDER BY sim_micro DESC, a_id) AS rn FROM pp)
         WHERE rn <= $Q190K GROUP BY b_id),
       m AS (SELECT pp.a_id, pp.b_id, pp.sim_micro,
         (2 * pp.sim_micro * ca * cb * 1000000) // (fa * cb + fb * ca)
           AS margin_micro
         FROM pp JOIN fwd USING (a_id) JOIN bwd USING (b_id)),
       best AS (SELECT a_id, b_id, sim_micro, margin_micro FROM (
           SELECT *, row_number() OVER (PARTITION BY a_id
             ORDER BY margin_micro DESC, b_id) AS rn FROM m) WHERE rn = 1)
       SELECT a_id, b_id, sim_micro, margin_micro FROM best
       WHERE margin_micro >= 1000000 ORDER BY a_id"""
  }

  /** q195 pairs at or above Q195TauPos are positives, below
    * Q195TauNeg negatives (cosine, micro units); the two must not overlap. */
  private val Q195TauPos = 450000L
  private val Q195TauNeg = 400000L

  /** q195 — contrastive triplet mining, the training-data primitive
    * for embedding/retriever fine-tuning (the DPR / SimCSE hard-
    * negative recipe): every vector that has BOTH becomes an anchor
    * with its best POSITIVE (highest cosine among blocked candidates
    * at sim ≥ τ_pos = 0.45, q35's near-dup band) and its HARDEST
    * NEGATIVE (highest cosine strictly below τ_neg = 0.40 — similar
    * enough to be informative, below the positive band; the gap
    * between the thresholds is the usual safety margin against
    * false negatives). Sims quantize to integer micro-units before
    * every threshold and argmax, so the output is deterministic and
    * fully oracle-gated.
    *
    * Scale shape: candidates come from q35's sign-bit LSH cell
    * blocking (cell population bounds the pair space — never
    * all-pairs); scoring joins broadcast the vector side; both
    * selections are map-side partial `max_by` aggregates keyed by
    * anchor; the pos⋈neg join runs on ≤|anchors| rows. At 100 TB the
    * only corpus-sized stages are the cell build and the blocked
    * candidate join — the same budget q35 already pays. */
  def q195ContrastivePairs(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"), l2norm(col("embedding")).as("nrm"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val celled = (0 until LshBands).map { bnd =>
      e.select(col("vec_id"), lit(bnd).as("band"),
               signCellKey(col("embedding"),
                 (bnd * LshBitsPerBand until (bnd + 1) * LshBitsPerBand).map(_ % 64))
                 .as("cell"))
    }.reduce(_ unionByName _)
    val ca = celled.toDF("a_id", "band_a", "cell_a")
    val cb = celled.toDF("b_id", "band_b", "cell_b")
    val sim = dot(col("a_emb"), col("b_emb")) / (col("a_nrm") * col("b_nrm"))
    val pairs = ca.join(cb, col("band_a") === col("band_b") &&
                            col("cell_a") === col("cell_b") &&
                            col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id")).dropDuplicates("a_id", "b_id")
      .join(broadcast(e.toDF("a_id", "a_emb", "a_nrm")), "a_id")
      .join(broadcast(e.toDF("b_id", "b_emb", "b_nrm")), "b_id")
      .select(col("a_id"), col("b_id"),
              floor(sim * lit(1000000.0) + lit(0.5)).cast("long").as("sim_micro"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def bestWhere(cond: Column, tag: String) =
      pairs.filter(cond)
        .groupBy(col("a_id"))
        .agg(max_by(struct(col("b_id"), col("sim_micro")),
                    struct(col("sim_micro"), -col("b_id"))).as(tag))
    val pos = bestWhere(col("sim_micro") >= Q195TauPos, "p")
    val neg = bestWhere(col("sim_micro") < Q195TauNeg, "n")
    pos.join(neg, "a_id")
      .select(col("a_id").as("anchor_id"),
              col("p.b_id").as("pos_id"), col("p.sim_micro").as("pos_sim_micro"),
              col("n.b_id").as("neg_id"), col("n.sim_micro").as("neg_sim_micro"))
      .orderBy(col("anchor_id"))
  }

  /** DuckDB oracle for q195 — q35's cell SQL with both-direction
    * candidates, identical quantization, and the two per-anchor
    * argmaxes replayed as (sim DESC, id) row_number picks. */
  def q195OracleSql: String = {
    val bandSelects = (0 until LshBands).map { bnd =>
      val key = (0 until LshBitsPerBand).map { i =>
        val d = (bnd * LshBitsPerBand + i) % 64
        s"(embedding[${d + 1}] >= 0)::BIGINT * ${1L << i}"
      }.mkString(" + ")
      s"SELECT vec_id, $bnd AS band, $key AS cell FROM e"
    }.mkString("\n           UNION ALL ")
    s"""WITH e AS (SELECT vec_id, embedding,
         sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm
         FROM embeddings),
       cells AS ($bandSelects),
       cand AS (SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
         FROM cells a JOIN cells b
         ON a.band = b.band AND a.cell = b.cell AND a.vec_id <> b.vec_id),
       p AS (SELECT c.a_id, c.b_id,
         CAST(floor(list_sum(list_transform(list_zip(ea.embedding, eb.embedding),
           x -> x[1]::DOUBLE * x[2]::DOUBLE)) / (ea.nrm * eb.nrm)
           * 1000000.0 + 0.5) AS BIGINT) AS sim_micro
         FROM cand c
         JOIN e ea ON ea.vec_id = c.a_id
         JOIN e eb ON eb.vec_id = c.b_id),
       pos AS (SELECT a_id, b_id, sim_micro FROM (
           SELECT *, row_number() OVER (PARTITION BY a_id
             ORDER BY sim_micro DESC, b_id) AS rn FROM p
           WHERE sim_micro >= $Q195TauPos) WHERE rn = 1),
       neg AS (SELECT a_id, b_id, sim_micro FROM (
           SELECT *, row_number() OVER (PARTITION BY a_id
             ORDER BY sim_micro DESC, b_id) AS rn FROM p
           WHERE sim_micro < $Q195TauNeg) WHERE rn = 1)
       SELECT pos.a_id AS anchor_id,
         pos.b_id AS pos_id, pos.sim_micro AS pos_sim_micro,
         neg.b_id AS neg_id, neg.sim_micro AS neg_sim_micro
       FROM pos JOIN neg USING (a_id) ORDER BY anchor_id"""
  }

  private val Q203Dim = 16

  /** q203 — Matryoshka truncation recall [Kusupati et al., NeurIPS
    * 2022]: recall@5 of cosine top-k computed on the embedding's
    * FIRST dims (the MRL prefix, d = 16 of 64) against the full-dim
    * exact top-k (q26's truth set). The metric every
    * dimension-truncation deployment checks before serving the short
    * vectors — prefix dims cut index memory and scoring flops 4×
    * here, and this query measures exactly what that trade costs in
    * retrieval quality (on these isotropic synthetic embeddings the
    * prefix carries little signal, so the measured recall is
    * honestly low — the operator's point is the measurement).
    *
    * Scale shape: both passes are q26's — broadcast query set,
    * map-side scoring, bounded BottomK aggregate (≤ k rows per query
    * per partition cross the shuffle, never a corpus window); the
    * truncated pass scores `slice(embedding, 1, d)` so its flops are
    * d/64 of the full pass. The comparison join is k-rows-per-query
    * sized regardless of corpus size. */
  def q203MatryoshkaRecall(s: SparkSession, dir: String, d: Int = Q203Dim): DataFrame = {
    val full = q26AnnTopK(s, dir).select(col("q_id"), col("n_id"))
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), slice(col("embedding"), 1, d).as("temb"))
      .select(col("vec_id"), col("temb"), l2norm(col("temb")).as("tnrm"))
    val q = broadcast(e.filter(col("vec_id") < 8).toDF("q_id", "q_emb", "q_nrm"))
    val c = e.toDF("n_id", "c_emb", "c_nrm")
    val sim = dot(col("q_emb"), col("c_emb")) / (col("q_nrm") * col("c_nrm"))
    val trunc = topKPerQuery(
      q.join(c, col("n_id") =!= col("q_id"))
        .select(col("q_id"), col("n_id"), sim.as("sim_exact")), 5)
      .select(col("q_id").as("t_q"), col("n_id").as("t_n"))
    full
      .join(trunc, col("q_id") === col("t_q") && col("n_id") === col("t_n"),
            "left")
      .groupBy(col("q_id"))
      .agg(count(col("t_n")).as("n_hits"))
      .select(col("q_id"), col("n_hits"),
              (col("n_hits") * lit(20L)).as("recall_pct"))
      .orderBy(col("q_id"))
  }

  /** DuckDB oracle for q203 — q26's brute-force chain twice (full
    * dims and the [1:d] prefix slice), joined on the top-5 sets. */
  def q203OracleSql: String =
    s"""WITH e AS (SELECT vec_id, embedding,
         sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm,
         embedding[1:$Q203Dim] AS temb,
         sqrt(list_sum(list_transform(embedding[1:$Q203Dim], x -> x::DOUBLE * x::DOUBLE))) AS tnrm
         FROM embeddings),
       q AS (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm,
           temb AS q_temb, tnrm AS q_tnrm FROM e WHERE vec_id < 8),
       fs AS (SELECT q_id, c.vec_id AS n_id,
           list_sum(list_transform(list_zip(q_emb, c.embedding),
             p -> p[1]::DOUBLE * p[2]::DOUBLE)) / (q_nrm * c.nrm) AS sim
         FROM q JOIN e c ON c.vec_id <> q_id),
       fr AS (SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
           ORDER BY sim DESC, n_id) AS rn FROM fs),
       full5 AS (SELECT q_id, n_id FROM fr WHERE rn <= 5),
       ts AS (SELECT q_id, c.vec_id AS n_id,
           list_sum(list_transform(list_zip(q_temb, c.temb),
             p -> p[1]::DOUBLE * p[2]::DOUBLE)) / (q_tnrm * c.tnrm) AS sim
         FROM q JOIN e c ON c.vec_id <> q_id),
       tr AS (SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
           ORDER BY sim DESC, n_id) AS rn FROM ts),
       t5 AS (SELECT q_id, n_id FROM tr WHERE rn <= 5)
       SELECT f.q_id, count(t.n_id)::BIGINT AS n_hits,
         count(t.n_id) * 20 AS recall_pct
       FROM full5 f LEFT JOIN t5 t ON f.q_id = t.q_id AND f.n_id = t.n_id
       GROUP BY f.q_id ORDER BY f.q_id"""

  private val Q212K = 5

  /** q212 — ColBERT-style LATE-INTERACTION retrieval scoring
    * [Khattab & Zaharia, SIGIR 2020]: multi-vector documents scored
    * by MaxSim — score(q, d) = Σ_{t∈q} max_{u∈d} cos(t, u) — instead
    * of one pooled vector per document. The vector table is grouped
    * into 4-token pseudo-documents (did = vec_id div 4, token slot =
    * vec_id mod 4); queries are the first two documents. Every
    * pairwise cosine is quantized to integer micro-units BEFORE the
    * max and sum, so the whole interaction matrix reduction is
    * integer-exact and the oracle replays it bit-for-bit (sums of
    * ≤4 micro values stay ≤ 4e6 — double-exact through the top-k's
    * negation too).
    *
    * Scale shape: queries broadcast (|Q|·4 token vectors); the
    * corpus-sized stage is ONE map-side scoring pass producing
    * (q, doc, q_token, micro) rows, then two keyed reductions
    * (max per q-token, sum per doc) and the bounded [[topKPerQuery]]
    * top-k. No doc-side self-join, no window over the corpus — the
    * same posture as q26 with a 4× row multiplier for the token
    * dimension. */
  def q212ColbertMaxsim(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(expr("vec_id div 4").as("did"), expr("vec_id % 4").as("tok"),
              col("embedding"), l2norm(col("embedding")).as("nrm"))
    val q = broadcast(
      e.filter(col("did") < 2).toDF("q_did", "q_tok", "q_emb", "q_nrm"))
    val c = e.toDF("c_did", "c_tok", "c_emb", "c_nrm")
    val sim = dot(col("q_emb"), col("c_emb")) / (col("q_nrm") * col("c_nrm"))
    val scored = q.join(c, col("c_did") =!= col("q_did"))
      .select(col("q_did"), col("c_did"), col("q_tok"),
              floor(sim * lit(1000000.0) + lit(0.5)).cast("long").as("sm"))
      .groupBy(col("q_did"), col("c_did"), col("q_tok"))
      .agg(max(col("sm")).as("ms"))
      .groupBy(col("q_did"), col("c_did"))
      .agg(sum(col("ms")).as("score"))
    topKPerQuery(
      scored.select(col("q_did"), col("c_did"),
                    col("score").cast("double").as("sd")), Q212K)
      .select(col("q_id").as("q_did"), col("n_id").as("c_did"),
              col("sim_exact").cast("long").as("maxsim_micro"), col("rn"))
      .orderBy(col("q_did"), col("rn"))
  }

  /** DuckDB oracle for q212 — identical grouping, micro quantization,
    * max-then-sum reduction, and (score DESC, id) top-k. */
  def q212OracleSql: String =
    s"""WITH t AS (SELECT vec_id // 4 AS did, vec_id % 4 AS tok, embedding,
         sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)))
           AS nrm FROM embeddings),
       pw AS (SELECT q.did AS q_did, c.did AS c_did, q.tok AS q_tok,
         CAST(floor(list_sum(list_transform(list_zip(q.embedding, c.embedding),
             p -> p[1]::DOUBLE * p[2]::DOUBLE)) / (q.nrm * c.nrm)
           * 1000000 + 0.5) AS BIGINT) AS sm
         FROM t q JOIN t c ON q.did < 2 AND c.did <> q.did),
       mx AS (SELECT q_did, c_did, q_tok, max(sm) AS ms
         FROM pw GROUP BY q_did, c_did, q_tok),
       sc AS (SELECT q_did, c_did, sum(ms)::BIGINT AS score
         FROM mx GROUP BY q_did, c_did),
       rk AS (SELECT q_did, c_did, score,
         row_number() OVER (PARTITION BY q_did
                            ORDER BY score DESC, c_did) AS rn FROM sc)
       SELECT q_did, c_did, score AS maxsim_micro, CAST(rn AS INT) AS rn
       FROM rk WHERE rn <= $Q212K ORDER BY q_did, rn"""

  private val Q217K = 10

  /** q217 — nDCG@10 retrieval evaluation [Järvelin & Kekäläinen,
    * TOIS 2002]: each query's top-10 exact-cosine neighbors are
    * graded by label agreement (rel = 1 iff the neighbor carries the
    * query's label — the standard proxy when no editorial judgments
    * exist), DCG discounts hits by 1/log2(rank+1), and the ideal DCG
    * normalizes by the best achievable ordering given how many
    * relevant neighbors exist at all (min(10, |same-label| − 1)).
    * The only floats are the log2 discounts of small integer ranks,
    * summed over ≤ 10 terms and rounded to 4dp — the q186 float
    * discipline; counts stay exact integers.
    *
    * Scale shape: retrieval is q26's bounded top-k pass (broadcast
    * queries, ≤ k rows per query cross the shuffle); grading joins
    * the |Q|·k-row result to broadcast label lookups; the per-label
    * relevant totals are one tiny aggregate broadcast back. Nothing
    * after the retrieval pass is corpus-sized. */
  def q217NdcgEval(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"), l2norm(col("embedding")).as("nrm"),
              col("label"))
    val q = broadcast(e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
              col("nrm").as("q_nrm"), col("label").as("q_label")))
    val c = e.select(col("vec_id").as("n_id"), col("embedding").as("c_emb"),
                     col("nrm").as("c_nrm"), col("label").as("c_label"))
    val sim = dot(col("q_emb"), col("c_emb")) / (col("q_nrm") * col("c_nrm"))
    val hits = topKPerQuery(
      q.join(c, col("n_id") =!= col("q_id"))
        .select(col("q_id"), col("n_id"), sim.as("sim_exact")), Q217K)
      .join(broadcast(q.select(col("q_id"), col("q_label"))), Seq("q_id"))
      .join(broadcast(e.select(col("vec_id").as("n_id"),
                               col("label").as("c_label"))), Seq("n_id"))
      .select(col("q_id"), col("q_label"), col("rn"),
              (col("c_label") === col("q_label")).cast("long").as("rel"))
    val labelTotals = e.groupBy(col("label")).agg(count(lit(1)).as("n_label"))
    hits
      .groupBy(col("q_id"), col("q_label"))
      .agg(sum(col("rel")).as("n_rel_ret"),
           sum(col("rel").cast("double") /
               log2(col("rn").cast("double") + 1.0)).as("dcg_raw"))
      .join(broadcast(labelTotals.withColumnRenamed("label", "q_label")),
            Seq("q_label"))
      .withColumn("r_ideal",
        least(lit(Q217K.toLong), col("n_label") - 1L).cast("long"))
      // guard like ndcg below (ADVICE r10): at r_ideal = 0 (a query
      // whose label is unique) sequence(1, 0) is the DESCENDING
      // [1, 0] and the i=0 term divides by log2(1) = 0 → +Infinity;
      // the oracle's CASE yields 0.0 there, so compute only when
      // r_ideal ≥ 1
      .withColumn("idcg_raw", expr(
        """CASE WHEN r_ideal > 0 THEN
             aggregate(sequence(1, CAST(r_ideal AS INT)), CAST(0.0 AS DOUBLE),
               (acc, i) -> acc + 1.0 / log2(CAST(i AS DOUBLE) + 1.0))
           ELSE CAST(0.0 AS DOUBLE) END"""))
      .select(col("q_id"), col("n_rel_ret"), col("r_ideal"),
              round(col("dcg_raw"), 4).as("dcg"),
              round(col("idcg_raw"), 4).as("idcg"),
              when(col("r_ideal") > 0,
                   round(col("dcg_raw") / col("idcg_raw"), 4))
                .otherwise(lit(0.0)).as("ndcg"))
      .orderBy(col("q_id"))
  }

  /** DuckDB oracle for q217 — identical retrieval ranking, label
    * grading, log2 discounts, and ideal-DCG normalization. */
  def q217OracleSql: String =
    s"""WITH e AS (SELECT vec_id, embedding, label,
         sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)))
           AS nrm FROM embeddings),
       q AS (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm,
         label AS q_label FROM e WHERE vec_id < 8),
       sims AS (SELECT q_id, q_label, c.vec_id AS n_id, c.label AS c_label,
         list_sum(list_transform(list_zip(q_emb, c.embedding),
           p -> p[1]::DOUBLE * p[2]::DOUBLE)) / (q_nrm * c.nrm) AS sim_exact
         FROM q JOIN e c ON c.vec_id <> q_id),
       r AS (SELECT q_id, q_label, n_id, c_label,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY sim_exact DESC, n_id) AS rn FROM sims),
       h AS (SELECT q_id, q_label, rn,
         CASE WHEN c_label = q_label THEN 1 ELSE 0 END AS rel
         FROM r WHERE rn <= $Q217K),
       lt AS (SELECT label, count(*)::BIGINT AS n_label FROM e GROUP BY label),
       agg AS (SELECT q_id, q_label,
         sum(rel)::BIGINT AS n_rel_ret,
         sum(rel::DOUBLE / log2(rn::DOUBLE + 1.0)) AS dcg_raw
         FROM h GROUP BY q_id, q_label),
       f AS (SELECT q_id, n_rel_ret,
         least($Q217K::BIGINT, n_label - 1) AS r_ideal, dcg_raw,
         CASE WHEN least($Q217K::BIGINT, n_label - 1) > 0 THEN
           list_sum(list_transform(
             generate_series(1, (least($Q217K::BIGINT, n_label - 1))::INT),
             i -> 1.0 / log2(i::DOUBLE + 1.0)))
         ELSE 0.0 END AS idcg_raw
         FROM agg JOIN lt ON lt.label = agg.q_label)
       SELECT q_id, n_rel_ret, r_ideal,
         round(dcg_raw, 4) AS dcg, round(idcg_raw, 4) AS idcg,
         CASE WHEN r_ideal > 0 THEN round(dcg_raw / idcg_raw, 4)
              ELSE 0.0 END AS ndcg
       FROM f ORDER BY q_id"""

  /** q250 — SIMPLIFIED SILHOUETTE per IVF cell [silhouette: Kaufman
    * & Rousseeuw 1990; the centroid-based simplified form: Hruschka,
    * de Castro & Campello 2004 / the Vendramin-Campello-Hruschka
    * 2010 validity survey]: the clustering-quality audit that closes
    * the IVF triad — q128 says the cells are BALANCED, q125 says the
    * labels COHERE, q250 says the geometry SEPARATES. Per vector,
    * with the same learned centroids as q27 (C = 16, 2 Lloyd
    * iterations): a = cosine distance to its OWN centroid (the
    * argmax-sim cell), b = distance to the best OTHER centroid, and
    * s = (b − a) / max(a, b), which for cosine distances d = 1 − sim
    * collapses to (s1 − s2) / (1 − s2) with s1 ≥ s2 the top-2
    * centroid similarities. s ≈ 1 means the vector sits deep inside
    * its cell, s ≈ 0 on a cell boundary — the per-cell mean is the
    * standard read on whether an IVF coarse quantizer actually
    * carved structure (a low-silhouette cell is where q27's nprobe
    * recall loss concentrates). The exact per-vector silhouette
    * needs all pairwise distances (O(n²)); the simplified form is
    * the scale-standard surrogate and needs only the n×C similarity
    * matrix ALREADY computed by cell assignment.
    *
    * Determinism: s1, s2 are the same dot/norm arithmetic every
    * gated ANN query relies on matching DuckDB bit-for-bit; the
    * per-vector silhouette becomes the micro-int
    * floor(s·10⁶ + 0.5) (house idiom), so per-cell sums are exact
    * int64s and the emitted mean is one correctly-rounded division.
    *
    * Scale shape: one broadcast crossJoin of the corpus against the
    * C centroids (the q27 assignment pass), reduced by a map-side
    * partial collect of the per-vector top-2 struct — each group
    * carries at most C 16-byte structs and the partial combine keeps
    * the shuffle at O(n) rows; then one C-row aggregate. Nothing
    * quadratic, no window over the corpus. */
  def q250Silhouette(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"),
              l2norm(col("embedding")).as("nrm"))
    val cent = centroidsWithNorm(e)
    val sc = struct(
      (dotFD(col("embedding"), col("c_emb")) /
        (col("nrm") * col("c_nrm"))).as("csim"),
      (-col("c_id")).as("cneg"))
    val top2 = e.crossJoin(cent)
      .select(col("vec_id"), sc.as("sc"))
      .groupBy(col("vec_id"))
      .agg(slice(sort_array(collect_list(col("sc")), asc = false), 1, 2)
             .as("t"))
      .select((-col("t")(0)("cneg")).as("cell"),
              col("t")(0)("csim").as("s1"),
              col("t")(1)("csim").as("s2"))
    val sil = when(col("s2") >= 1.0d, lit(0.0d))
      .otherwise((col("s1") - col("s2")) / (lit(1.0d) - col("s2")))
    top2
      .select(col("cell"),
              floor(sil * lit(1000000.0d) + lit(0.5d)).cast("long")
                .as("sil_micro"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"), sum(col("sil_micro")).as("sm"))
      .select(col("cell"), col("n"),
              round(col("sm").cast("double") / col("n") / lit(1000000.0d), 6)
                .as("mean_sil"))
      .orderBy(col("cell"))
  }

  /** DuckDB oracle for q250 — [[ivfLearnAssignCtes]]'s asg0 holds
    * the full n×C similarity matrix; top-2 via row_number with the
    * identical (csim DESC, c_id) tie-break, then the same micro-int
    * fold and per-cell mean. */
  def q250OracleSql: String =
    s"""WITH ${ivfLearnAssignCtes()},
       r AS (SELECT vec_id, c_id, csim,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY csim DESC, c_id) AS rn
         FROM asg0),
       pv AS (SELECT a.vec_id, a.c_id AS cell, a.csim AS s1,
                b.csim AS s2
         FROM r a JOIN r b ON a.vec_id = b.vec_id
         WHERE a.rn = 1 AND b.rn = 2),
       sm AS (SELECT cell,
           CAST(floor((CASE WHEN s2 >= 1.0 THEN 0.0
                            ELSE (s1 - s2) / (1.0 - s2) END)
                      * 1000000.0 + 0.5) AS BIGINT) AS sil_micro
         FROM pv)
       SELECT cell, count(*)::BIGINT AS n,
         round(sum(sil_micro)::DOUBLE / count(*) / 1000000.0, 6)
           AS mean_sil
       FROM sm GROUP BY cell ORDER BY cell"""
}
