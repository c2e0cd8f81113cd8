package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Skew-tolerant equi-join via key salting: the classic remedy when a
  * handful of hot keys would pin a shuffle join's tasks to a few
  * reducers and AQE's skew splitting isn't available (e.g. the build
  * side must stay shuffled, or a deterministic plan is required).
  *
  * The skewed (fact) side gets a uniform random-ish salt derived from
  * a row fingerprint; the dim side is EXPLODED once per salt value,
  * so `(key, salt)` joins land each hot key on `salt` reducers
  * instead of one. Replication multiplies the dim side by
  * `saltBuckets` — size it so dim × buckets stays far below the fact
  * side (the usual regime: dims of millions, facts of billions).
  */
object SkewJoin {

  /** Inner equi-join of `fact` and `dim` on `key`, salted into
    * `saltBuckets` reducers per key. Column sets are preserved
    * (internal salt columns are dropped).
    *
    * `uniquenessCol` names a fact column that distinguishes rows
    * (an event id, a line number — or `monotonically_increasing_id`
    * attached by a caller that tolerates non-determinism): its hash
    * drives the salt, so even CONTENT-IDENTICAL rows of a whale key
    * spread across buckets. Without it the salt falls back to a
    * whole-row content hash — deterministic, but DEGENERATE when a
    * whale key's rows are also value-identical (common after a
    * narrow projection: `(key, constant_flag)` rows all hash alike
    * and still pin ONE reducer — VERDICT r12 #4). Callers joining a
    * projected fact should pass a row id. */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String,
                 saltBuckets: Int = 8,
                 uniquenessCol: Option[String] = None): DataFrame = {
    require(saltBuckets > 0)
    // deterministic per-row spread: hash of the caller's row id when
    // given, else of the whole fact row (see caveat above); rand()
    // would also spread but breaks plan determinism for testing
    val salt = pmod(
      xxhash64(uniquenessCol.map(u => struct(col(u))).getOrElse(
        struct(fact.columns.toIndexedSeq.map(col): _*))),
      lit(saltBuckets))
    val saltedFact = fact.withColumn("__salt", salt)
    val saltedDim = dim.withColumn("__salt",
      explode(sequence(lit(0), lit(saltBuckets - 1)).cast("array<bigint>")))
    saltedFact.join(saltedDim,
        saltedFact(key) === saltedDim(key) &&
        saltedFact("__salt") === saltedDim("__salt"))
      .drop(saltedDim(key)).drop("__salt")
  }

  private val Q232SaltBuckets = 8

  /** q232 — the salted skew join as a GATED query (VERDICT r11 #2 —
    * [[saltedJoin]] was the one SURVEY §8 capability verified only by
    * spec): lineitem is given a PLANTED hot key — three quarters of
    * the fact rows collapse onto supplier 1 (`l_orderkey % 4 ≠ 0 →
    * key 1`), the rest keep their real supplier — and joined to the
    * supplier dimension through the salted path, so the whale key
    * spreads over `saltBuckets` reducers instead of pinning one.
    * Salting is result-invariant by construction (`(key, salt)`
    * matches exactly the `key` matches, each fact row carrying one
    * salt and the dim side all of them), so the DuckDB oracle is the
    * PLAIN join — the gate proves the salted plan computes the
    * unsalted answer on planted skew.
    *
    * Revenue aggregates in integer CENTS (`floor(price·(1−disc)·100)`
    * per row, then a long sum): the whale group folds ~45k doubles at
    * sf0.01, where a float sum's value depends on partitioning — the
    * integer sum is layout-independent and replays exactly.
    *
    * Scale: the fact side is touched once, map-side, to attach
    * (hot_key, cents, row_uid, __salt); the only shuffle is the
    * (key, salt) join against the dim side replicated `saltBuckets`×
    * — dim × buckets stays millions of rows against a fact of
    * billions. The aggregate after the join combines map-side. The
    * salt rides the PRODUCTION uniqueness-column path (row id =
    * hash of the lineitem PK), so the spread survives even if the
    * projected (hot_key, cents) rows were value-identical — the
    * content-hash fallback's documented degeneracy (VERDICT r12
    * #4, pinned by SkewStressSpec's identical-row whale). */
  def q232SaltedSkewJoin(s: SparkSession, dir: String): DataFrame = {
    val fact = Tables.lineitem(s, dir)
      .select(
        when(pmod(col("l_orderkey"), lit(4L)) =!= 0L, lit(1L))
          .otherwise(col("l_suppkey")).as("hot_key"),
        floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100.0)
          .cast("long").as("cents"),
        xxhash64(col("l_orderkey"), col("l_linenumber")).as("row_uid"))
    val dim = Tables.supplier(s, dir)
      .select(col("s_suppkey").as("hot_key"), col("s_nationkey"))
    saltedJoin(fact, dim, "hot_key", Q232SaltBuckets,
               uniquenessCol = Some("row_uid"))
      .groupBy(col("hot_key"), col("s_nationkey"))
      .agg(count(lit(1)).as("n_items"), sum(col("cents")).as("revenue_cents"))
      .orderBy(col("hot_key"))
  }

  /** DuckDB oracle for q232 — the PLAIN (unsalted) join: salting is
    * result-invariant, which is exactly what this gate proves. */
  def q232OracleSql: String =
    """WITH fact AS (SELECT
         CASE WHEN l_orderkey % 4 <> 0 THEN 1 ELSE l_suppkey END AS hot_key,
         CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS cents
       FROM lineitem)
       SELECT f.hot_key, s.s_nationkey, count(*)::BIGINT AS n_items,
         sum(f.cents)::BIGINT AS revenue_cents
       FROM fact f JOIN supplier s ON s.s_suppkey = f.hot_key
       GROUP BY f.hot_key, s.s_nationkey
       ORDER BY f.hot_key"""
}
