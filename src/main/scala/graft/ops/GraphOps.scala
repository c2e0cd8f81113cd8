package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.Tables
import graft.functions.VectorFunctions.bottomK

/** Iterative graph computation over the events click graph — the
  * operator class (alongside Dedup.connectedComponents) that a
  * DataFrame engine expresses as a fixed number of join+aggregate
  * rounds, each one shuffle on the destination key.
  */
object GraphOps {

  /** Bidirectional user↔item click edge list (shared by q82/q99). */
  private def clickEdges(s: SparkSession, dir: String): DataFrame = {
    val clicks = Tables.events(s, dir)
      .filter(col("event_type") === "click")
      .select(col("user_id"),
              get_json_object(col("props"), "$.k").cast("long").as("k"))
      .distinct()
    clicks
      .select(concat(lit("u"), col("user_id")).as("src"),
              concat(lit("i"), col("k")).as("dst"))
      .unionByName(clicks
        .select(concat(lit("i"), col("k")).as("src"),
                concat(lit("u"), col("user_id")).as("dst")))
  }

  /** Fixed-point rounds of q82, q99, q126 and q209. */
  private val Iters = 3

  /** q82 — fixed-point PageRank over the user↔item click graph,
    * integer micro-arithmetic, persisted edges across rounds. It runs
    * in 64-bit FIXED-POINT arithmetic (nodes = users ∪ items from
    * `events.props.k`, edges both directions so every node has
    * out-degree ≥ 1 and no rank dangles). Ranks live as micro-ints:
    * r₀ = 1,000,000 per node, and each of the `iters` rounds computes
    *   r' = 150000 + (850 · Σ_incoming (r div out_deg)) div 1000
    * — damping 0.85 as the rational 850/1000, every operation an
    * integer `div`/`+`/`×`. A float PageRank's per-node sum depends
    * on partition-dependent accumulation order; integer sums are
    * associative-exact under ANY partitioning, which is what lets a
    * DuckDB oracle replay all three unrolled rounds bit-for-bit
    * ([[q82OracleSql]]).
    *
    * Scale shape: the classic DataFrame PageRank — edges and
    * (edge ⋈ out-degree) are computed once and persisted; each round
    * is one hash join of the rank vector against the edge list plus
    * one partial+final aggregation on dst (rank rows are 2 columns,
    * so the shuffle carries the minimum possible bytes). Iteration
    * count is fixed, so the plan is a finite unrolled DAG — no
    * driver-side convergence loop, no collect. At 100 TB the edge
    * list would be bucketed by src so the per-round join is
    * co-located; the rank vector reshuffles each round regardless
    * (it is the data that changes). */
  def q82PageRank(s: SparkSession, dir: String, iters: Int = Iters): DataFrame = {
    val edges = clickEdges(s, dir)
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
    // (src, dst, src-out-degree): joined once, reused every round
    val ed = edges.join(deg, "src")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var ranks = deg.select(col("src").as("node"), lit(1000000L).as("r"))
    for (_ <- 1 to iters) {
      ranks = ed
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .select(col("dst"), expr("r div d").as("contrib"))
        .groupBy(col("dst"))
        .agg(sum(col("contrib")).as("in_sum"))
        .select(col("dst").as("node"),
                (lit(150000L) + expr("(850 * in_sum) div 1000")).as("r"))
    }
    ranks.select(col("node"), col("r").as("rank_micro"))
      .orderBy(col("node"))
  }

  /** DuckDB oracle for q82 — the same fixed-point rounds unrolled
    * into CTEs; HUGEINT-widening sums are cast back to BIGINT so the
    * value representation matches Spark's longs (the q63 lesson). */
  def q82OracleSql: String = {
    val rounds = (1 to Iters).map { i =>
      s"""r$i AS (SELECT dst AS node,
           CAST(150000 + (850 * sum(r // d)) // 1000 AS BIGINT) AS r
           FROM ed JOIN r${i - 1} ON r${i - 1}.node = ed.src
           GROUP BY dst)"""
    }.mkString(",\n         ")
    s"""WITH clicks AS (SELECT DISTINCT user_id,
           CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k
           FROM events WHERE event_type = 'click'),
         edges AS (SELECT 'u' || user_id AS src, 'i' || k AS dst FROM clicks
                   UNION ALL
                   SELECT 'i' || k, 'u' || user_id FROM clicks),
         deg AS (SELECT src, count(*)::BIGINT AS d FROM edges GROUP BY src),
         ed AS (SELECT e.src, e.dst, d.d FROM edges e JOIN deg d USING (src)),
         r0 AS (SELECT src AS node, 1000000::BIGINT AS r FROM deg),
         $rounds
         SELECT node, r AS rank_micro FROM r$Iters ORDER BY node"""
  }

  /** q99 — synchronized label propagation (community detection) over
    * the click graph: every node starts labeled with itself; each
    * round, a node adopts the most frequent label among its neighbors,
    * ties broken by smallest label — a TOTAL deterministic update
    * rule, unlike classic async LP whose result depends on visit
    * order. A fixed number of rounds keeps the plan a finite unrolled
    * DAG that a DuckDB oracle replays exactly.
    *
    * Scale shape: per round, one hash join (edges ⋈ labels on src) +
    * one partial-aggregated count on (dst, label) + one per-dst
    * window over label-count rows (partition size = a node's distinct
    * neighbor labels, shrinking every round). Same bucketable-by-src
    * posture as q82. */
  def q99LabelProp(s: SparkSession, dir: String, iters: Int = Iters): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val edges = clickEdges(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
    val w = Window.partitionBy(col("dst"))
      .orderBy(col("cnt").desc, col("label").asc)
    for (_ <- 1 to iters) {
      labels = edges
        .join(labels.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("dst").as("node"), col("label"))
    }
    // edges stays persisted for the query's lifetime; the harness
    // clears caches between queries (Bench/Verify clearCache), same
    // as the other persisted lineages (q24, q74, q97)
    labels.orderBy(col("node"))
  }

  /** DuckDB oracle for q99 — the same synchronized rounds unrolled. */
  def q99OracleSql: String = {
    val rounds = (1 to Iters).map { i =>
      s"""c$i AS (SELECT e.dst, l.label, count(*)::BIGINT AS cnt
           FROM edges e JOIN l${i - 1} l ON l.node = e.src
           GROUP BY 1, 2),
         l$i AS (SELECT dst AS node, label FROM (
           SELECT dst, label,
             row_number() OVER (PARTITION BY dst
               ORDER BY cnt DESC, label) AS rn FROM c$i) WHERE rn = 1)"""
    }.mkString(",\n         ")
    s"""WITH clicks AS (SELECT DISTINCT user_id,
           CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k
           FROM events WHERE event_type = 'click'),
         edges AS (SELECT 'u' || user_id AS src, 'i' || k AS dst FROM clicks
                   UNION ALL
                   SELECT 'i' || k, 'u' || user_id FROM clicks),
         l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
         $rounds
         SELECT node, label FROM l$Iters ORDER BY node"""
  }

  /** The weighted-PageRank fold shared by q126 (click graph) and
    * q241 (TextRank word graph): `edges` is the DIRECTED (src, dst,
    * w) frame — callers union both directions for undirected
    * graphs — and ranks run `iters` rounds of the integer-micro
    * recipe r ← 150000 + 850·Σ_in(r·w div sw) div 1000 from
    * r₀ = 1e6, over the PERSISTED out-weight-joined edge frame:
    * constant plan size per round (both callers sit in
    * PlanAuditSpec's linear-growth guardrail). Returns (node, r). */
  private[ops] def weightedPageRank(edges: DataFrame, iters: Int): DataFrame = {
    val sw = edges.groupBy(col("src")).agg(sum(col("w")).cast("long").as("sw"))
    val ed = edges.join(sw, "src")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var ranks = sw.select(col("src").as("node"), lit(1000000L).as("r"))
    for (_ <- 1 to iters) {
      ranks = ed
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .select(col("dst"), expr("(r * w) div sw").as("contrib"))
        .groupBy(col("dst"))
        .agg(sum(col("contrib")).as("in_sum"))
        .select(col("dst").as("node"),
                (lit(150000L) + expr("(850 * in_sum) div 1000")).as("r"))
    }
    ranks
  }

  /** The unrolled SQL rounds matching [[weightedPageRank]], shared by
    * the q126/q241 oracles (both expect CTEs `ed(src, dst, w, sw)`
    * and `r0(node, r)` upstream). */
  private[ops] def weightedPageRankRoundsSql(iters: Int): String =
    (1 to iters).map { i =>
      s"""r$i AS (SELECT dst AS node,
           CAST(150000 + (850 * sum((r * w) // sw)) // 1000 AS BIGINT) AS r
           FROM ed JOIN r${i - 1} ON r${i - 1}.node = ed.src
           GROUP BY dst)"""
    }.mkString(",\n         ")

  /** q126 — WEIGHTED fixed-point PageRank: q82 with edge weights =
    * click multiplicity (how many times the user clicked the item),
    * so heavy engagement carries proportionally more rank —
    * contrib = (r·w) div Σw instead of r div deg. Same integer
    * micro-rank arithmetic, same unrolled-rounds plan shape, same
    * oracle replayability; only the edge frame gains a weight
    * column (one extra long through the per-round shuffle). */
  def q126WeightedPageRank(s: SparkSession, dir: String,
                           iters: Int = Iters): DataFrame = {
    val clicks = Tables.events(s, dir)
      .filter(col("event_type") === "click")
      .select(col("user_id"),
              get_json_object(col("props"), "$.k").cast("long").as("k"))
    val wClicks = clicks.groupBy(col("user_id"), col("k"))
      .agg(count(lit(1)).as("w"))
    val edges = wClicks
      .select(concat(lit("u"), col("user_id")).as("src"),
              concat(lit("i"), col("k")).as("dst"), col("w"))
      .unionByName(wClicks
        .select(concat(lit("i"), col("k")).as("src"),
                concat(lit("u"), col("user_id")).as("dst"), col("w")))
    weightedPageRank(edges, iters)
      .select(col("node"), col("r").as("rank_micro"))
      .orderBy(col("node"))
  }

  /** DuckDB oracle for q126 — the weighted rounds unrolled. */
  def q126OracleSql: String = {
    val rounds = weightedPageRankRoundsSql(Iters)
    s"""WITH wc AS (SELECT user_id,
           CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k,
           count(*)::BIGINT AS w
           FROM events WHERE event_type = 'click' GROUP BY 1, 2),
         edges AS (SELECT 'u' || user_id AS src, 'i' || k AS dst, w FROM wc
                   UNION ALL
                   SELECT 'i' || k, 'u' || user_id, w FROM wc),
         sw AS (SELECT src, CAST(sum(w) AS BIGINT) AS sw FROM edges
                GROUP BY src),
         ed AS (SELECT e.src, e.dst, e.w, s.sw FROM edges e
                JOIN sw s USING (src)),
         r0 AS (SELECT src AS node, 1000000::BIGINT AS r FROM sw),
         $rounds
         SELECT node, r AS rank_micro FROM r$Iters ORDER BY node"""
  }

  /** q116 — triangle counting on the item co-click projection: items
    * are adjacent iff some user clicked both (the bipartite graph
    * projected onto items), and each item reports how many triangles
    * it participates in — the local clustering signal recommender
    * pipelines compute. The click graph itself is bipartite
    * (triangle-free by construction), so the projection is where
    * clique structure lives.
    *
    * Scale shape: the standard oriented enumeration — every edge is
    * kept once as (a < b), wedges come from one self-join on the
    * middle vertex, and the closing edge check is a second hash
    * join, so each triangle is found exactly once as a < b < c (no
    * 6× duplication, no orientation fix-up). The projection join is
    * user-keyed; at real scale hot users (who click everything)
    * would be capped before pairing — the q23 maxBlock move. */
  def q116Triangles(s: SparkSession, dir: String): DataFrame = {
    val clicks = Tables.events(s, dir)
      .filter(col("event_type") === "click")
      .select(col("user_id"),
              get_json_object(col("props"), "$.k").cast("long").as("k"))
      .distinct()
    val e = clicks.toDF("user_id", "a")
      .join(clicks.toDF("user_id", "b"), Seq("user_id"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
    val wedges = e.toDF("a", "b")
      .join(e.toDF("b", "c"), Seq("b"))
    val tris = wedges
      .join(e.toDF("a", "c"), Seq("a", "c"))
      .select(col("a"), col("b"), col("c"))
    tris
      .select(explode(array(col("a"), col("b"), col("c"))).as("item"))
      .groupBy(col("item"))
      .agg(count(lit(1)).as("n_triangles"))
      .orderBy(col("item"))
  }

  /** DuckDB oracle for q116 — the same oriented enumeration. */
  def q116OracleSql: String =
    s"""WITH c AS (SELECT DISTINCT user_id,
           CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k
           FROM events WHERE event_type = 'click'),
       e AS (SELECT DISTINCT x.k AS a, y.k AS b
             FROM c x JOIN c y ON x.user_id = y.user_id AND x.k < y.k),
       t AS (SELECT e1.a, e1.b, e2.b AS c2
             FROM e e1
             JOIN e e2 ON e2.a = e1.b
             JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
       u AS (SELECT a AS item FROM t
             UNION ALL SELECT b FROM t
             UNION ALL SELECT c2 FROM t)
       SELECT item, count(*) AS n_triangles FROM u
       GROUP BY item ORDER BY item"""
  private val Q157Seed = 0L
  private val Q157MaxHops = 4

  /** q157 — bounded k-hop BFS (reachability with distance) over the
    * DIRECTED click-transition graph: an edge a→b for every pair of
    * consecutive clicks per user (by time, event_id tiebreak). From
    * the seed item 0, each hop is one frontier⋈edges hash join + a
    * min-distance aggregate against the visited set — the Pregel /
    * GraphX message pattern expressed as plain DataFrame joins, with
    * an eager lineage cut per hop ([[Checkpoints.cut]] —
    * localCheckpoint, or durable checkpoint() under
    * spark.graft.checkpointDir; the q60/q82 iterative-plan move).
    * Hop count is bounded (≤ 4),
    * so the plan is 4 joins, not a convergence loop.
    *
    * Scale shape: the edge list is computed once (one window pass
    * over clicks) and persisted; frontiers shrink monotonically
    * (visited-set anti-join), and every join is keyed on the item id
    * — at warehouse scale the edge frame would be bucketed by src so
    * every hop is a co-located join. */
  def q157KHopBfs(s: SparkSession, dir: String, seed: Long = Q157Seed,
                  maxHops: Int = Q157MaxHops): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val clicks = Tables.events(s, dir)
      .filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"),
              get_json_object(col("props"), "$.k").cast("long").as("k"))
    val edges = clicks
      .withColumn("nxt", lead(col("k"), 1).over(w))
      .filter(col("nxt").isNotNull && col("nxt") =!= col("k"))
      .select(col("k").as("src"), col("nxt").as("dst"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Only the per-hop FRONTIER is lineage-cut: `visited` is a union
    // of already-cut frames (≤ maxHops+1 of them), so its plan stays
    // flat without its own materialization — cutting it too doubled
    // the per-hop job count for no lineage benefit. (The r9 audit
    // also tried the fully-declarative no-cut form, counting on AQE
    // stage reuse to dedup the repeated frontier subtrees — measured
    // SLOWER at sf0.1: reuse does not fire across the hop-chained
    // broadcast joins, so each hop recomputed its predecessors.)
    // frontier and visited are reachability sets (≤ |items|, always
    // orders below the edge list): broadcast them EXPLICITLY so each
    // hop is one map-side probe of the persisted edges + a small
    // distinct, never a shuffle of the edge frame.
    val seedF = s.range(1).select(lit(seed).as("item"), lit(0L).as("dist"))
      .transform(Checkpoints.cut)
    var visited = seedF
    var frontier = seedF.select(col("item"))
    var hop = 1
    while (hop <= maxHops) {
      val next = edges.join(broadcast(frontier),
          frontier("item") === edges("src"))
        .select(col("dst").as("item")).distinct()
        .join(broadcast(visited.select(col("item"))), Seq("item"), "left_anti")
        .select(col("item"), lit(hop.toLong).as("dist"))
        .transform(Checkpoints.cut)
      visited = visited.unionByName(next)
      frontier = next.select(col("item"))
      hop += 1
    }
    val out = visited.orderBy(col("item"))
    edges.unpersist()
    out
  }

  /** DuckDB oracle for q157 — recursive CTE with the hop bound; the
    * UNION ALL path expansion is collapsed to min(dist) per node. */
  def q157OracleSql: String =
    s"""WITH RECURSIVE c AS (SELECT user_id, ts, event_id,
           CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k
           FROM events WHERE event_type = 'click'),
       o AS (SELECT user_id, k,
           lead(k, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
           FROM c),
       e AS (SELECT DISTINCT k AS src, nxt AS dst FROM o
             WHERE nxt IS NOT NULL AND nxt <> k),
       bfs AS (
         SELECT CAST($Q157Seed AS BIGINT) AS item, 0 AS dist
         UNION ALL
         SELECT e.dst, bfs.dist + 1 FROM bfs JOIN e ON e.src = bfs.item
         WHERE bfs.dist < $Q157MaxHops)
       SELECT item, CAST(min(dist) AS BIGINT) AS dist
       FROM bfs GROUP BY item ORDER BY item"""

  /** q209 — HITS hubs & authorities [Kleinberg, JACM 1999] over the
    * DIRECTED user→item click graph (the bipartite case where HITS
    * is most natural: hub users whose clicks concentrate on
    * authoritative items). The mutual-reinforcement rounds run in
    * exact integer arithmetic by normalizing with the L∞ norm
    * instead of L2: after each half-step every score rescales to
    * score·1e6 div max(score) — a 1-row broadcast max and an integer
    * division, no float sqrt anywhere, so the DuckDB oracle replays
    * all rounds bit-for-bit (the q82 fixed-point discipline; L∞ and
    * L2 normalization converge to the same principal-eigenvector
    * RANKING, which is the quantity HITS exists to produce).
    *
    * Scale shape: per round, two hash joins of the score vectors
    * against the persisted edge list and two keyed aggregations —
    * the q82 posture exactly; the normalizing max is a 1-row scalar
    * aggregate folded into the rescale as a literal (the q16
    * two-phase pattern — one value, never data, reaches the
    * driver). Each half-step's aggregate
    * frame is lineage-cut (Checkpoints.cut) BEFORE renorm reads it
    * twice (the max and the rescale join): without the cut the
    * physical plan doubles per half-step, 2^(2·iters) subtree
    * replication (VERDICT r9 #1 — 135.8 s at sf0.1). With it every
    * round's plan is constant-depth over a materialized leaf. The
    * last hub and auth cuts stay alive (the returned frame reads
    * them); older generations are released as the loop advances. */
  def q209Hits(s: SparkSession, dir: String, iters: Int = Iters): DataFrame = {
    val e = Tables.events(s, dir)
      .filter(col("event_type") === "click")
      .select(col("user_id").as("u"),
              get_json_object(col("props"), "$.k").cast("long").as("i"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Keep the two newest cuts (final hubs + final auth feed the
    // returned union); release anything older — localCheckpoint
    // blocks have no lineage to recompute from, so a too-eager
    // release would corrupt the result.
    var newest: DataFrame = null
    var second: DataFrame = null
    def renorm(df: DataFrame, key: String, sc: String): DataFrame = {
      // scalar renorm (r15): the max over the cut frame folds into
      // the rescale projection as a LITERAL (q16's two-phase scalar
      // pattern) instead of a crossJoin(broadcast(mx)) — six 1-row
      // BroadcastExchange builds and their collect round-trips gone;
      // identical arithmetic (same max, same integer div). A/B
      // 1.63 → 1.38 s. (A lazy cut fused with the max job was ALSO
      // tried — 2.02 s, REJECTED: materializing checkpoint blocks
      // inside the aggregating job costs more than the job it saves.)
      val cutd = Checkpoints.cut(df)
      if (second != null) Checkpoints.release(second)
      second = newest; newest = cutd
      require(cutd.schema(sc).dataType == LongType,
              s"q209 renorm needs a long $sc, got ${cutd.schema(sc).dataType}")
      val row = cutd.agg(max(col(sc))).first()
      if (row.isNullAt(0)) // empty frame: div null = null, as before
        cutd.select(col(key), lit(null).cast("long").as(sc))
      else
        cutd.select(col(key), call_function("div", col(sc) * lit(1000000L),
                                            lit(row.getLong(0))).as(sc))
    }
    var hubs = e.select(col("u")).distinct()
      .select(col("u"), lit(1000000L).as("h"))
    var auth: DataFrame = null
    for (_ <- 1 to iters) {
      auth = renorm(
        e.join(hubs, Seq("u")).groupBy(col("i")).agg(sum(col("h")).as("a")),
        "i", "a")
      hubs = renorm(
        e.join(auth, Seq("i")).groupBy(col("u")).agg(sum(col("a")).as("h")),
        "u", "h")
    }
    e.unpersist(blocking = false) // final frames read only the cuts
    hubs.select(concat(lit("u"), col("u")).as("node"), lit("hub").as("kind"),
                col("h").as("score_micro"))
      .unionByName(
        auth.select(concat(lit("i"), col("i")).as("node"),
                    lit("authority").as("kind"), col("a").as("score_micro")))
      .orderBy(col("kind"), col("node"))
  }

  /** DuckDB oracle for q209 — identical unrolled half-steps with the
    * L∞ rescale as a scalar subquery per round. */
  def q209OracleSql: String = {
    val rounds = (1 to Iters).map { i =>
      s"""a${i}r AS (SELECT e.i, CAST(sum(h) AS BIGINT) AS a
           FROM e JOIN h${i - 1} USING (u) GROUP BY e.i),
         a$i AS (SELECT i, CAST(a * 1000000 // (SELECT max(a) FROM a${i}r)
           AS BIGINT) AS a FROM a${i}r),
         h${i}r AS (SELECT e.u, CAST(sum(a) AS BIGINT) AS h
           FROM e JOIN a$i USING (i) GROUP BY e.u),
         h$i AS (SELECT u, CAST(h * 1000000 // (SELECT max(h) FROM h${i}r)
           AS BIGINT) AS h FROM h${i}r)"""
    }.mkString(",\n         ")
    s"""WITH e AS (SELECT DISTINCT user_id AS u,
           CAST(json_extract_string(props, '$$.k') AS BIGINT) AS i
           FROM events WHERE event_type = 'click'),
         h0 AS (SELECT DISTINCT u, 1000000::BIGINT AS h FROM e),
         $rounds
         SELECT 'u' || u AS node, 'hub' AS kind, h AS score_micro FROM h$Iters
         UNION ALL
         SELECT 'i' || i, 'authority', a FROM a$Iters
         ORDER BY kind, node"""
  }

  private val Q215K = 3
  private val Q215Rounds = 4

  /** q215 — k-CORE PEELING CURVE [Seidman, Social Networks 1983;
    * Batagelj & Zaveršnik 2003]: synchronous peeling rounds toward
    * the k = 3 core of the undirected user↔item click graph. Each
    * round drops every node whose current degree is < k and every
    * edge touching a dropped node; the emitted curve — (round,
    * surviving nodes, surviving directed edges) — is the standard
    * audit of how fast a graph's periphery sheds (a pure-integer,
    * engine-replayable quantity). A node that keeps its degree but
    * loses all neighbors disappears with its edges; "surviving
    * nodes" counts nodes with ≥ 1 surviving edge (the only
    * edge-derivable definition, identical in both engines).
    *
    * Scale shape: each round is one degree aggregation plus a
    * two-sided semi-join of the edge list against the keep set —
    * all keyed on node ids, the connected-components posture. The
    * carried edge frame is lineage-cut EVERY round (the q209/q60
    * discipline, enforced by PlanAuditSpec's linear-growth
    * guardrail); the final plan unions per-round 1-row aggregates
    * over the cut leaves, so no round is ever recomputed. All
    * round cuts stay alive until the caller's action — they are
    * exactly what the output reads (the q157 hop pattern). */
  def q215KCore(s: SparkSession, dir: String, k: Int = Q215K,
                rounds: Int = Q215Rounds): DataFrame = {
    var edges = Checkpoints.cut(clickEdges(s, dir))
    val stats = (1 to rounds).map { r =>
      val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
      val keep = deg.filter(col("d") >= k).select(col("src").as("node"))
      edges = Checkpoints.cut(
        edges
          .join(keep.withColumnRenamed("node", "src"), Seq("src"), "left_semi")
          .join(keep.withColumnRenamed("node", "dst"), Seq("dst"), "left_semi")
          .select(col("src"), col("dst")))
      edges.agg(countDistinct(col("src")).as("n_nodes"),
                count(lit(1)).as("n_edges"))
        .select(lit(r.toLong).as("round"), col("n_nodes"), col("n_edges"))
    }
    stats.reduce(_ unionByName _).orderBy(col("round"))
  }

  /** DuckDB oracle for q215 — identical unrolled peel rounds. */
  def q215OracleSql: String = {
    val cte = (1 to Q215Rounds).map { r =>
      s"""d$r AS (SELECT src, count(*) AS d FROM e${r - 1} GROUP BY src),
         k$r AS (SELECT src AS node FROM d$r WHERE d >= $Q215K),
         e$r AS (SELECT e.src, e.dst FROM e${r - 1} e
           JOIN k$r a ON e.src = a.node JOIN k$r b ON e.dst = b.node)"""
    }.mkString(",\n         ")
    val rows = (1 to Q215Rounds).map { r =>
      s"""SELECT $r::BIGINT AS round,
           count(DISTINCT src)::BIGINT AS n_nodes,
           count(*)::BIGINT AS n_edges FROM e$r"""
    }.mkString("\n         UNION ALL ")
    s"""WITH c AS (SELECT DISTINCT user_id AS u,
           CAST(json_extract_string(props, '$$.k') AS BIGINT) AS i
           FROM events WHERE event_type = 'click'),
         e0 AS (SELECT 'u' || u AS src, 'i' || i AS dst FROM c
                UNION ALL SELECT 'i' || i, 'u' || u FROM c),
         $cte
         $rows
         ORDER BY round"""
  }

  /** q222 — CLUSTER-STABILITY audit via the RAND INDEX [Rand, JASA
    * 1971]: how much does the label-propagation community structure
    * (q99) move between round 2 and round 3? Both labelings come
    * from ONE unrolled run (the carried frame after each round), the
    * contingency table is a keyed count over the joined labelings,
    * and the Rand index — agreeing pairs / all pairs — is evaluated
    * in exact integer arithmetic from the pair-count identity
    * R = (C(n,2) + 2·Σ C(n_ij,2) − Σ C(a_i,2) − Σ C(b_j,2)) / C(n,2).
    * An index near 1e6 says the communities have converged; a low
    * value says more rounds are buying real movement — the
    * stopping-criterion audit an iterative clustering job logs.
    *
    * Scale shape: the label rounds are q99's join+agg+window chain
    * over the persisted edge list; the contingency is one aggregation
    * on (label_a, label_b) — bounded by cluster-pair count, not
    * nodes; the three C(·,2) sums are tiny rollups broadcast-crossed
    * into the single audit row. Integer bound: every C(·,2) term AND
    * the ×1e6 numerator run in decimal — Spark's `div` always
    * returns BIGINT (ADVICE r11: the earlier "DECIMAL(38,0) div"
    * recipe silently dropped back to int64 before the multiply and
    * overflowed at ~4.2e6 nodes), so the pair counts are kept as
    * exact DECIMAL(38,6) values (`/ 2` of an even decimal product —
    * never `div`) all the way into the final decimal `div`, whose
    * LONG quotient is ≤ 1e6 by construction. Headroom: the scale-6
    * decimal holds C(n,2)·1e6 to ~1e32, i.e. ~1e13 nodes — measured
    * by [[graft.GraphOpsSpec]]'s large-n pin at n = 2e10, past both
    * the old wrap point and int64 itself. */
  def q222RandStability(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val edges = clickEdges(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
    val w = Window.partitionBy(col("dst"))
      .orderBy(col("cnt").desc, col("label").asc)
    var at2: DataFrame = null
    for (i <- 1 to 3) {
      labels = edges
        .join(labels.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("dst").as("node"), col("label"))
      if (i == 2) at2 = labels.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    val joined = at2.toDF("node", "la")
      .join(labels.toDF("node", "lb"), Seq("node"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // decimal C(c,2), not `div`: Spark's div ALWAYS returns BIGINT
    // (even on decimal operands), so `/ 2` of the decimal product —
    // exact, c·(c−1) is even — is the only way these sums keep
    // decimal38 headroom instead of silently narrowing to int64
    val cPairs = expr("sum(CAST(c AS DECIMAL(38,0)) * (c - 1) / 2)")
    val nij = joined.groupBy(col("la"), col("lb")).agg(count(lit(1)).as("c"))
      .agg(cPairs.as("s_both"))
    val ai = joined.groupBy(col("la")).agg(count(lit(1)).as("c"))
      .agg(cPairs.as("s_a"), count(lit(1)).as("k_a"))
    val bj = joined.groupBy(col("lb")).agg(count(lit(1)).as("c"))
      .agg(cPairs.as("s_b"), count(lit(1)).as("k_b"))
    joined.agg(count(lit(1)).as("n_nodes"))
      .crossJoin(broadcast(nij))
      .crossJoin(broadcast(ai))
      .crossJoin(broadcast(bj))
      .select(col("n_nodes"), col("k_a").as("clusters_r2"),
              col("k_b").as("clusters_r3"),
              expr(RandMicroSql).as("rand_micro"))
  }

  /** The q222 Rand-micro expression over columns (n_nodes BIGINT,
    * s_both/s_a/s_b DECIMAL pair counts): decimal end to end until
    * the final integral `div`, whose quotient ≤ 1e6 always fits the
    * LONG it returns. Factored out so the large-n overflow pin in
    * GraphOpsSpec evaluates EXACTLY the shipped expression. The
    * numerator (= agreeing pairs) is non-negative, so Spark's
    * truncate-toward-zero `div` and DuckDB's floor `//` agree. */
  private[graft] val RandMicroSql: String =
    """CASE WHEN n_nodes < 2 THEN 1000000L ELSE
      CAST((CAST(n_nodes AS DECIMAL(38,0)) * (n_nodes - 1) / 2
            + 2 * s_both - s_a - s_b)
        * 1000000 div (CAST(n_nodes AS DECIMAL(38,0))
                       * (n_nodes - 1) / 2) AS LONG) END"""

  /** DuckDB oracle for q222 — the q99 rounds unrolled to three, the
    * identical contingency pair-count identity. */
  def q222OracleSql: String = {
    val rounds = (1 to 3).map { i =>
      s"""c$i AS (SELECT e.dst, l.label, count(*)::BIGINT AS cnt
           FROM edges e JOIN l${i - 1} l ON l.node = e.src
           GROUP BY 1, 2),
         l$i AS (SELECT dst AS node, label FROM (
           SELECT dst, label,
             row_number() OVER (PARTITION BY dst
               ORDER BY cnt DESC, label) AS rn FROM c$i) WHERE rn = 1)"""
    }.mkString(",\n         ")
    s"""WITH clicks AS (SELECT DISTINCT user_id,
           CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k
           FROM events WHERE event_type = 'click'),
         edges AS (SELECT 'u' || user_id AS src, 'i' || k AS dst FROM clicks
                   UNION ALL
                   SELECT 'i' || k, 'u' || user_id FROM clicks),
         l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
         $rounds,
         j AS (SELECT a.node, a.label AS la, b.label AS lb
           FROM l2 a JOIN l3 b ON a.node = b.node),
         sboth AS (SELECT sum(c * (c - 1) // 2)::BIGINT AS s_both FROM (
           SELECT count(*)::BIGINT AS c FROM j GROUP BY la, lb)),
         sa AS (SELECT sum(c * (c - 1) // 2)::BIGINT AS s_a,
             count(*)::BIGINT AS k_a FROM (
           SELECT count(*)::BIGINT AS c FROM j GROUP BY la)),
         sb AS (SELECT sum(c * (c - 1) // 2)::BIGINT AS s_b,
             count(*)::BIGINT AS k_b FROM (
           SELECT count(*)::BIGINT AS c FROM j GROUP BY lb)),
         nn AS (SELECT count(*)::BIGINT AS n_nodes FROM j)
       SELECT n_nodes, k_a AS clusters_r2, k_b AS clusters_r3,
         CASE WHEN n_nodes < 2 THEN 1000000::BIGINT
              ELSE CAST((n_nodes * (n_nodes - 1) // 2 + 2 * s_both
                         - s_a - s_b) * 1000000
                        // (n_nodes * (n_nodes - 1) // 2) AS BIGINT) END
           AS rand_micro
       FROM nn, sboth, sa, sb"""
  }

  /** q230 — NEWMAN MODULARITY [Newman & Girvan, PRE 2004] of the
    * label-propagation communities: did the clustering find real
    * structure? Q = Σ_c [e_c/M − (d_c/M)²] over the symmetrized
    * directed edge list (M = 2·|undirected edges|, e_c = directed
    * within-community edge count, d_c = Σ out-degrees in c) — the
    * quality audit that pairs with q222's stability audit (Rand
    * says "the labeling stopped moving", modularity says "the
    * labeling means something"). Communities are the same 3-round
    * majority-label propagation as q99/q222, so all three audits
    * describe ONE clustering.
    *
    * Numerics: the rational identity Q = (M·Σe_c − Σd_c²) / M² is
    * evaluated ENTIRELY in DECIMAL(38,0) — Σd_c² is summed from
    * decimal squares and the numerator/denominator never pass
    * through int64 (ADVICE r11: `div`-based widening is a mirage,
    * Spark's div always returns BIGINT; the former BIGINT num/den
    * emission capped the audit at M ≈ 3e9 directed edges). What the
    * gate carries is the exact integer micro-ratio
    * `modularity_micro` = floor(Q·1e6) — computed with an explicit
    * sign-split floor (Spark `div` truncates toward zero, DuckDB
    * `//` floors; the CASE keeps both engines on non-negative
    * operands where they agree) — next to the round-6 double ratio
    * and the exact M, Σe_c inputs. Headroom: decimal38 holds
    * |num|·1e6 to M ≈ 1e16 directed edges; every emitted column is
    * int64-safe to M = 9.2e18. Pinned at M = 1e10 (past the old
    * int64 M² wrap) by GraphOpsSpec's large-M pin.
    *
    * Scale shape: label rounds are q99's join+agg+window chain over
    * the persisted edge list (iterative-plan guardrail applies);
    * the modularity pass is ONE edge-keyed double label attach and
    * two tiny aggregates (per-community rollup is bounded by
    * community count) broadcast-crossed into the single audit row. */
  def q230Modularity(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val edges = clickEdges(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
    val w = Window.partitionBy(col("dst"))
      .orderBy(col("cnt").desc, col("label").asc)
    for (_ <- 1 to 3) {
      labels = edges
        .join(labels.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("dst").as("node"), col("label"))
    }
    val lab = labels.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val wc = edges
      .join(lab.select(col("node").as("src"), col("label").as("ca")), Seq("src"))
      .join(lab.select(col("node").as("dst"), col("label").as("cb")), Seq("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tot = wc.agg(
      count(lit(1)).as("m2"),
      sum(when(col("ca") === col("cb"), 1L).otherwise(0L)).as("e_within"))
    val comm = wc.groupBy(col("ca")).agg(count(lit(1)).as("d_c"))
      .agg(sum(expr("CAST(d_c AS DECIMAL(38,0)) * d_c")).as("s_d2"),
           count(lit(1)).as("n_comm"))
    tot.crossJoin(broadcast(comm))
      .withColumn("num", expr("CAST(m2 AS DECIMAL(38,0)) * e_within - s_d2"))
      .withColumn("den", expr("CAST(m2 AS DECIMAL(38,0)) * m2"))
      .select(col("m2"), col("n_comm"), col("e_within"),
              expr(ModularityMicroSql).as("modularity_micro"),
              round(col("num").cast("double") / col("den").cast("double"), 6)
                .as("modularity"))
  }

  /** floor(num·1e6 / den) over DECIMAL(38,0) columns num (either
    * sign) and den (> 0): the sign-split keeps the integral division
    * on non-negative operands, where Spark's truncating `div` equals
    * DuckDB's flooring `//`, so the identical CASE replays in the
    * oracle. Factored out for GraphOpsSpec's large-M pin. */
  private[graft] val ModularityMicroSql: String =
    """CASE WHEN den = 0 THEN 0L
        WHEN num >= 0 THEN CAST(num * 1000000 div den AS LONG)
        ELSE -CAST(((- num) * 1000000 + den - 1) div den AS LONG) END"""

  /** DuckDB oracle for q230 — the q222 label rounds, the identical
    * within-edge and degree-sum rollups, the same rational identity. */
  def q230OracleSql: String = {
    val rounds = (1 to 3).map { i =>
      s"""c$i AS (SELECT e.dst, l.label, count(*)::BIGINT AS cnt
           FROM edges e JOIN l${i - 1} l ON l.node = e.src
           GROUP BY 1, 2),
         l$i AS (SELECT dst AS node, label FROM (
           SELECT dst, label,
             row_number() OVER (PARTITION BY dst
               ORDER BY cnt DESC, label) AS rn FROM c$i) WHERE rn = 1)"""
    }.mkString(",\n         ")
    s"""WITH clicks AS (SELECT DISTINCT user_id,
           CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k
           FROM events WHERE event_type = 'click'),
         edges AS (SELECT 'u' || user_id AS src, 'i' || k AS dst FROM clicks
                   UNION ALL
                   SELECT 'i' || k, 'u' || user_id FROM clicks),
         l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
         $rounds,
         wc AS (SELECT la.label AS ca, lb.label AS cb
           FROM edges e JOIN l3 la ON la.node = e.src
                        JOIN l3 lb ON lb.node = e.dst),
         agg AS (SELECT count(*)::BIGINT AS m2,
           sum(CASE WHEN ca = cb THEN 1 ELSE 0 END)::BIGINT AS e_within
           FROM wc),
         dc AS (SELECT ca, count(*)::BIGINT AS d_c FROM wc GROUP BY ca),
         s2 AS (SELECT sum(CAST(d_c AS HUGEINT) * d_c) AS s_d2,
           count(*)::BIGINT AS n_comm FROM dc),
         nd AS (SELECT m2, n_comm, e_within,
           CAST(m2 AS HUGEINT) * e_within - s_d2 AS num,
           CAST(m2 AS HUGEINT) * m2 AS den
           FROM agg, s2)
       SELECT m2, n_comm, e_within,
         CAST(CASE WHEN den = 0 THEN 0
              WHEN num >= 0 THEN num * 1000000 // den
              ELSE -(((- num) * 1000000 + den - 1) // den) END AS BIGINT)
           AS modularity_micro,
         round(num::DOUBLE / den::DOUBLE, 6) AS modularity
       FROM nd"""
  }

  /** q227 — DEGREE ASSORTATIVITY [Newman, PRL 2002] of the click
    * graph: the Pearson correlation of endpoint degrees over the
    * DIRECTED edge list. Because the edge list carries both
    * directions of every undirected edge, the x- and y-marginals are
    * identical and the coefficient collapses to the EXACT RATIONAL
    * r = (m·Σxy − (Σx)²) / (m·Σx² − (Σx)²) — no sqrt, so the audit
    * row carries the exact integer numerator and denominator next to
    * the 4dp ratio (the division of two exact int64s is a single
    * correctly-rounded IEEE op, identical in both engines; emitting
    * a floor-divided micro instead would diverge on NEGATIVE r —
    * Spark `div` truncates toward zero, DuckDB `//` floors).
    * Negative r says hubs attach to leaves (the typical
    * user–item bipartite shape); positive says hubs cluster.
    *
    * Scale shape: one degree aggregation, two hash joins attaching
    * endpoint degrees to edges, one global 4-sum aggregate —
    * map-side combined, 1 row out. Integer bound: m·Σxy ≤ m²·deg²
    * stays in int64 through m ≈ 1e7 edges at generator-shaped
    * degrees (documented with the q200 family in SCALE.md); past
    * that, widen the three products to DECIMAL(38,0) (the q172
    * move). */
  def q227Assortativity(s: SparkSession, dir: String): DataFrame = {
    val edges = clickEdges(s, dir)
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    edges
      .join(deg.select(col("src"), col("d").as("dx")), Seq("src"))
      .join(deg.select(col("src").as("dst"), col("d").as("dy")), Seq("dst"))
      .agg(count(lit(1)).as("m"),
           sum(col("dx")).as("sx"),
           sum(col("dx") * col("dx")).as("sxx"),
           sum(col("dx") * col("dy")).as("sxy"))
      .select(col("m"),
              (col("m") * col("sxy") - col("sx") * col("sx")).as("num"),
              (col("m") * col("sxx") - col("sx") * col("sx")).as("den"))
      .select(col("m"), col("num"), col("den"),
              when(col("den") === 0, lit(0.0))
                .otherwise(round(col("num").cast("double") /
                                 col("den").cast("double"), 4))
                .as("assortativity"))
  }

  /** DuckDB oracle for q227 — identical degree joins and the same
    * rational identity, sums cast back to BIGINT (q63 lesson). */
  def q227OracleSql: String =
    """WITH c AS (SELECT DISTINCT user_id AS u,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS i
         FROM events WHERE event_type = 'click'),
       e AS (SELECT 'u' || u AS src, 'i' || i AS dst FROM c
             UNION ALL SELECT 'i' || i, 'u' || u FROM c),
       deg AS (SELECT src, count(*)::BIGINT AS d FROM e GROUP BY src),
       j AS (SELECT dx.d AS dx, dy.d AS dy
         FROM e JOIN deg dx ON dx.src = e.src
                JOIN deg dy ON dy.src = e.dst),
       agg AS (SELECT count(*)::BIGINT AS m,
         sum(dx)::BIGINT AS sx, sum(dx * dx)::BIGINT AS sxx,
         sum(dx * dy)::BIGINT AS sxy FROM j)
       SELECT m, CAST(m * sxy - sx * sx AS BIGINT) AS num,
         CAST(m * sxx - sx * sx AS BIGINT) AS den,
         CASE WHEN m * sxx - sx * sx = 0 THEN 0.0
              ELSE round((m * sxy - sx * sx)::DOUBLE
                         / (m * sxx - sx * sx)::DOUBLE, 4) END
           AS assortativity
       FROM agg"""

  private val Q249MaxDeg = 256L

  /** q249 — LINK PREDICTION by the Resource-Allocation index [Zhou,
    * Lü & Zhang, Eur. Phys. J. B 2009; the exact-rational member of
    * the common-neighbor family of Adamic & Adar 2003]: over the
    * undirected co-click item graph (items joined when some user
    * clicked both — the q116 projection), score every NON-edge pair
    * (a, b) by RA(a,b) = Σ_{z ∈ N(a)∩N(b)} 1/deg(z) and emit the
    * top 50 predicted links. Each common neighbor contributes the
    * integer micro-weight 10⁹ div deg(z) (deg ≥ 2 for any common
    * neighbor, so no division by zero) and scores sum as exact
    * int64s — associative under any partitioning, which is what lets
    * DuckDB replay the ranking bit-for-bit where the float 1/log of
    * classic Adamic–Adar could diverge in accumulation order.
    *
    * Scale shape: the edge set comes from per-user click baskets and
    * the wedges z→(a,b) from per-neighbor adjacency arrays, both
    * streamed by the codegen'd LongPairs generator — C(deg(z),2)
    * wedges per node, so HUBS own the quadratic term. The operator
    * applies the standard LP hub suppression: neighbors with
    * deg(z) > maxDeg are excluded from wedge generation BEFORE the
    * expansion (they contribute ≤ 1/maxDeg each and dominate the
    * candidate mass — the exact trade every production LP system
    * makes), bounding wedge count by n·maxDeg²/2 rather than Σdeg².
    * Baskets are uncapped: the generator streams a whale user's
    * pairs in memory linear in the basket, never C(n,2) in one row.
    * Existing edges leave via one left-anti join against the
    * (a < b)-oriented edge list; top-50 is a deterministic global
    * sort on (score desc, pair asc) over the already-aggregated
    * candidate frame. The edge list is not cached: its three readers
    * (both adjacency legs and the anti-join) reuse its one exchange,
    * so `events` is scanned once.
    *
    * Degenerate regime, stated: a CLOSED catalog saturates — once
    * every item pair has been co-clicked (the driver fixture reaches
    * completeness at sf0.1: 4,950/4,950 pairs) there are no
    * non-edges and the prediction set is honestly EMPTY. That is the
    * correct answer, not a failure; the operator's scaling direction
    * is graphs whose node set grows with the data (open catalogs,
    * user graphs — see q251's user-side formulation, which never
    * saturates). */
  def q249LinkPredict(s: SparkSession, dir: String,
                      maxDeg: Long = Q249MaxDeg): DataFrame = {
    // edges and wedges are both array expansions, one exchange each:
    // per-user baskets (collect_set dedups map-side) yield the a<b
    // edge set, and per-neighbor adjacency arrays yield the wedges,
    // with deg(z) = size(ns) (adj is duplicate-free) and the hub cap
    // applied to the array size BEFORE expansion — no deg aggregate,
    // deg join or self-join.
    val clicks = Tables.events(s, dir)
      .filter(col("event_type") === "click")
      .select(col("user_id"),
              get_json_object(col("props"), "$.k").cast("long").as("k"))
    // undirected item projection, oriented a < b (the q116 edge set);
    // null users form no basket (the oracle's self-join never matches them)
    val e = clicks
      .filter(col("user_id").isNotNull)
      .groupBy(col("user_id"))
      .agg(collect_set(col("k")).as("ks"))
      .select(graft.functions.VectorFunctions.longPairs(col("ks")))
      .distinct()
    val adj = e.select(col("a").as("z"), col("b").as("n"))
      .unionByName(e.select(col("b").as("z"), col("a").as("n")))
    // hub suppression: only small-degree common neighbors generate
    // wedges; their per-wedge weight is the exact micro-int 1e9 div d
    // (d = size(ns) > 0, so trunc-vs-floor cannot diverge vs DuckDB)
    val cand = adj.groupBy(col("z"))
      .agg(collect_set(col("n")).as("ns"))
      .filter(size(col("ns")).between(2, maxDeg))
      .select(expr("1000000000L div size(ns)").as("w"),
              graft.functions.VectorFunctions.longPairs(col("ns")))
      .groupBy(col("a"), col("b"))
      .agg(sum(col("w")).as("ra_micro"), count(lit(1)).as("common"))
    cand.join(e, Seq("a", "b"), "left_anti")
      .orderBy(col("ra_micro").desc, col("a"), col("b"))
      .limit(50)
  }

  /** DuckDB oracle for q249 — identical projection, hub-suppressed
    * wedge join, micro-int RA sum, anti-join and top-50. */
  def q249OracleSql: String =
    s"""WITH c AS (SELECT DISTINCT user_id,
         CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k
         FROM events WHERE event_type = 'click'),
       e AS (SELECT DISTINCT x.k AS a, y.k AS b
             FROM c x JOIN c y ON x.user_id = y.user_id AND x.k < y.k),
       adj AS (SELECT a AS z, b AS n FROM e
               UNION ALL SELECT b, a FROM e),
       deg AS (SELECT z, count(*)::BIGINT AS d FROM adj GROUP BY z),
       sz AS (SELECT adj.z, adj.n, 1000000000 // d AS w
              FROM adj JOIN deg ON deg.z = adj.z WHERE d <= $Q249MaxDeg),
       cand AS (SELECT x.n AS a, y.n AS b,
                  sum(x.w)::BIGINT AS ra_micro,
                  count(*)::BIGINT AS common
                FROM sz x JOIN sz y ON x.z = y.z AND x.n < y.n
                GROUP BY 1, 2),
       pred AS (SELECT cand.* FROM cand
                ANTI JOIN e ON e.a = cand.a AND e.b = cand.b)
       SELECT a, b, ra_micro, common FROM pred
       ORDER BY ra_micro DESC, a, b LIMIT 50"""

  private val Q251K = 5
  private val Q251Cohort = 50L

  /** q251 — ITEM-BASED COLLABORATIVE FILTERING [Sarwar, Karypis,
    * Konstan & Riedl, WWW 2001; the workhorse behind "users who
    * clicked X also clicked Y"]: for each user in the scored cohort
    * (user_id < 50, the q26 query-cohort convention), recommend the
    * top-5 items the user has NOT clicked, scored by
    * score(u, i) = Σ_{j ∈ clicked(u)} cooc(j, i), where cooc(j, i)
    * counts the distinct users who clicked BOTH items — the raw
    * co-occurrence form of the item-item similarity matrix, kept as
    * exact int64s so both engines rank identically with no float in
    * the path. This is q249's user-side dual, and unlike the closed-
    * catalog projection it NEVER saturates: new users always have
    * unclicked items to rank.
    *
    * Scale shape — the reason item-based CF (and not user-based) is
    * the industry default: the model is the item-item matrix, whose
    * size is bounded by the CATALOG (≤ items² entries, sparser in
    * practice), not by users. It is computed once — each user's
    * click basket streams its C(basket,2) item pairs through the
    * codegen'd LongPairs generator, map-side-combined into counts —
    * and BROADCAST; scoring is then a broadcast hash join against
    * each cohort user's basket plus one (user, item) aggregation: no
    * shuffle ever carries anything user-quadratic. Baskets are
    * uncapped (the fixture's are ≤ catalog = 100): the generator
    * holds one basket, not its pairs, so a whale user costs time
    * quadratic in its basket but memory linear in it. Top-5 per user
    * rides the bounded [[graft.functions.BottomK]] aggregate:
    * map-side partials, ≤ 5 rows per user cross the shuffle, no
    * per-user window sort (the q26/q43 pattern). */
  def q251ItemCf(s: SparkSession, dir: String): DataFrame = {
    val clicks = Tables.events(s, dir)
      .filter(col("event_type") === "click")
      .select(col("user_id"),
              get_json_object(col("props"), "$.k").cast("long").as("k"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // item-item co-occurrence matrix, from per-user baskets instead
    // of the clicks×clicks self-join (r15, the q249 move): one
    // user-keyed collect_set + the codegen'd LongPairs generator
    // counts each unordered pair once — HALF the pre-aggregation pair
    // stream of the j≠i join — and the matrix is symmetric, so the
    // ordered form is the aggregated frame unioned with its mirror.
    // Values identical: cnt(j,i) = |users who clicked both|.
    // Null users form no basket (the oracle's self-join never matches them).
    val pairCnt = clicks
      .filter(col("user_id").isNotNull)
      .groupBy(col("user_id")).agg(collect_set(col("k")).as("ks"))
      .select(graft.functions.VectorFunctions.longPairs(col("ks")))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("cnt"))
    val cooc = broadcast(
      pairCnt.select(col("a").as("j"), col("b").as("i"), col("cnt"))
        .unionByName(
          pairCnt.select(col("b").as("j"), col("a").as("i"), col("cnt"))))
    val cohortClicks = clicks.filter(col("user_id") < Q251Cohort)
      .toDF("user_id", "j")
    val scored = cohortClicks
      .join(cooc, Seq("j"))
      .groupBy(col("user_id"), col("i"))
      .agg(sum(col("cnt")).as("score"))
      // drop items the user already clicked — only genuine
      // recommendations rank
      .join(clicks.toDF("user_id", "i"), Seq("user_id", "i"), "left_anti")
    scored.groupBy(col("user_id"))
      .agg(bottomK(struct((-col("score")).as("neg"), col("i")), Q251K).as("top"))
      .select(col("user_id"), posexplode(col("top")))
      .select(col("user_id"), col("col.i").as("item"), (-col("col.neg")).as("score"),
              (col("pos") + 1).as("rn"))
      .orderBy(col("user_id"), col("rn"))
  }

  /** DuckDB oracle for q251 — same co-occurrence matrix, cohort
    * scoring, clicked-item anti-join, and (score DESC, item) top-5. */
  def q251OracleSql: String =
    s"""WITH c AS (SELECT DISTINCT user_id,
         CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k
         FROM events WHERE event_type = 'click'),
       cooc AS (SELECT x.k AS j, y.k AS i, count(*)::BIGINT AS cnt
                FROM c x JOIN c y
                  ON x.user_id = y.user_id AND x.k <> y.k
                GROUP BY 1, 2),
       sc AS (SELECT b.user_id, m.i, sum(m.cnt)::BIGINT AS score
              FROM c b JOIN cooc m ON m.j = b.k
              WHERE b.user_id < $Q251Cohort
              GROUP BY 1, 2),
       fresh AS (SELECT sc.* FROM sc
                 ANTI JOIN c ON c.user_id = sc.user_id AND c.k = sc.i),
       r AS (SELECT user_id, i AS item, score,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY score DESC, i) AS rn
             FROM fresh)
       SELECT user_id, item, score, rn FROM r
       WHERE rn <= $Q251K ORDER BY user_id, rn"""
}
