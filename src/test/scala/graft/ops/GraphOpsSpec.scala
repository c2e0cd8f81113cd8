package graft.ops

import graft.SparkSpec
import java.sql.Timestamp
import org.apache.spark.sql.functions._

/** q82's fixed-point PageRank on a hand-computable 4-node graph:
  * u1—i1, u2—i1, u2—i2 (bidirectional). Every round is pure integer
  * arithmetic, so the expected ranks are exact, not approximate.
  */
class GraphOpsSpec extends SparkSpec {
  import spark.implicits._

  test("q82 fixed-point PageRank matches the hand-unrolled rounds") {
    val tmp = java.nio.file.Files.createTempDirectory("pr").toString
    val t0 = Timestamp.valueOf("2024-01-01 10:00:00")
    Seq(
      (1L, 1L, t0, "click", 1.0, """{"k": 1}"""),
      (2L, 2L, t0, "click", 1.0, """{"k": 1}"""),
      (3L, 2L, t0, "click", 1.0, """{"k": 2}"""),
      (4L, 2L, t0, "click", 1.0, """{"k": 2}"""),  // dup edge: dropped by distinct
      (5L, 1L, t0, "view",  1.0, """{"k": 9}""")   // non-click: ignored
    ).toDF("event_id", "user_id", "ts", "event_type", "value", "props")
      .withColumn("ts", expr("CAST(unix_micros(ts) * 1000 AS LONG)"))
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val got = GraphOps.q82PageRank(spark, tmp)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // hand-unrolled: deg u1=1 u2=2 i1=2 i2=1, r0=1e6 each;
    // r1 = (1425000, 575000) hub/leaf; r2 = (1244375, 755625);
    // r3: hub in-sum 1377812 -> 1321140, leaf in-sum 622187 -> 678858
    assert(got == Map("u1" -> 678858L, "u2" -> 1321140L,
                      "i1" -> 1321140L, "i2" -> 678858L))
    // fixed-point conservation sanity: symmetric nodes tie exactly
    assert(got("u1") == got("i2") && got("u2") == got("i1"))
  }

  test("q99 label propagation converges per component, min label wins ties") {
    val tmp = java.nio.file.Files.createTempDirectory("lp").toString
    val t0 = Timestamp.valueOf("2024-01-01 10:00:00")
    Seq(
      // component A: u1-i1, u2-i1 (star on i1)
      (1L, 1L, t0, "click", 1.0, """{"k": 1}"""),
      (2L, 2L, t0, "click", 1.0, """{"k": 1}"""),
      // component B: u3-i2 (isolated pair)
      (3L, 3L, t0, "click", 1.0, """{"k": 2}""")
    ).toDF("event_id", "user_id", "ts", "event_type", "value", "props")
      .withColumn("ts", expr("CAST(unix_micros(ts) * 1000 AS LONG)"))
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val got = GraphOps.q99LabelProp(spark, tmp)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // hand-unrolled sync rounds, neighbors-only update, min-label ties:
    // A: l1 = {u1->i1, u2->i1, i1->u1}; l2 = {u1->u1, u2->u1, i1->i1};
    //    l3 = {u1->i1, u2->i1, i1->u1} (2-cycle of the bipartite star)
    // B: u3<->i2 swap every round; after 3 rounds u3->i2, i2->u3
    assert(got == Map("u1" -> "i1", "u2" -> "i1", "i1" -> "u1",
                      "u3" -> "i2", "i2" -> "u3"))
    // labels never cross components
    assert(Set("u1", "u2", "i1").flatMap(got.get) == Set("i1", "u1"))
    assert(Set("u3", "i2").flatMap(got.get) == Set("i2", "u3"))
  }

  test("q126 weighted ranks favor the heavy edge, hand-unrolled") {
    val tmp = java.nio.file.Files.createTempDirectory("wpr").toString
    val t0 = Timestamp.valueOf("2024-01-01 10:00:00")
    // u1 clicks i1 three times, u2 once: weights 3 and 1
    Seq(
      (1L, 1L, t0, "click", 1.0, """{"k": 1}"""),
      (2L, 1L, t0, "click", 1.0, """{"k": 1}"""),
      (3L, 1L, t0, "click", 1.0, """{"k": 1}"""),
      (4L, 2L, t0, "click", 1.0, """{"k": 1}""")
    ).toDF("event_id", "user_id", "ts", "event_type", "value", "props")
      .withColumn("ts", expr("CAST(unix_micros(ts) * 1000 AS LONG)"))
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val got = GraphOps.q126WeightedPageRank(spark, tmp)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // hand-unrolled 3 rounds (see derivation in the suite history):
    // i1 splits 3/4 of its rank to u1, 1/4 to u2
    assert(got == Map("u1" -> 868781L, "u2" -> 389593L, "i1" -> 1741625L),
      s"got $got")
    assert(got("u1") > got("u2"), "heavy edge must attract more rank")
  }

  test("q116 finds each co-click triangle once, per corner") {
    val tmp = java.nio.file.Files.createTempDirectory("tri").toString
    val t0 = Timestamp.valueOf("2024-01-01 10:00:00")
    Seq(
      // user 1 clicks items 1,2,3 -> projected triangle (1,2,3)
      (1L, 1L, t0, "click", 1.0, """{"k": 1}"""),
      (2L, 1L, t0, "click", 1.0, """{"k": 2}"""),
      (3L, 1L, t0, "click", 1.0, """{"k": 3}"""),
      // user 2 clicks 3,4 -> edge (3,4) closes nothing
      (4L, 2L, t0, "click", 1.0, """{"k": 3}"""),
      (5L, 2L, t0, "click", 1.0, """{"k": 4}""")
    ).toDF("event_id", "user_id", "ts", "event_type", "value", "props")
      .withColumn("ts", expr("CAST(unix_micros(ts) * 1000 AS LONG)"))
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val got = GraphOps.q116Triangles(spark, tmp)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }
  test("q157 BFS distances on a hand-built transition graph") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("bfs").toString
    def ts(m: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $m:00")
    // user 7 clicks 0->1->2; user 8 clicks 2->5; user 9 clicks 9->0.
    // From seed 0: {0:0, 1:1, 2:2, 5:3}; 9 unreachable (edge points in).
    Seq(
      (1L, 7L, ts("10:00"), "click", 1.0, """{"k": 0}"""),
      (2L, 7L, ts("10:01"), "click", 1.0, """{"k": 1}"""),
      (3L, 7L, ts("10:02"), "click", 1.0, """{"k": 2}"""),
      (4L, 8L, ts("11:00"), "click", 1.0, """{"k": 2}"""),
      (5L, 8L, ts("11:01"), "click", 1.0, """{"k": 5}"""),
      (6L, 9L, ts("12:00"), "click", 1.0, """{"k": 9}"""),
      (7L, 9L, ts("12:01"), "click", 1.0, """{"k": 0}"""),
      (8L, 7L, ts("13:00"), "view", 1.0, """{"k": 3}""")  // non-click: no edge
    ).toDF("event_id", "user_id", "ts", "event_type", "value", "props")
      .withColumn("ts", expr("CAST(unix_micros(ts) * 1000 AS LONG)"))
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val got = GraphOps.q157KHopBfs(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 5L -> 3L), s"got $got")
  }

  test("q209 HITS matches the hand-unrolled L-inf rounds") {
    val tmp = java.nio.file.Files.createTempDirectory("hits").toString
    val t0 = Timestamp.valueOf("2024-01-01 10:00:00")
    // u1 -> {i1, i2}, u2 -> {i1}:
    //   r1: a=(1e6, 500000)          h=(1e6, 666666)
    //   r2: a=(1e6, 600000)          h=(1e6, 625000)
    //   r3: a=(1e6, 615384)          h=(1e6, 619047)
    Seq(
      (1L, 1L, t0, "click", 1.0, """{"k": 1}"""),
      (2L, 1L, t0, "click", 1.0, """{"k": 2}"""),
      (3L, 2L, t0, "click", 1.0, """{"k": 1}"""),
      (4L, 2L, t0, "view",  1.0, """{"k": 7}""")   // non-click: ignored
    ).toDF("event_id", "user_id", "ts", "event_type", "value", "props")
      .withColumn("ts", expr("CAST(unix_micros(ts) * 1000 AS LONG)"))
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val got = GraphOps.q209Hits(spark, tmp).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == Map(
      ("i1", "authority") -> 1000000L, ("i2", "authority") -> 615384L,
      ("u1", "hub") -> 1000000L, ("u2", "hub") -> 619047L), s"got $got")
    spark.catalog.clearCache()
  }
  test("q215 k-core peels the star periphery and keeps the dense core") {
    val tmp = java.nio.file.Files.createTempDirectory("kcore").toString
    val t0 = Timestamp.valueOf("2024-01-01 10:00:00")
    // Bipartite clique K3,3 (u1..u3 x i1..i3): every node degree 3 —
    // the 3-core. u9 clicks only i1 (degree 1): peeled in round 1,
    // dropping i1 to... i1 keeps degree 3 from the clique (+1 from u9
    // pre-peel). So round 1 removes exactly u9 and its 2 directed
    // edges; rounds 2..4 are stable at the clique.
    val clique = for (u <- 1L to 3L; i <- 1L to 3L) yield (u, i)
    val rows = (clique :+ ((9L, 1L))).zipWithIndex.map { case ((u, i), n) =>
      (n.toLong, u, t0, "click", 1.0, s"""{"k": $i}""")
    }
    rows.toDF("event_id", "user_id", "ts", "event_type", "value", "props")
      .withColumn("ts", expr("CAST(unix_micros(ts) * 1000 AS LONG)"))
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val got = GraphOps.q215KCore(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // K3,3: 6 nodes, 9 undirected = 18 directed edges
    assert(got.toSeq == Seq((1L, 6L, 18L), (2L, 6L, 18L),
                            (3L, 6L, 18L), (4L, 6L, 18L)), s"got ${got.mkString(", ")}")
  }

  test("q215 fully peels a graph below the core threshold") {
    val tmp = java.nio.file.Files.createTempDirectory("kcore0").toString
    val t0 = Timestamp.valueOf("2024-01-01 10:00:00")
    // path u1-i1-u2-i2: all degrees <= 2 < 3 -> empty after round 1
    Seq(
      (1L, 1L, t0, "click", 1.0, """{"k": 1}"""),
      (2L, 2L, t0, "click", 1.0, """{"k": 1}"""),
      (3L, 2L, t0, "click", 1.0, """{"k": 2}""")
    ).toDF("event_id", "user_id", "ts", "event_type", "value", "props")
      .withColumn("ts", expr("CAST(unix_micros(ts) * 1000 AS LONG)"))
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val got = GraphOps.q215KCore(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, 0L, 0L), (2L, 0L, 0L),
                            (3L, 0L, 0L), (4L, 0L, 0L)), s"got ${got.mkString(", ")}")
  }
  test("q222 Rand index matches a driver-side pair-count recomputation") {
    val la = GraphOps.q99LabelProp(spark, sf0001, iters = 2).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val lb = GraphOps.q99LabelProp(spark, sf0001, iters = 3).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(la.keySet == lb.keySet)
    val nodes = la.keySet.toSeq.sorted
    var agree = 0L; var total = 0L
    for (i <- nodes.indices; j <- (i + 1) until nodes.length) {
      val sameA = la(nodes(i)) == la(nodes(j))
      val sameB = lb(nodes(i)) == lb(nodes(j))
      if (sameA == sameB) agree += 1
      total += 1
    }
    val want = agree * 1000000L / total
    val got = GraphOps.q222RandStability(spark, sf0001).collect().head
    assert(got.getLong(0) == nodes.length.toLong)
    assert(got.getLong(3) == want,
      s"rand ${got.getLong(3)} != recomputed $want")
    spark.catalog.clearCache()
  }
  test("q227 assortativity matches a driver-side recomputation and is disassortative") {
    val edges = {
      import org.apache.spark.sql.functions._
      graft.Tables.events(spark, sf0001)
        .filter(col("event_type") === "click")
        .select(col("user_id"),
                get_json_object(col("props"), "$.k").cast("long").as("k"))
        .distinct().collect()
        .flatMap(r => Seq((s"u${r.getLong(0)}", s"i${r.getLong(1)}"),
                          (s"i${r.getLong(1)}", s"u${r.getLong(0)}")))
    }
    val deg = edges.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val m = edges.length.toLong
    var sx = 0L; var sxx = 0L; var sxy = 0L
    edges.foreach { case (a, b) =>
      val dx = deg(a); val dy = deg(b)
      sx += dx; sxx += dx * dx; sxy += dx * dy
    }
    val num = m * sxy - sx * sx
    val den = m * sxx - sx * sx
    val got = GraphOps.q227Assortativity(spark, sf0001).collect().head
    assert(got.getLong(0) == m && got.getLong(1) == num && got.getLong(2) == den,
      s"sums diverge: got (${got.getLong(0)}, ${got.getLong(1)}, ${got.getLong(2)})" +
        s" want ($m, $num, $den)")
    val want = BigDecimal(num.toDouble / den.toDouble)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(got.getDouble(3) - want) < 5e-4)
    // user-item bipartite graphs are hub-to-leaf: strongly negative
    assert(got.getDouble(3) < 0, s"expected disassortative, got ${got.getDouble(3)}")
    spark.catalog.clearCache()
  }

  test("q230 modularity: exact rational on two planted bicliques") {
    val tmp = java.nio.file.Files.createTempDirectory("mod").toString
    val t0 = Timestamp.valueOf("2024-01-01 10:00:00")
    // two disjoint K3,3 bicliques: users 1-3 x items 1-3, users
    // 11-13 x items 11-13. 3-round label prop OSCILLATES on a
    // biclique (u-side takes the min item label, i-side the min user
    // label), so the final partition is the four SIDES: e_within = 0,
    // four communities of directed degree 9 each.
    //   m2 = 36, s_d2 = 4*81 = 324
    //   num = 36*0 - 324 = -324, den = 1296, Q = -0.25 exactly
    val rows = for {
      (uBase, iBase) <- Seq((1L, 1L), (11L, 11L))
      u <- 0L to 2L; i <- 0L to 2L
    } yield ((uBase + u) * 100 + iBase + i, uBase + u, t0, "click", 1.0,
             s"""{"k": ${iBase + i}}""")
    rows.toDF("event_id", "user_id", "ts", "event_type", "value", "props")
      .withColumn("ts", expr("CAST(unix_micros(ts) * 1000 AS LONG)"))
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val got = GraphOps.q230Modularity(spark, tmp).collect().head
    assert(got.getLong(0) == 36L, s"m2 ${got.getLong(0)}")
    assert(got.getLong(1) == 4L, s"n_comm ${got.getLong(1)}")
    assert(got.getLong(2) == 0L, s"e_within ${got.getLong(2)}")
    // floor(−324·1e6 / 1296) = −250000 exactly
    assert(got.getLong(3) == -250000L, s"micro ${got.getLong(3)}")
    assert(got.getDouble(4) == -0.25)
    spark.catalog.clearCache()
  }

  test("q222/q230 micro expressions survive far past int64 (ADVICE r11 pin)") {
    import spark.implicits._
    // q222 at n = 2e10 nodes (C(n,2) ≈ 2e20, ×1e6 ≈ 2e26 — int64
    // died at ~4.2e6 nodes under the old div-narrowed recipe):
    // perfect agreement (s_both = s_a = s_b = C(n,2)/2 planted as
    // exact decimals) must read exactly 1e6, half agreement 5e5.
    val n = 20000000000L
    val r222 = Seq(n).toDF("n_nodes")
      .withColumn("s_both", expr("CAST(n_nodes AS DECIMAL(38,0)) * (n_nodes - 1) / 4"))
      .withColumn("s_a", col("s_both") * 2)
      .withColumn("s_b", expr("CAST(0 AS DECIMAL(38,6))"))
      .select(expr(GraphOps.RandMicroSql).as("micro"))
      .collect().head.getLong(0)
    // num = C(n,2) + 2·C/2 − 2·(C/2) − 0 ... = C(n,2) → exactly 1e6
    assert(r222 == 1000000L, s"q222 large-n micro $r222")
    // q230 at M = 1e10 directed edges (M² = 1e20 — the old BIGINT
    // den wrapped at M ≈ 3e9): e_within = M/2, s_d2 = M²/4 gives
    // Q = 1/2 − 1/4 = 0.25 exactly; and a NEGATIVE case exercising
    // the sign-split floor: e_within = 0, s_d2 = M²/4 → −250000.
    val m2 = 10000000000L
    val r230 = Seq((m2, m2 / 2), (m2, 0L)).toDF("m2", "e_within")
      .withColumn("s_d2", expr("CAST(m2 AS DECIMAL(38,0)) * m2 / 4"))
      .withColumn("num", expr("CAST(m2 AS DECIMAL(38,0)) * e_within - s_d2"))
      .withColumn("den", expr("CAST(m2 AS DECIMAL(38,0)) * m2"))
      .select(col("e_within"), expr(GraphOps.ModularityMicroSql).as("micro"))
      .orderBy(col("e_within").desc)
      .collect()
    assert(r230(0).getLong(1) == 250000L, s"q230 large-M micro ${r230(0)}")
    assert(r230(1).getLong(1) == -250000L, s"q230 negative floor ${r230(1)}")
  }

  test("q249 RA link prediction on a planted path; hub suppression " +
       "empties the wedge set at maxDeg 1") {
    val tmp = java.nio.file.Files.createTempDirectory("lp").toString
    val t0 = Timestamp.valueOf("2024-01-01 10:00:00")
    // path 1—2—3 via two users: co-click edges (1,2) and (2,3). The
    // only wedge is through z = 2 (deg 2), so the one predicted link
    // is (1,3) with RA = 1e9 div 2 = 500000000 and 1 common neighbor.
    Seq(
      (1L, 1L, t0, "click", 1.0, """{"k": 1}"""),
      (2L, 1L, t0, "click", 1.0, """{"k": 2}"""),
      (3L, 2L, t0, "click", 1.0, """{"k": 2}"""),
      (4L, 2L, t0, "click", 1.0, """{"k": 3}""")
    ).toDF("event_id", "user_id", "ts", "event_type", "value", "props")
      .withColumn("ts", expr("CAST(unix_micros(ts) * 1000 AS LONG)"))
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val got = GraphOps.q249LinkPredict(spark, tmp).collect()
    assert(got.length == 1, s"expected exactly the (1,3) prediction, got ${got.toSeq}")
    assert(got.head.getLong(0) == 1L && got.head.getLong(1) == 3L)
    assert(got.head.getLong(2) == 500000000L, s"RA micro ${got.head}")
    assert(got.head.getLong(3) == 1L, s"common neighbors ${got.head}")
    // maxDeg = 1 suppresses z = 2 (deg 2): no wedges, no predictions
    assert(GraphOps.q249LinkPredict(spark, tmp, maxDeg = 1L).collect().isEmpty)
    spark.catalog.clearCache()
  }

  test("q251 item CF recommends by summed co-occurrence and never " +
       "re-recommends a clicked item") {
    val tmp = java.nio.file.Files.createTempDirectory("cf").toString
    val t0 = Timestamp.valueOf("2024-01-01 10:00:00")
    // cohort users 0{1} 1{2} 2{1,2}; background users 100,101{1,2},
    // 102{2,3}. cooc(1,2) = |{2,100,101}| = 3, cooc(2,3) = |{102}| = 1.
    //   u0: j=1 -> i=2 score 3                       -> (0,2,3,1)
    //   u1: j=2 -> i=1 score 3, i=3 score 1          -> (1,1,3,1),(1,3,1,2)
    //   u2: i=1, i=2 both clicked (anti-join), i=3 1 -> (2,3,1,1)
    val rows = Seq(
      (0L, 1L), (1L, 2L), (2L, 1L), (2L, 2L),
      (100L, 1L), (100L, 2L), (101L, 1L), (101L, 2L),
      (102L, 2L), (102L, 3L))
    rows.zipWithIndex.map { case ((u, k), i) =>
      (i.toLong, u, t0, "click", 1.0, s"""{"k": $k}""") }
      .toDF("event_id", "user_id", "ts", "event_type", "value", "props")
      .withColumn("ts", expr("CAST(unix_micros(ts) * 1000 AS LONG)"))
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val got = GraphOps.q251ItemCf(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(got.toSeq == Seq((0L, 2L, 3L, 1), (1L, 1L, 3L, 1),
                            (1L, 3L, 1L, 2), (2L, 3L, 1L, 1)),
      s"got ${got.toSeq}")
    spark.catalog.clearCache()
  }

  test("q249/q251: a null-user click contributes no pair") {
    // the q249 planted path 1—2—3 and the q251 cohort, plus a null
    // user clicking items 1 and 3: as a basket it would add the edge
    // (1,3) — erasing q249's one prediction — and cooc(1,3) = 1,
    // giving cohort user 0 a second recommendation
    val tmp = java.nio.file.Files.createTempDirectory("nulluser").toString
    val t0 = Timestamp.valueOf("2024-01-01 10:00:00")
    val clicks: Seq[(Option[Long], Long)] = Seq(
      (Some(0L), 1L), (Some(1L), 2L), (Some(1L), 3L),
      (Some(100L), 1L), (Some(100L), 2L), (Some(101L), 2L), (Some(101L), 3L),
      (None, 1L), (None, 3L))
    clicks.zipWithIndex.map { case ((u, k), i) =>
      (i.toLong, u, t0, "click", 1.0, s"""{"k": $k}""") }
      .toDF("event_id", "user_id", "ts", "event_type", "value", "props")
      .withColumn("ts", expr("CAST(unix_micros(ts) * 1000 AS LONG)"))
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val lp = GraphOps.q249LinkPredict(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(lp.toSeq == Seq((1L, 3L)), s"q249 predictions ${lp.toSeq}")
    // cooc(1,2) = 1 (user 100), cooc(2,3) = 2 (users 1, 101)
    val cf = GraphOps.q251ItemCf(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(cf.toSeq == Seq((0L, 2L, 1L, 1), (1L, 1L, 1L, 1)), s"q251 ${cf.toSeq}")
    spark.catalog.clearCache()
  }
}
